package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.Tap
import graft.config.{ConfigParser, TapConfig}
import graft.sinks.SingerSink
import graft.sources.StreamSource
import graft.state.{Bookmarks, TapState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark JVM. `perfbench/run.py` generates the inputs of one run (tap
  * config, watermarks, JDBC deltas) and starts this with
  * `--inputs <inputs.json>`; it writes raw observations to the result
  * path named there. Checking them against the DuckDB oracle and turning
  * them into metrics is left to `run.py`.
  *
  * A run: set up `setups` times (session, the fixture views its native
  * streams read, Derby load) and keep each time, then one cold pass, then
  * warm-up passes, then timed passes. A pass is one `Tap.syncAll`. With
  * `trace` on, every other timed pass runs with a job listener and is
  * followed by the floor measurements of each layer.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 && args(0) == "--inputs", "usage: --inputs <file>")
    val in = new ObjectMapper().readTree(Files.readString(Paths.get(args(1))))
    val harness = new Harness(in)
    val code =
      try { harness.run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally harness.close()
    sys.exit(code)
  }
}

final class Harness(in: com.fasterxml.jackson.databind.JsonNode) {
  private val mapper = new ObjectMapper()
  private val workload = in.get("workload").asText
  private val cores = in.get("cores").asInt
  private val seconds = in.get("seconds").asDouble
  private val traced = in.get("trace").asBoolean
  private val dataDir = in.get("data_dir").asText
  private val workDir = Paths.get(in.get("work_dir").asText)
  private val statePath = workDir.resolve("state.json")
  private val batchRoot = workDir.resolve("batch")
  private val tap: TapConfig =
    ConfigParser.parseTap(Files.readString(Paths.get(in.get("tap_config").asText)))
  ConfigParser.validate(tap)
  private val recordMode = tap.batchConfig.isEmpty
  private val derby = Option(in.get("derby")).map(d => new Derby(
    tap.resolvedJdbcUrl, d.get("orders").asText, d.get("deltas").asText))
  private val keyField = derby.map(_ => "o_orderkey")

  private val trace = new Trace
  private val listener = new JobListener
  private val capture = new Capture(if (workload == "sync_singer") 256 << 20 else 1 << 20)
  private var spark: SparkSession = _
  private val result = mapper.createObjectNode()

  def run(): Unit = {
    result.put("workload", workload).put("seed", in.get("seed").asLong)
    val setups = result.putArray("setup_s")
    val phases = result.putArray("setup_phases")
    (0 until in.get("setups").asInt).foreach { i =>
      val t0 = System.nanoTime()
      val p = phases.addObject()
      trace.span(s"setup $i")(setUp()).foreach { case (k, v) => p.put(k, v) }
      val secs =
        if (i == 0) (System.currentTimeMillis() -
          java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
        else (System.nanoTime() - t0) / 1e9
      setups.add(secs)
    }
    derby.foreach(_.loadDeltas(spark))
    Harness.heapLiveMb() // the cold pass starts on a clean heap too

    result.set[ObjectNode]("first_pass", pass(0, tracing = false))
    // Warm-up: the passes of the first `warmup_seconds` after the cold one
    // (at least one) still speed up as the JIT compiles; they are checked
    // but not timed into the metrics. Then timed passes run until they have
    // taken `seconds`; the checks between passes do not count. With tracing
    // on, untraced and traced passes alternate, so drift falls on both
    // alike and their difference is the overhead.
    var i = 1
    def more = derby.forall(_.hasDelta(i))
    def step(into: ArrayNode, tracing: Boolean): Double = {
      val obs = pass(i, tracing)
      into.add(obs); i += 1
      obs.get("wall_s").asDouble
    }
    val warmup = result.putArray("warmup_passes")
    var warming = 0.0
    while ((warmup.size < 1 || warming < in.get("warmup_seconds").asDouble) && more)
      warming += step(warmup, tracing = false)
    val timed = result.putArray("passes")
    val tracedPasses = result.putArray("traced_passes")
    var measured = 0.0
    while ((timed.size < 1 || (traced && tracedPasses.size < 1) || measured < seconds) && more) {
      val tracing = traced && tracedPasses.size < timed.size
      measured += step(if (tracing) tracedPasses else timed, tracing)
    }
    if (traced) trace.write(Paths.get(in.get("spans").asText))
    result.put("heap_live_end_mb", Harness.heapLiveMb())
    result.put("rss_peak_mb", Harness.vmHwmMb())
    mapper.writeValue(Paths.get(in.get("result").asText).toFile, result)
  }

  def close(): Unit = {
    if (spark != null) spark.stop()
    derby.foreach(_.drop())
    Harness.deleteTree(batchRoot)
  }

  /** Stop the previous session, then build the session as `graft.Main`
    * does, register the fixture views, load Derby and run one trivial
    * action. Returns the seconds each phase took.
    */
  private def setUp(): Seq[(String, Double)] = {
    def phase(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      trace.span(name)(body)
      name -> (System.nanoTime() - t0) / 1e9
    }
    Seq(
      phase("stop")(if (spark != null) spark.stop()),
      phase("session") {
        spark = SparkSession.builder()
          .master(s"local[$cores]")
          .appName("graft-tap")
          .config("spark.sql.shuffle.partitions", "32")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", workDir.resolve("spark-local").toString)
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
      },
      phase("views")(in.get("views").forEach { t =>
        graft.Tables.read(spark, dataDir, t.asText).createOrReplaceTempView(t.asText)
      }),
      phase("derby")(derby.foreach(_.reload())),
      phase("warm")(spark.range(1000).selectExpr("sum(id)").collect()))
  }

  /** One sync, its checks, and (when tracing) its layer split. */
  private def pass(i: Int, tracing: Boolean): ObjectNode = {
    val obs = mapper.createObjectNode().put("index", i)
    derby.foreach { d =>
      val t0 = System.nanoTime()
      d.insertDelta(i)
      obs.put("insert_ms", (System.nanoTime() - t0) / 1e6)
    }
    val stateBefore = Bookmarks.load(statePath.toString)
    Harness.deleteTree(batchRoot)
    Files.createDirectories(batchRoot)
    if (tracing) {
      listener.reset()
      spark.sparkContext.addSparkListener(listener)
    }
    capture.reset(trackGaps = tracing)
    val t0 = System.nanoTime()
    val (results, _) = trace.span(s"pass $i") {
      trace.span("tap.syncAll") {
        Tap.syncAll(spark, tap, derby.map(_ => statePath.toString), capture.printer)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    obs.put("wall_s", wall)
      .put("first_output_s", capture.firstOutputSeconds)
      .put("max_gap_ms", capture.maxGapMs)
      .put("returned_records", results.map(_.records).filter(_ >= 0).sum)
    val lines = capture.parse(cores, keyField)
    obs.put("lines", lines.lines).put("bad_lines", lines.bad)
      .put("record_lines", lines.records).put("state_lines", lines.states)
    val bm = obs.putObject("bookmarks")
    lines.bookmarks.foreach { case (k, v) => bm.put(k, v) }
    keyField.foreach { _ =>
      val k = lines.keys
      obs.putObject("keys").put("count", k.count).put("distinct", k.seen.size)
        .put("min", k.min).put("max", k.max).put("sum", k.sum)
    }
    if (recordMode) obs.put("records", lines.records).put("bytes", capture.bytes)
    else BatchCheck(batchRoot, lines.manifests, cores, obs)
    if (tracing) {
      Harness.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
      val parent = trace.spans.lastIndexWhere(_.name == s"pass $i")
      val jobs = obs.putArray("jobs")
      listener.jobs.values.foreach { j =>
        trace.add(s"job ${j.id} ${j.module}: ${j.site}", j.startMs, j.endMs, parent)
        jobs.addObject().put("module", j.module).put("site", j.site)
          .put("pool", j.pool).put("ms", j.ms)
      }
      obs.set[ObjectNode]("layers", layers(obs, wall, stateBefore))
    }
    Harness.deleteTree(batchRoot)
    // a full collection costs 0.1-0.3 s: worth it, for a clean heap in the
    // next pass, only after a pass long enough to leave much garbage
    if (wall >= 1.0) obs.put("heap_live_mb", Harness.heapLiveMb())
    obs
  }

  /** Layer metrics of the pass just run: attributed jobs from the
    * listener, then floors measured from outside, one layer at a time.
    */
  private def layers(obs: ObjectNode, wall: Double,
                     stateBefore: TapState): ObjectNode = {
    val l = mapper.createObjectNode()
    val jobs = listener.jobs.values.toSeq
    JobListener.Modules.foreach { m =>
      val js = jobs.filter(_.module == m)
      l.put(s"$m.jobs", js.size).put(s"$m.stages", js.map(_.stages).sum)
        .put(s"$m.task_ms", js.map(_.taskMs).sum).put(s"$m.gc_ms", js.map(_.gcMs).sum)
        .put(s"$m.shuffle_mb", js.map(_.shuffleBytes).sum / 1e6)
        .put(s"$m.spill_mb", js.map(_.spillBytes).sum / 1e6)
    }
    val sinkJobs = jobs.filter(_.module == "sinks")
    l.put("tap.jobs_concurrent_max", listener.concurrentMax)
      .put("tap.bytes_per_s", obs.get("bytes").asDouble / wall)
      .put("state.readback_ms",
        jobs.filter(_.site.contains("Tap.scala")).map(_.ms).sum.toDouble)
      .put("source_db.insert_ms", Option(obs.get("insert_ms")).map(_.asDouble).getOrElse(0.0))
    if (recordMode) {
      l.put("sinks.singer.jobs", sinkJobs.size)
        .put("sinks.singer.gap_max_ms", obs.get("max_gap_ms").asDouble)
        .put("sinks.singer.state_msgs", obs.get("state_lines").asLong)
    } else {
      val perStream = sinkJobs.groupBy(_.pool).values
        .map(js => (js.map(_.endMs).max - js.map(_.startMs).min).toDouble).toSeq
      val tasks = sinkJobs.flatMap(_.taskDurations).sorted
      l.put("sinks.batch.write_ms_sum", perStream.sum)
        .put("sinks.batch.write_ms_max", perStream.max)
        .put("sinks.batch.files", obs.get("files").asLong)
        .put("sinks.batch.bytes", obs.get("bytes").asLong)
        .put("sinks.batch.task_skew",
          if (tasks.isEmpty) 0.0 else tasks.last.toDouble / math.max(1L, tasks(tasks.size / 2)))
    }

    trace.span("floors") {
      var plan, scan, encode, emit = 0.0
      var partitions = 0
      tap.streams.foreach { s =>
        val (df, planMs) = timed("sources.execute")(
          StreamSource.execute(spark, tap, s, stateBefore))
        plan += planMs
        partitions += df.rdd.getNumPartitions
        val scanned = timed("sources.scan")(noop(df))._2
        scan += scanned
        if (recordMode) {
          val encoded = timed("operators.encode")(noop(Harness.singerProjection(df, s)))._2
          encode += encoded - scanned
          capture.reset(trackGaps = false)
          emit += timed("sinks.emitRecords")(
            SingerSink.emitRecords(df, s, capture.printer))._2
        }
      }
      l.put("sources.plan_ms", plan).put("sources.scan_ms", scan)
        .put("sources.rows", obs.get("records").asLong)
        .put("sources.partitions", partitions)
      if (recordMode)
        l.put("operators.encode_ms", encode).put("sinks.singer.emit_ms", emit)
          .put("sinks.singer.driver_ms", emit - encode - scan)
    }
    val saves = (0 until 5).map { _ =>
      timed("state.save")(Bookmarks.save(workDir.resolve("save-probe.json").toString,
        stateBefore.advanced("probe", "1"), tap.streams))._2
    }.sorted
    l.put("state.save_ms", saves(saves.size / 2))
    l
  }

  private def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = trace.span(name)(body)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Harness {
  /** The projection `SingerSink.emitRecords` runs: the JSON line plus the
    * replication key, natively and as a string.
    */
  def singerProjection(df: DataFrame, s: graft.config.StreamConfig): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val j = to_json(struct(graft.operators.Conformance.temporalExprs(df): _*),
      java.util.Map.of("ignoreNullFields", "false")).as("j")
    s.replicationKey match {
      case Some(k) => df.select(j, col(k).as("rk"), col(k).cast("string").as("rks"))
      case None => df.select(j)
    }
  }

  /** Heap still in use after a full collection, in MB. Collecting
    * between passes also starts the next pass on a clean heap, as the one
    * sync of a `graft.Main` process does.
    */
  def heapLiveMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  def drainListenerBus(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
