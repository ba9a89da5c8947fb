package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval. `parent` is the index of the enclosing span in
  * [[Trace.spans]], or -1.
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Benchmark-side tracing: spans around the calls the benchmark makes into
  * the program, and a `SparkListener` that attributes every Spark job to
  * the program module whose code submitted it.
  *
  * Spans stay in memory and are written out once, when the run ends.
  */
final class Trace {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Time `body` as a span nested in the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val idx = spans.size
    spans += Span(name, System.nanoTime(), 0L, open.headOption.getOrElse(-1))
    open = idx :: open
    try body
    finally {
      open = open.tail
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
    }
  }

  /** Record a span timed elsewhere, in epoch milliseconds. */
  def add(name: String, startMs: Long, endMs: Long, parent: Int): Unit =
    spans += Span(name, startMs * 1000000L - epochOffsetNs,
      endMs * 1000000L - epochOffsetNs, parent)

  def write(path: java.nio.file.Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    spans.zipWithIndex.foreach { case (s, i) =>
      arr.addObject().put("id", i).put("name", s.name)
        .put("start_ns", s.startNs).put("end_ns", s.endNs)
        .put("parent", s.parent)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    mapper.writeValue(path.toFile, arr)
  }
}

/** Per-job facts gathered by [[JobListener]]. */
final class JobFacts(val id: Int, val module: String, val site: String,
                     val pool: String, val startMs: Long) {
  var endMs = startMs
  var stages = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskDurations = mutable.ArrayBuffer.empty[Long]
  def ms: Long = endMs - startMs
}

/** Collects [[JobFacts]] for every job. A job's module is the package of
  * the first program frame on its call site: `graft.sinks.SingerSink`
  * is `sinks`, `graft.Tap` is `tap`; jobs the benchmark itself submits
  * are `perfbench`.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobFacts]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  // SQL execution id -> (module, call site) of the thread that started it
  private val executions = mutable.Map.empty[Long, (String, String)]
  private var running = 0
  var concurrentMax = 0

  def reset(): Unit = synchronized {
    jobs.clear(); jobOfStage.clear(); concurrentMax = running
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized {
        executions(s.executionId) = (JobListener.module(s.details), s.description)
      }
    case _ =>
  }

  /** A job's module comes from the SQL execution that ran it when there
    * is one (adaptive execution submits a query's stages from its own
    * threads, whose call sites say nothing of the caller), else from the
    * job's own call site.
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val (module, site) = prop("spark.sql.execution.id")
      .flatMap(id => executions.get(id.toLong))
      .getOrElse(e.stageInfos.headOption
        .map(s => (JobListener.module(s.details), s.name)).getOrElse(("other", "")))
    jobs(e.jobId) = new JobFacts(e.jobId, module, site,
      prop("spark.scheduler.pool").getOrElse(""), e.time)
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    running += 1
    concurrentMax = math.max(concurrentMax, running)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    running -= 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      for (j <- jobOfStage.get(e.stageInfo.stageId); f <- jobs.get(j)) {
        val m = e.stageInfo.taskMetrics
        f.stages += 1
        if (m != null) {
          f.taskMs += m.executorRunTime
          f.gcMs += m.jvmGCTime
          f.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          f.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- jobOfStage.get(e.stageId); f <- jobs.get(j); info <- Option(e.taskInfo))
      f.taskDurations += info.duration
  }
}

object JobListener {
  /** Program modules a job can be attributed to, in report order. */
  val Modules: Seq[String] = Seq("tap", "sources", "operators", "sinks", "state")

  def module(callSite: String): String =
    callSite.linesIterator.map { line =>
      val method = line.trim.takeWhile(_ != '(')
      method.substring(method.lastIndexOf('/') + 1)
    }.collectFirst {
      case f if f.startsWith("perfbench.") => "perfbench"
      case f if f.startsWith("graft.Tap") => "tap"
      case f if f.startsWith("graft.") =>
        val parts = f.split('.')
        if (parts.length > 2 && parts(1).forall(_.isLower)) parts(1) else "graft"
    }.getOrElse("other")
}
