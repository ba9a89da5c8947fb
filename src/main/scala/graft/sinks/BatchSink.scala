package graft.sinks

import graft.config.{BatchConfig, StreamConfig}
import graft.operators.Conformance
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HadoopPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.util.CollectionAccumulator
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** One emitted batch manifest: encoding + the files of one chunk
  * (reference: tap_rawpostgresql/client.py:234,245 yields
  * `(encoding, [file_url])` per chunk), the number of records in them, and
  * the largest replication-key value among those records (None without a
  * replication key, or when every key in the chunk is null).
  */
final case class BatchManifest(format: String, compression: String, files: Seq[String],
                               records: Long, bookmark: Option[ChunkBookmark] = None)

/** The largest replication-key value of one chunk, as Spark's `max()`
  * returns it: `key` is the Catalyst value of `dataType` (what orders),
  * `value` its string cast (what a STATE bookmark carries).
  */
final case class ChunkBookmark(value: String, key: Any, dataType: DataType) {
  /** The larger of the two; ties keep `this`, as `max()` keeps the first. */
  def max(that: ChunkBookmark): ChunkBookmark =
    if (TypeUtils.getInterpretedOrdering(dataType).gt(that.key, key)) that else this
}

/** What the writer of one staged part file saw: its row count and, for a
  * stream with a replication key, the key's max (None when it was always
  * null).
  */
private[sinks] final case class ChunkStats(file: String, rows: Long,
                                           bookmark: Option[ChunkBookmark])

/** Batch sink: gzip-compressed JSONL files of at most `batchSize` records,
  * named `{prefix}{tap}--{stream}-{uuid4}-{i}.json.gz`.
  *
  * Reference: tap_rawpostgresql/client.py:185-245 — rotation at exactly
  * `batch_size` records (client.py:228-239), final flush (client.py:241-245),
  * filename scheme (client.py:202,214).
  *
  * Spark-first: the write itself is `DataFrameWriter` JSON with
  * `maxRecordsPerFile` — rotation and parallel IO are native and scale with
  * partitions, unlike the reference's single sequential writer. All path
  * handling goes through the Hadoop `FileSystem` API resolved from the
  * root's scheme, so `batch_config.storage.root` accepts any configured
  * filesystem URL (`file://`, `s3a://`, `gs://`, `hdfs://`, …) — the
  * analog of the reference's fsspec root (client.py:211); the rename to
  * the reference filename scheme is a metadata operation on that same
  * filesystem.
  *
  * Spread: an unsorted stream with a replication key whose plan has fewer
  * partitions than `defaultParallelism` (a single parquet row group, a
  * one-partition JDBC read) is hash-partitioned on its key into
  * `defaultParallelism` partitions, so its JSON encoding and gzip run on
  * every core instead of one. The test is "fewer than", not "one": Spark
  * splits a file of one row group into several partitions, and only the
  * one holding the group's midpoint gets rows (a 10.8 MB single-group
  * file plans 3 partitions at 4 cores, rows 0 / all / 0). Hashing is
  * deterministic under task retries, and the rows one source task sends a
  * partition keep their source order (so gzip compresses them as well as
  * before). The shuffle sits
  * downstream of the one scan, so the source still executes once: a map
  * stage, then the write. A spread stream of n records writes at most
  * ⌈n / batch_size⌉ + defaultParallelism − 1 chunks, each with at most
  * `batch_size` records. A sorted stream is never spread: its committed
  * per-chunk bookmarks need chunk order to be key order. A plan that
  * already shuffles or has subqueries is left as planned, since its
  * partition count is known only after its stages run.
  *
  * The bookmark and the record counts come from the write itself, as the
  * reference takes them from the records it processed: every stream is
  * written through [[ChunkJsonFormat]], whose writers count the rows of
  * each file and fold the replication key's max over them. The stream
  * executes once — no persist, no second pass over the written files —
  * and the per-file figures arrive through an accumulator, which Spark
  * merges only from the task attempts that succeeded, i.e. exactly the
  * committed files.
  */
object BatchSink {

  def write(df: DataFrame, stream: StreamConfig, batch: BatchConfig,
            tapName: String = "tap-rawpostgresql"): Seq[BatchManifest] = {
    require(batch.encoding.format == "jsonl",
      s"unsupported batch format: ${batch.encoding.format}")
    // Normalize before reporting: anything other than gzip writes plain
    // .json, and the manifest must say what was actually applied.
    val gzip = batch.encoding.compression == "gzip"
    val appliedCompression = if (gzip) "gzip" else "none"
    val root = new HadoopPath(
      if (batch.storage.root.contains(":")) batch.storage.root
      else s"file://${batch.storage.root}")
    val fs: FileSystem =
      root.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    fs.mkdirs(root)
    val outDir = new HadoopPath(root, s"graft-batch-${UUID.randomUUID()}")
    val chunks = df.sparkSession.sparkContext.collectionAccumulator[ChunkStats]
    val token = UUID.randomUUID().toString
    ChunkJsonFormat.register(token, chunks)
    try {
      val writer = spread(df, stream).write
        .format(classOf[ChunkJsonFormat].getName)
        .option(ChunkJsonFormat.TokenOption, token)
        .option("maxRecordsPerFile", stream.batchSize.toString)
        .option("timestampFormat", Conformance.IsoTimestampPattern)
      val compressed = if (gzip) writer.option("compression", "gzip") else writer
      stream.replicationKey.fold(compressed)(compressed.option(ChunkJsonFormat.KeyOption, _))
        .save(outDir.toString)

      // staged part-file name -> what its writer saw
      val stats: Map[String, ChunkStats] =
        chunks.value.asScala.map(c => c.file -> c).toMap
      val ext = if (gzip) ".json.gz" else ".json"
      val parts = fs.listStatus(outDir).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(ext))
        .sortBy(p => chunkOrder(p.getName))
        .map(p => p -> stats.getOrElse(p.getName,
          throw new IllegalStateException(s"no writer reported $p")))
        .toSeq
      // Spark writes a file for task 0 even when that task has no rows.
      // Announce it only for an empty stream, which is that one file; in a
      // non-empty stream it stays staged and goes with the staging dir.
      val kept = if (parts.exists(_._2.rows > 0)) parts.filter(_._2.rows > 0) else parts

      val syncId = UUID.randomUUID().toString
      // one manifest per chunk file, matching the reference's per-chunk yield
      kept.zipWithIndex.map { case ((p, chunk), i) =>
        val name = s"${batch.storage.prefix}$tapName--${stream.name}-$syncId-$i$ext"
        val target = new HadoopPath(root, name)
        if (!fs.rename(p, target))
          throw new java.io.IOException(s"rename $p -> $target failed")
        BatchManifest(batch.encoding.format, appliedCompression,
          Seq(target.toUri.toString), chunk.rows, chunk.bookmark)
      }
    } finally {
      ChunkJsonFormat.release(token)
      fs.delete(outDir, true) // _SUCCESS, empty part files, or a failed write
    }
  }

  /** The frame to write: `df`, or `df` hash-partitioned on its replication
    * key across every core when the spread rule holds (see [[BatchSink]]).
    */
  private def spread(df: DataFrame, stream: StreamConfig): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    stream.replicationKey match {
      case Some(k) if !stream.isSorted && plannedPartitions(df).exists(_ < par) =>
        df.repartition(par, col(k))
      case _ => df
    }
  }

  /** The partition count of `df`'s physical plan, when building its RDD
    * runs no job. An exchange or a subquery needs one: adaptive execution
    * sizes its final stage only after running the ones before, and a
    * broadcast or subquery starts as soon as the plan is prepared.
    */
  private def plannedPartitions(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.executedPlan
    val runsJobs = plan.isInstanceOf[AdaptiveSparkPlanExec] ||
      plan.exists(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty)
    if (runsJobs) None else Some(plan.execute().getNumPartitions)
  }

  /** Sort key of a staged part file, `part-<task>-<job uuid>-c<n><ext>`:
    * task, then the file's number within the task, compared as numbers
    * (`c1000` follows `c999`). A sorted stream's chunk order is its key
    * order only under this ordering.
    */
  private def chunkOrder(name: String): (Long, Long, String) = name match {
    case PartFile(task, n) => (task.toLong, n.toLong, name)
    case _ => (Long.MaxValue, Long.MaxValue, name)
  }

  private val PartFile = """part-(\d+)-.*-c(\d+)\..*""".r

  /** Delete the chunk files of manifests that were written but will never
    * be announced (another stream of the same sync failed).
    */
  def discard(spark: SparkSession, manifests: Seq[BatchManifest]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    manifests.flatMap(_.files).foreach { f =>
      val p = new HadoopPath(f)
      p.getFileSystem(conf).delete(p, false)
    }
  }
}

/** Spark's JSON file format, whose writers also count the rows of each
  * file and, optionally, track the largest value of one column in it.
  * Everything else — options, codec, the commit protocol, the bytes
  * written — is `JsonFileFormat`'s. Options:
  * [[ChunkJsonFormat.TokenOption]] names the registered accumulator that
  * receives one [[ChunkStats]] per file; [[ChunkJsonFormat.KeyOption]],
  * when set, the column whose max each file reports.
  */
class ChunkJsonFormat extends FileFormat {
  private val json = new JsonFileFormat

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] =
    json.inferSchema(spark, options, files)

  override def supportDataType(dataType: DataType): Boolean =
    json.supportDataType(dataType)

  override def prepareWrite(spark: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val resolver = spark.sessionState.conf.resolver
    val key = options.get(ChunkJsonFormat.KeyOption).map { k =>
      val ordinal = dataSchema.fieldNames.indexWhere(resolver(_, k))
      require(ordinal >= 0, s"replication key '$k' is not a written column")
      ordinal -> dataSchema(ordinal).dataType
    }
    ChunkWriterFactory(
      json.prepareWrite(spark, job, options, dataSchema), key,
      spark.sessionState.conf.sessionLocalTimeZone,
      ChunkJsonFormat.registered(options(ChunkJsonFormat.TokenOption)))
  }

  // Spark names the format by toString in plans and schema errors
  override def toString: String = "JSON"
}

object ChunkJsonFormat {
  val KeyOption = "graft.chunk.maxKey"
  val TokenOption = "graft.chunk.token"

  // Driver-side hand-off from `BatchSink.write` to `prepareWrite`, which
  // Spark calls on a format instance it creates from the class name.
  private val accumulators =
    new ConcurrentHashMap[String, CollectionAccumulator[ChunkStats]]()

  private[sinks] def register(token: String, acc: CollectionAccumulator[ChunkStats]): Unit =
    accumulators.put(token, acc)

  private[sinks] def release(token: String): Unit = accumulators.remove(token)

  private def registered(token: String): CollectionAccumulator[ChunkStats] =
    Option(accumulators.get(token)).getOrElse(
      throw new IllegalStateException(s"no chunk accumulator registered as $token"))
}

/** `key`: the ordinal and type of the column whose max is tracked. */
private final case class ChunkWriterFactory(
    json: OutputWriterFactory, key: Option[(Int, DataType)],
    timeZone: String, chunks: CollectionAccumulator[ChunkStats])
    extends OutputWriterFactory {

  override def getFileExtension(context: TaskAttemptContext): String =
    json.getFileExtension(context)

  override def newInstance(path: String, dataSchema: StructType,
                           context: TaskAttemptContext): OutputWriter =
    new ChunkWriter(json.newInstance(path, dataSchema, context), this)
}

/** Writes through to the JSON writer, counts rows and folds the key
  * column's max with Spark's ordering; reports both when the file is
  * complete.
  */
private final class ChunkWriter(json: OutputWriter, f: ChunkWriterFactory)
    extends OutputWriter {
  private val ordinal = f.key.fold(-1)(_._1)
  private val get = f.key.map { case (_, dt) => InternalRow.getAccessor(dt) }.orNull
  private val ordering = f.key.map { case (_, dt) => TypeUtils.getInterpretedOrdering(dt) }.orNull
  private var rows = 0L
  private var max: Any = null

  override def write(row: InternalRow): Unit = {
    json.write(row)
    rows += 1
    if (get != null) {
      val v = get(row, ordinal)
      // copy: a string may point into a row buffer the caller reuses
      if (v != null && (max == null || ordering.gt(v, max))) max = InternalRow.copyValue(v)
    }
  }

  override def close(): Unit = {
    json.close()
    val bookmark = f.key.filter(_ => max != null).map { case (_, dt) =>
      val rendered = Cast(Literal(max, dt), StringType, Some(f.timeZone)).eval()
      ChunkBookmark(rendered.toString, max, dt)
    }
    f.chunks.add(ChunkStats(new HadoopPath(path()).getName, rows, bookmark))
  }

  override def path(): String = json.path()
}
