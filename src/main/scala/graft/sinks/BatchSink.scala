package graft.sinks

import graft.config.{BatchConfig, StreamConfig}
import graft.operators.Conformance
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HadoopPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.util.CollectionAccumulator
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** One emitted batch manifest: encoding + the files of one chunk
  * (reference: tap_rawpostgresql/client.py:234,245 yields
  * `(encoding, [file_url])` per chunk), plus the largest replication-key
  * value among the chunk's records (None without a replication key, or
  * when every key in the chunk is null).
  */
final case class BatchManifest(format: String, compression: String, files: Seq[String],
                               bookmark: Option[ChunkBookmark] = None)

/** The largest replication-key value of one chunk, as Spark's `max()`
  * returns it: `key` is the Catalyst value of `dataType` (what orders),
  * `value` its string cast (what a STATE bookmark carries).
  */
final case class ChunkBookmark(value: String, key: Any, dataType: DataType) {
  /** The larger of the two; ties keep `this`, as `max()` keeps the first. */
  def max(that: ChunkBookmark): ChunkBookmark =
    if (TypeUtils.getInterpretedOrdering(dataType).gt(that.key, key)) that else this
}

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
  * The bookmark comes from the write itself, as the reference takes it
  * from the records it processed: for a stream with a replication key the
  * write goes through [[MaxKeyJsonFormat]], whose writers fold the key's
  * max over the rows of each file they write. The stream executes once —
  * no persist, no second pass over the written files — and the per-file
  * maxima arrive through an accumulator, which Spark merges only from the
  * task attempts that succeeded, i.e. exactly the committed files.
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
    val maxKeys = stream.replicationKey.map(_ =>
      df.sparkSession.sparkContext.collectionAccumulator[MaxKeyJsonFormat.FileMax])
    val token = UUID.randomUUID().toString
    maxKeys.foreach(MaxKeyJsonFormat.register(token, _))
    try {
      val writer = df.write
        .option("maxRecordsPerFile", stream.batchSize.toString)
        .option("timestampFormat", Conformance.IsoTimestampPattern)
      val compressed = if (gzip) writer.option("compression", "gzip") else writer
      (stream.replicationKey match {
        case Some(k) => compressed.format(classOf[MaxKeyJsonFormat].getName)
          .option(MaxKeyJsonFormat.KeyOption, k)
          .option(MaxKeyJsonFormat.TokenOption, token)
        case None => compressed.format("json")
      }).save(outDir.toString)

      // staged part-file name -> that file's max replication key
      val bookmarks: Map[String, ChunkBookmark] = maxKeys.toSeq
        .flatMap(_.value.asScala)
        .map { case (file, key, value, dt) => file -> ChunkBookmark(value, key, dt) }
        .toMap

      val ext = if (gzip) ".json.gz" else ".json"
      val parts = fs.listStatus(outDir).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(ext))
        .sortBy(_.getName)
        .toSeq

      val syncId = UUID.randomUUID().toString
      // one manifest per chunk file, matching the reference's per-chunk yield
      parts.zipWithIndex.map { case (p, i) =>
        val name = s"${batch.storage.prefix}$tapName--${stream.name}-$syncId-$i$ext"
        val target = new HadoopPath(root, name)
        if (!fs.rename(p, target))
          throw new java.io.IOException(s"rename $p -> $target failed")
        BatchManifest(batch.encoding.format, appliedCompression,
          Seq(target.toUri.toString), bookmarks.get(p.getName))
      }
    } finally {
      MaxKeyJsonFormat.release(token)
      fs.delete(outDir, true) // _SUCCESS + any stragglers, or a failed write
    }
  }

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

/** Spark's JSON file format, whose writers also track the largest value of
  * one column per written file. Everything else — options, codec, the
  * commit protocol, the bytes written — is `JsonFileFormat`'s. Options:
  * [[MaxKeyJsonFormat.KeyOption]] names the column,
  * [[MaxKeyJsonFormat.TokenOption]] the registered accumulator that
  * receives one [[MaxKeyJsonFormat.FileMax]] per file with a non-null max.
  */
class MaxKeyJsonFormat extends FileFormat {
  private val json = new JsonFileFormat

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] =
    json.inferSchema(spark, options, files)

  override def supportDataType(dataType: DataType): Boolean =
    json.supportDataType(dataType)

  override def prepareWrite(spark: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val key = options(MaxKeyJsonFormat.KeyOption)
    val resolver = spark.sessionState.conf.resolver
    val ordinal = dataSchema.fieldNames.indexWhere(resolver(_, key))
    require(ordinal >= 0, s"replication key '$key' is not a written column")
    MaxKeyWriterFactory(
      json.prepareWrite(spark, job, options, dataSchema),
      ordinal, dataSchema(ordinal).dataType,
      spark.sessionState.conf.sessionLocalTimeZone,
      MaxKeyJsonFormat.registered(options(MaxKeyJsonFormat.TokenOption)))
  }

  // Spark names the format by toString in plans and schema errors
  override def toString: String = "JSON"
}

object MaxKeyJsonFormat {
  /** (part-file name, max key as a Catalyst value, its string cast, key type) */
  type FileMax = (String, Any, String, DataType)

  val KeyOption = "graft.maxKey.column"
  val TokenOption = "graft.maxKey.token"

  // Driver-side hand-off from `BatchSink.write` to `prepareWrite`, which
  // Spark calls on a format instance it creates from the class name.
  private val accumulators =
    new ConcurrentHashMap[String, CollectionAccumulator[FileMax]]()

  private[sinks] def register(token: String, acc: CollectionAccumulator[FileMax]): Unit =
    accumulators.put(token, acc)

  private[sinks] def release(token: String): Unit = accumulators.remove(token)

  private def registered(token: String): CollectionAccumulator[FileMax] =
    Option(accumulators.get(token)).getOrElse(
      throw new IllegalStateException(s"no max-key accumulator registered as $token"))
}

private final case class MaxKeyWriterFactory(
    json: OutputWriterFactory, ordinal: Int, dataType: DataType,
    timeZone: String, maxKeys: CollectionAccumulator[MaxKeyJsonFormat.FileMax])
    extends OutputWriterFactory {

  override def getFileExtension(context: TaskAttemptContext): String =
    json.getFileExtension(context)

  override def newInstance(path: String, dataSchema: StructType,
                           context: TaskAttemptContext): OutputWriter =
    new MaxKeyWriter(json.newInstance(path, dataSchema, context), this)
}

/** Writes through to the JSON writer and folds the key column's max with
  * Spark's ordering; reports it when the file is complete.
  */
private final class MaxKeyWriter(json: OutputWriter, f: MaxKeyWriterFactory)
    extends OutputWriter {
  private val get = InternalRow.getAccessor(f.dataType)
  private val ordering = TypeUtils.getInterpretedOrdering(f.dataType)
  private var max: Any = null

  override def write(row: InternalRow): Unit = {
    json.write(row)
    val v = get(row, f.ordinal)
    // copy: a string may point into a row buffer the caller reuses
    if (v != null && (max == null || ordering.gt(v, max))) max = InternalRow.copyValue(v)
  }

  override def close(): Unit = {
    json.close()
    if (max != null) {
      val rendered = Cast(Literal(max, f.dataType), StringType, Some(f.timeZone)).eval()
      f.maxKeys.add((new HadoopPath(path()).getName, max, rendered.toString, f.dataType))
    }
  }

  override def path(): String = json.path()
}
