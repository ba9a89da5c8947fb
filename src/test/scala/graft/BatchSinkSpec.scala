package graft

import graft.config.{BatchConfig, BatchEncoding, BatchStorage, ConfigParser, StreamConfig}
import graft.operators.Conformance
import graft.sinks.BatchSink
import graft.sources.StreamSource
import graft.state.Bookmarks
import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** F4 batch round-trip: gzip JSONL, rotation at batch_size, filename
  * scheme, and the exact UUID/timestamp serialization forms
  * (reference: tests/test_postgres.py:175-203).
  */
/** A local filesystem registered under a non-`file:` scheme — the standard
  * Hadoop-test trick for exercising scheme resolution without a real
  * object store.
  */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

class BatchSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def gunzipLines(path: String): Seq[String] = {
    val in = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(Files.newInputStream(Paths.get(path))), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
  }

  test("F4 uuid + timestamptz serialization round-trip") {
    val tmp = Files.createTempDirectory("graft-batch").toString
    val s = ConfigParser.parseStream(
      """{"name":"test","sql":"SELECT '1441c21d-9921-4a1d-b239-9c6ea18af234'::uuid as id, timestamptz '2021-11-22T11:45:11.062824+00:00' as last_updated",
        |"key_properties":["id"],"batch_size":5,
        |"columns":[{"name":"id","type":"string"},{"name":"last_updated","type":"datetime"}]}""".stripMargin)
    val df = StreamSource.native(spark, s)
    val manifests = BatchSink.write(df, s,
      BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"file://$tmp")))
    assert(manifests.nonEmpty)
    val file = Paths.get(java.net.URI.create(manifests.head.files.head))
    assert(file.getFileName.toString.matches(
      "tap-rawpostgresql--test-[0-9a-f-]{36}-0\\.json\\.gz"))
    val lines = gunzipLines(file.toString)
    assert(lines.length === 1)
    assert(lines.head.contains(""""id":"1441c21d-9921-4a1d-b239-9c6ea18af234""""))
    assert(lines.head.contains(""""last_updated":"2021-11-22T11:45:11.062824+00:00""""))
  }

  // Object-store readiness: the sink resolves its root through the Hadoop
  // FileSystem API, so any configured scheme works (s3a://, gs://, …).
  // Exercised with a registered non-`file:` scheme backed by
  // RawLocalFileSystem — write, rotation-rename, and manifest URLs must
  // all go through that filesystem, not java.nio.
  test("batch root on a non-file filesystem scheme") {
    val tmp = Files.createTempDirectory("graft-batch-mockfs").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFs].getName)
    val s = ConfigParser.parseStream(
      """{"name":"obj","sql":"SELECT id FROM range(0, 7)","key_properties":["id"],"batch_size":4,
        |"columns":[{"name":"id","type":"bigint"}]}""".stripMargin)
    val df = StreamSource.native(spark, s).coalesce(1)
    val manifests = BatchSink.write(df, s,
      BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"mockfs://$tmp")))
    assert(manifests.length === 2) // 7 records, batch_size 4 → 4/3
    assert(manifests.forall(_.files.head.startsWith("mockfs:")))
    val counts = manifests.map { m =>
      val local = new java.net.URI(m.files.head).getPath
      gunzipLines(local).length
    }
    assert(counts.sorted === Seq(3, 4))
  }

  test("rotation at batch_size with remainder flush") {
    val tmp = Files.createTempDirectory("graft-batch").toString
    val s = ConfigParser.parseStream(
      """{"name":"rot","sql":"SELECT id FROM range(0, 12)","key_properties":["id"],"batch_size":5,
        |"columns":[{"name":"id","type":"bigint"}]}""".stripMargin)
    val df = StreamSource.native(spark, s).coalesce(1)
    val manifests = BatchSink.write(df, s,
      BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"file://$tmp")))
    // 12 records, batch_size 5 → 3 chunk files (5/5/2), one manifest each
    assert(manifests.length === 3)
    val counts = manifests.map(m =>
      gunzipLines(Paths.get(java.net.URI.create(m.files.head)).toString).length)
    assert(counts.sorted === Seq(2, 5, 5))
    val total = Files.list(Paths.get(tmp)).iterator.asScala
      .count(_.getFileName.toString.endsWith(".json.gz"))
    assert(total === 3)
  }

  // The per-file bookmark is tracked inside the write. Oracle: read the
  // written files back and take Spark's max(k) per file, cast to string.
  // Keys are permuted so a file's max is not its last row, and nulls are
  // mixed in.
  test("in-write per-file bookmark equals max(k) read back from the files") {
    import org.apache.spark.sql.functions.{col, input_file_name, max}
    val p = "((id * 7) % 20)"
    val keys = Seq(
      "bigint" -> s"CASE WHEN $p % 6 = 5 THEN NULL ELSE CAST($p - 5 AS BIGINT) END",
      "double" -> s"CAST($p AS DOUBLE) / 3 - 2.5",
      "decimal(12,3)" -> s"CAST($p / 7 - 1 AS DECIMAL(12,3))",
      // U+1F600 sorts above U+FFFD by code point (Spark's order) but below
      // it by UTF-16 code unit (java.lang.String's)
      "text" -> (s"CASE WHEN $p % 4 = 0 THEN concat('\uD83D\uDE00', $p) " +
        s"WHEN $p % 4 = 1 THEN concat('\uFFFD', $p) " +
        s"WHEN $p % 4 = 2 THEN NULL ELSE concat('a', $p) END"),
      "date" -> s"date_add(DATE'2024-01-30', CAST($p AS INT))",
      "datetime" -> s"timestamp_micros(1700000000000000 + $p * 1000001)")
    for ((typ, expr) <- keys) {
      val tmp = Files.createTempDirectory("graft-batch-maxkey").toString
      val s = ConfigParser.parseStream(
        s"""{"name":"mk","sql":"SELECT 1","key_properties":["id"],
           |"replication_key":"k","batch_size":4,
           |"columns":[{"name":"k","type":"$typ"},{"name":"id","type":"bigint"}]}""".stripMargin)
      val df = Conformance.conform(
        spark.range(0, 20, 1, 2).selectExpr(s"$expr AS k", "id"), s.columns, s.name)
      assert(df.rdd.getNumPartitions >= 2)
      val manifests = BatchSink.write(df, s,
        BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"file://$tmp")))
      assert(manifests.size >= 3, typ) // 10 rows per partition → 4/4/2
      def name(uri: String) = uri.substring(uri.lastIndexOf('/') + 1)
      val oracle: Map[String, String] = spark.read.schema(df.schema)
        .option("timestampFormat", Conformance.IsoTimestampPattern)
        .json(manifests.flatMap(_.files): _*)
        .groupBy(input_file_name().as("f"))
        .agg(max(col("k")).cast("string").as("m"))
        .collect().map(r => name(r.getString(0)) -> r.getString(1)).toMap
      manifests.foreach { m =>
        val f = name(m.files.head)
        assert(m.bookmark.map(_.value) === oracle.get(f).flatMap(Option(_)), s"$typ $f")
      }
      // the driver-side fold over chunks equals the whole-stream max
      val whole = df.agg(max(col("k")).cast("string")).head.getString(0)
      assert(manifests.flatMap(_.bookmark).reduce(_ max _).value === whole, typ)
    }
  }

  // An empty stream and a stream whose replication key is always null
  // write chunks without a bookmark, and the sync leaves their state alone.
  test("empty and all-null replication-key streams carry no bookmark") {
    val tmp = Files.createTempDirectory("graft-batch-nokey").toString
    val tap = ConfigParser.parseTap(
      s"""{"database":"db1",
         |"batch_config":{"encoding":{"format":"jsonl","compression":"gzip"},
         |  "storage":{"root":"file://$tmp"}},
         |"streams":[
         |{"name":"empty","sql":"SELECT id FROM range(0)",
         | "key_properties":["id"],"replication_key":"id","replication_key_value_start":-1,
         | "columns":[{"name":"id","type":"bigint"}]},
         |{"name":"nulls","sql":"SELECT id, CAST(NULL AS BIGINT) AS k FROM range(5)",
         | "key_properties":["id"],"replication_key":"k","replication_key_value_start":-1,
         | "columns":[{"name":"id","type":"bigint"},{"name":"k","type":"bigint"}]}
         |]}""".stripMargin)
    val statePath = Files.createTempDirectory("graft-batch-nokey-state").resolve("state.json")
    val before = """{"bookmarks":{"db1-public-other":{"replication_key_value":"7"}}}"""
    Files.writeString(statePath, before)
    val buf = new java.io.ByteArrayOutputStream()
    val (res, st) = Tap.syncAll(spark, tap, Some(statePath.toString),
      new java.io.PrintStream(buf, true, "UTF-8"))
    assert(res(1).manifests.nonEmpty)
    assert(res.flatMap(_.manifests).forall(_.bookmark.isEmpty))
    assert(st.bookmarks === Map("db1-public-other" -> "7"))
    assert(Bookmarks.load(statePath.toString).bookmarks === st.bookmarks)
    val states = buf.toString("UTF-8").split("\n").filter(_.contains(""""type":"STATE""""))
    assert(states.nonEmpty && states.forall(l =>
      !l.contains("db1-public-empty") && !l.contains("db1-public-nulls")))
  }

  private def lineCounts(manifests: Seq[graft.sinks.BatchManifest]): Seq[Int] =
    manifests.map(m => gunzipLines(Paths.get(java.net.URI.create(m.files.head)).toString).length)

  // A one-partition unsorted incremental stream is hash-partitioned on its
  // replication key across every core before the write. Oracle for the
  // per-file bookmarks: the read-back of the in-write bookmark spec above.
  test("unsorted one-partition stream is spread across defaultParallelism write tasks") {
    import org.apache.spark.sql.functions.{col, input_file_name, max}
    val par = spark.sparkContext.defaultParallelism
    assert(par > 1)
    val tmp = Files.createTempDirectory("graft-batch-spread").toString
    val s = ConfigParser.parseStream(
      """{"name":"sp","sql":"SELECT 1","key_properties":["id"],
        |"replication_key":"k","batch_size":10,
        |"columns":[{"name":"k","type":"bigint"},{"name":"id","type":"bigint"}]}""".stripMargin)
    val df = Conformance.conform(spark.range(0, 40).selectExpr(
      "CASE WHEN id % 9 = 4 THEN NULL ELSE (id * 7) % 40 END AS k", "id"),
      s.columns, s.name).coalesce(1)
    val (manifests, jobs) = JobProbe(spark) {
      BatchSink.write(df, s,
        BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"file://$tmp")))
    }
    assert(jobs.last.resultTasks === par, jobs)
    val counts = lineCounts(manifests)
    assert(counts.forall(n => n > 0 && n <= 10), counts)
    assert(manifests.map(_.records) === counts.map(_.toLong))
    // at most ⌈n / batch_size⌉ + par − 1 chunks
    assert(manifests.size >= 40 / 10 && manifests.size <= 40 / 10 + par - 1, counts)
    val files = manifests.flatMap(_.files)
    val back = spark.read.schema(df.schema).json(files: _*)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq === (0L until 40L))
    def name(uri: String) = uri.substring(uri.lastIndexOf('/') + 1)
    val oracle: Map[String, String] = back
      .groupBy(input_file_name().as("f"))
      .agg(max(col("k")).cast("string").as("m"))
      .collect().map(r => name(r.getString(0)) -> r.getString(1)).toMap
    manifests.foreach { m =>
      val f = name(m.files.head)
      assert(m.bookmark.map(_.value) === oracle.get(f).flatMap(Option(_)), f)
    }
    assert(manifests.flatMap(_.bookmark).reduce(_ max _).value === "39")
  }

  // Spark splits a file of one row group into several partitions, and only
  // one of them gets rows; such a stream is spread like a one-partition one.
  test("unsorted stream planned on several partitions, rows in one, is spread") {
    val par = spark.sparkContext.defaultParallelism
    assert(par > 3)
    val tmp = Files.createTempDirectory("graft-batch-splits").toString
    val s = ConfigParser.parseStream(
      """{"name":"sl","sql":"SELECT 1","key_properties":["k"],
        |"replication_key":"k","batch_size":5,
        |"columns":[{"name":"k","type":"bigint"}]}""".stripMargin)
    // partitions hold 0..12, 13..25, 26..39; the filter keeps the first
    val df = spark.range(0, 40, 1, 3).where("id < 13").selectExpr("id AS k")
    val (manifests, jobs) = JobProbe(spark) {
      BatchSink.write(df, s,
        BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"file://$tmp")))
    }
    assert(jobs.last.resultTasks === par, jobs)
    assert(manifests.forall(m => m.records > 0 && m.records <= 5))
    assert(manifests.map(_.records).sum === 13)
    assert(manifests.flatMap(_.bookmark).reduce(_ max _).value === "12")
  }

  // A sorted stream's committed per-chunk bookmarks need chunk order to be
  // key order, so it keeps its one write task; its chunks are announced in
  // the order that task wrote them, also past Spark's 3-digit file counter.
  test("sorted one-partition stream is not spread; chunk maxima are monotone") {
    for ((rows, size) <- Seq(40 -> 10, 1003 -> 1)) {
      val tmp = Files.createTempDirectory("graft-batch-sorted").toString
      val s = ConfigParser.parseStream(
        s"""{"name":"so","sql":"SELECT 1","key_properties":["k"],
           |"replication_key":"k","is_sorted":true,"batch_size":$size,
           |"columns":[{"name":"k","type":"bigint"}]}""".stripMargin)
      val df = spark.range(0, rows).selectExpr("id AS k").coalesce(1)
      val (manifests, jobs) = JobProbe(spark) {
        BatchSink.write(df, s,
          BatchConfig(BatchEncoding("jsonl", "gzip"), BatchStorage(s"file://$tmp")))
      }
      assert(jobs.map(_.resultTasks) === Seq(1))
      assert(manifests.size === rows / size)
      assert(manifests.forall(_.records == size))
      val maxima = manifests.map(_.bookmark.get.value.toLong)
      // chunk i's max is (i + 1) * size − 1; find the first chunk where it is not
      assert(maxima.indices.find(i => maxima(i) != (i + 1L) * size - 1) === None, rows)
    }
  }

  // Spark writes a file for task 0 even when it has no rows. A non-empty
  // stream announces no such file; an empty stream keeps its one file.
  test("no zero-record chunk in a non-empty stream; an empty stream keeps one") {
    val s = ConfigParser.parseStream(
      """{"name":"z","sql":"SELECT 1","key_properties":["id"],"batch_size":3,
        |"columns":[{"name":"id","type":"bigint"}]}""".stripMargin)
    def write(df: org.apache.spark.sql.DataFrame, stream: StreamConfig = s) =
      BatchSink.write(df, stream, BatchConfig(BatchEncoding("jsonl", "gzip"),
        BatchStorage("file://" + Files.createTempDirectory("graft-batch-zero"))))
    // ids 0..4 in partition 0 are filtered out; 5..9 stay in partition 1
    val some = write(spark.range(0, 10, 1, 2).filter("id >= 5").toDF())
    assert(lineCounts(some).sorted === Seq(2, 3))
    assert(some.map(_.records).sum === 5)
    val root = Paths.get(java.net.URI.create(some.head.files.head)).getParent
    assert(Files.list(root).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".json.gz")).toSeq.sorted ===
      some.map(m => Paths.get(java.net.URI.create(m.files.head)).getFileName.toString).sorted)
    val none = write(spark.range(0, 10, 1, 2).filter("id < 0").toDF())
    assert(none.size === 1 && none.head.records === 0)
    assert(lineCounts(none) === Seq(0))
    // the same for an empty stream that is spread before its write
    val spread = write(spark.range(0, 10, 1, 1).filter("id < 0").toDF(),
      s.copy(replicationKey = Some("id")))
    assert(spread.size === 1 && spread.head.records === 0 && spread.head.bookmark.isEmpty)
    assert(lineCounts(spread) === Seq(0))
  }
}
