package perfbench

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8

/** In-process stand-in for the tap's stdout: keeps every byte written in
  * one reusable array, so a pass pays a memory copy per line and nothing
  * else, and the lines can be checked after the timed region.
  *
  * While a pass runs it notes when the first RECORD or BATCH line was
  * complete and, when `gaps` is on, the longest pause between two writes.
  */
final class Capture(initialBytes: Int) extends OutputStream {
  private var buf = new Array[Byte](initialBytes)
  private var size = 0
  private var startNs = 0L
  private var lastWriteNs = 0L
  private var firstOutputNs = 0L
  private var gaps = false
  private var maxGapNs = 0L

  /** Empty the buffer and start the clocks of a new pass. */
  def reset(trackGaps: Boolean): Unit = {
    size = 0; firstOutputNs = 0L; maxGapNs = 0L; gaps = trackGaps
    startNs = System.nanoTime(); lastWriteNs = startNs
  }

  def bytes: Long = size.toLong
  def firstOutputSeconds: Double =
    if (firstOutputNs == 0L) Double.NaN else (firstOutputNs - startNs) / 1e9
  def maxGapMs: Double = maxGapNs / 1e6

  val printer: PrintStream = new PrintStream(this, true, UTF_8)

  override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    if (size + len > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, size + len))
    val lineStart = size
    System.arraycopy(b, off, buf, size, len)
    size += len
    if (firstOutputNs == 0L && (startsWith(lineStart, RecordPrefix) ||
        startsWith(lineStart, BatchPrefix)))
      firstOutputNs = System.nanoTime()
    if (gaps) {
      val now = System.nanoTime()
      if (now - lastWriteNs > maxGapNs) maxGapNs = now - lastWriteNs
      lastWriteNs = now
    }
  }

  private def startsWith(at: Int, prefix: Array[Byte]): Boolean =
    at + prefix.length <= size && {
      var i = 0
      while (i < prefix.length && buf(at + i) == prefix(i)) i += 1
      i == prefix.length
    }

  /** Offsets of every line start, in order. */
  private def lineStarts: Array[Int] = {
    val starts = Array.newBuilder[Int]
    var i = 0
    var begin = 0
    while (i < size) {
      if (buf(i) == '\n') { starts += begin; begin = i + 1 }
      i += 1
    }
    if (begin < size) starts += begin
    starts.result()
  }

  /** Parse every line as JSON on `threads` threads and fold them into a
    * [[Lines]] summary. RECORD lines are only tokenized, unless their key
    * is wanted; the few other lines are read into trees.
    */
  def parse(threads: Int, keyField: Option[String]): Lines = {
    val starts = lineStarts
    val mapper = new ObjectMapper()
    val chunk = math.max(1, (starts.length + threads - 1) / threads)
    val parts = (0 until threads).map { t =>
      val from = t * chunk
      val until = math.min(starts.length, from + chunk)
      new java.util.concurrent.Callable[Lines] {
        def call(): Lines = {
          val acc = new Lines
          var i = from
          while (i < until) {
            val off = starts(i)
            val len = (if (i + 1 < starts.length) starts(i + 1) else size) - off
            if (keyField.isEmpty && startsWith(off, RecordPrefix))
              acc.addRecord(wellFormed(mapper, off, len))
            else acc.add(
              try mapper.readTree(buf, off, len)
              catch { case _: java.io.IOException => null }, keyField)
            i += 1
          }
          acc
        }
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      import scala.jdk.CollectionConverters._
      pool.invokeAll(parts.asJava).asScala.map(_.get()).reduce(_ merge _)
    } finally pool.shutdown()
  }

  /** True when the bytes hold exactly one JSON object. */
  private def wellFormed(mapper: ObjectMapper, off: Int, len: Int): Boolean = {
    val p = mapper.getFactory.createParser(buf, off, len)
    try p.nextToken() == JsonToken.START_OBJECT && { p.skipChildren(); p.nextToken() == null }
    catch { case _: java.io.IOException => false }
    finally p.close()
  }

  private val RecordPrefix = """{"type":"RECORD"""".getBytes(UTF_8)
  private val BatchPrefix = """{"type":"BATCH"""".getBytes(UTF_8)
}

/** What the lines of one pass held. Lines are folded in output order, so
  * `lastState` is the final STATE message.
  */
final class Lines {
  var lines = 0L
  var bad = 0L
  var records = 0L
  var states = 0L
  var lastState: JsonNode = null
  var manifests = Vector.empty[(String, String)]
  val keys = new KeyStats

  /** A RECORD line checked for well-formedness only. */
  def addRecord(ok: Boolean): Unit = {
    lines += 1
    if (ok) records += 1 else bad += 1
  }

  def add(node: JsonNode, keyField: Option[String]): Unit = {
    lines += 1
    val kind = Option(node).flatMap(n => Option(n.get("type"))).map(_.asText)
    kind match {
      case Some("RECORD") =>
        records += 1
        keyField.foreach(k => keys.add(node.get("record").get(k).asLong()))
      case Some("STATE") => states += 1; lastState = node
      case Some("BATCH") =>
        val stream = node.get("stream").asText
        node.get("manifest").forEach(f => manifests :+= (stream -> f.asText))
      case Some("SCHEMA") | Some("ACTIVATE_VERSION") =>
      case _ => bad += 1
    }
  }

  def merge(o: Lines): Lines = {
    lines += o.lines; bad += o.bad; records += o.records; states += o.states
    if (o.lastState != null) lastState = o.lastState
    manifests ++= o.manifests
    keys.merge(o.keys)
    this
  }

  /** Final bookmark per stream id, from the last STATE message. */
  def bookmarks: Map[String, String] = Option(lastState).map { s =>
    import scala.jdk.CollectionConverters._
    s.get("value").get("bookmarks").properties().asScala.flatMap { e =>
      Option(e.getValue.get("replication_key_value")).map(e.getKey -> _.asText)
    }.toMap
  }.getOrElse(Map.empty)
}

/** Count, distinct count, min, max and sum of the key column of RECORD
  * lines.
  */
final class KeyStats {
  val seen = new java.util.HashSet[java.lang.Long]()
  var count = 0L
  var min = Long.MaxValue
  var max = Long.MinValue
  var sum = 0L

  def add(k: Long): Unit = {
    count += 1; seen.add(k); sum += k
    if (k < min) min = k
    if (k > max) max = k
  }

  def merge(o: KeyStats): Unit = {
    count += o.count; seen.addAll(o.seen); sum += o.sum
    min = math.min(min, o.min); max = math.max(max, o.max)
  }
}
