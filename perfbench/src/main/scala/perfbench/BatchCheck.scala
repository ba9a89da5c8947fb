package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Checks the gzip-JSONL files of one BATCH-mode pass: the BATCH
  * manifests must name exactly the files on disk, every line must parse,
  * and rows are counted per stream for the oracle comparison.
  */
object BatchCheck {
  def apply(root: Path, manifests: Seq[(String, String)], threads: Int,
            obs: ObjectNode): Unit = {
    // Hadoop's local file system keeps a hidden `.<name>.crc` checksum
    // beside each file; those are not batch files
    val (onDisk, sidecars) = {
      val s = Files.list(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }.partition(!_.getFileName.toString.startsWith("."))
    val named = manifests.map { case (stream, uri) =>
      java.nio.file.Paths.get(java.net.URI.create(uri)).getFileName.toString -> stream
    }
    obs.put("manifest_ok", named.map(_._1).sorted == onDisk.map(_.getFileName.toString).sorted)
    obs.put("files", onDisk.size).put("sidecar_files", sidecars.size)
    obs.put("bytes", onDisk.map(Files.size).sum)

    val streamOf = named.toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val counts = try {
      onDisk.map { f =>
        pool.submit(new java.util.concurrent.Callable[(String, Long, Long)] {
          def call(): (String, Long, Long) = count(f)
        })
      }.map(_.get())
    } finally pool.shutdown()
    val rows = obs.putObject("stream_rows")
    counts.groupBy(c => streamOf.getOrElse(c._1, "?")).foreach { case (s, cs) =>
      rows.put(s, cs.map(_._2).sum)
    }
    obs.put("records", counts.map(_._2).sum)
    obs.put("bad_file_lines", counts.map(_._3).sum)
  }

  /** (file name, lines, lines that do not parse as a JSON object). */
  private def count(f: Path): (String, Long, Long) = {
    val mapper = new ObjectMapper()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(Files.newInputStream(f), 1 << 16),
      java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try {
      var lines, bad = 0L
      var line = in.readLine()
      while (line != null) {
        lines += 1
        val ok = try mapper.readTree(line).isObject
                 catch { case _: java.io.IOException => false }
        if (!ok) bad += 1
        line = in.readLine()
      }
      (f.getFileName.toString, lines, bad)
    } finally in.close()
  }
}
