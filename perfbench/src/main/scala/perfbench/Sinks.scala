package perfbench

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Reads a parquet file sink from outside: which batch committed each
  * part file, and when. A file sink commits batch `n` by writing
  * `_spark_metadata/n` (every tenth batch as `n.compact`, which repeats
  * the earlier batches' entries), so a part file belongs to the first
  * batch whose log lists it and became visible at that log file's mtime.
  */
object Sinks {

  final case class Commit(batch: Long, atMs: Double)

  private val pathField = "\"path\":\"([^\"]+)\"".r

  /** Part-file name → the commit that made it visible. */
  def commits(sinkDir: String): Map[String, Commit] = {
    val meta = new File(sinkDir, "_spark_metadata")
    val logs = Option(meta.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.stripSuffix(".compact").forall(_.isDigit) && !f.getName.startsWith("."))
      .sortBy(_.getName.stripSuffix(".compact").toLong)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Commit]
    logs.foreach { f =>
      val batch = f.getName.stripSuffix(".compact").toLong
      val at = Files.getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
      Files.readAllLines(f.toPath).asScala.drop(1).foreach { line =>
        pathField.findFirstMatchIn(line).map(m => baseName(m.group(1)))
          .filterNot(out.contains).foreach(n => out(n) = Commit(batch, at))
      }
    }
    out.toMap
  }

  def baseName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** (data files, bytes) under a sink directory, metadata excluded. */
  def size(sinkDir: String): (Long, Long) = {
    val root = new File(sinkDir).toPath
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .toList
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(p => Files.deleteIfExists(p))
  }
}
