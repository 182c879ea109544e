package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result file (no JSON library on the
  * engine's classpath is part of its public surface). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Util {
  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, secs(t0))
  }

  /** Bytes of the files under `f` whose names pass `keep`. */
  def bytesWhere(f: File)(keep: String => Boolean): Long =
    if (!f.exists()) 0L
    else if (f.isFile) { if (keep(f.getName)) f.length() else 0L }
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytesWhere(_)(keep)).sum

  def treeBytes(f: File): Long = bytesWhere(f)(_ => true)

  /** Data bytes only: parquet/json parts, no _SUCCESS or .crc sidecars. */
  def dataBytes(f: File): Long =
    bytesWhere(f)(n => !n.startsWith("_") && !n.startsWith("."))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  def copyTree(src: File, dst: File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty[File]).foreach(c =>
        copyTree(c, new File(dst, c.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)
  }

  /** Heap in use right after a full collection, in MB: the live set.
    * Workloads take it at their largest in-memory step; raw usage or
    * after-young-GC peaks would mostly count garbage the collector had
    * not reached yet, which swings with GC timing. */
  def liveHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** The session every workload runs under: graft.Bench's latency
  * profile verbatim (AQE off, shuffle/spill codecs off, uncompressed
  * in-memory columnar, nanosAsLong, UTC, shuffle width from input size),
  * plus scratch directories pinned under the run's work dir. */
object Session {
  val profile = "bench-latency"

  def shuffleParts(cores: Int, inputBytes: Long): Int =
    math.max(1L, math.min(cores.toLong, inputBytes / (10L << 20))).toInt

  def confs(cores: Int, inputBytes: Long, work: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.locality.wait" -> "0",
    "spark.sql.shuffle.partitions" -> shuffleParts(cores, inputBytes).toString,
    "spark.sql.session.timeZone" -> "UTC",
    graft.Tables.nanosAsLongConf,
    "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath,
    "spark.local.dir" -> new File(work, "spark-local").getAbsolutePath,
    "spark.graft.stream.checkpointRoot" -> new File(work, "ckpt").getAbsolutePath,
  )

  def start(cores: Int, inputBytes: Long, work: File): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    confs(cores, inputBytes, work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
