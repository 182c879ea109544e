package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: regex over query keys (local iteration only —
    // the driver always runs the full map)
    val keyFilter: String => Boolean =
      if (args.length > 2) { val re = args(2).r; s => re.findFirstIn(s).isDefined }
      else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongConf._1, Tables.nanosAsLongConf._2)
      .config("spark.sql.warehouse.dir", {
        // per-run temp warehouse, deleted at exit (same rationale as
        // Bench: stranded graft_wh* dirs accumulate bucketed/partitioned
        // fact copies in /tmp across runs)
        val wh = java.nio.file.Files.createTempDirectory("graft_wh")
        queries.TmpCleanup.register(wh)
        wh.toString
      })
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Self-forensic sidecars (stream_embedding_dedup) land INSIDE this
    // dump so the driver ships them with the parquet the oracle hashes
    // (r22, verdict #1 — the /tmp sidecar was never driver-visible).
    sys.props("graft.forensics.dir") = outDir
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Per-key outcome, rewritten after every key so a run that dies midway
    // still records what finished and why a key failed:
    // {"<key>": {"status": "ok"|"failed", "wall_s": s[, "error_class": …,
    // "error": …]}}. check_oracle.py globs only query dirs, so it skips it.
    val status = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.filter(kv => keyFilter(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(e)
        }
      val wall = f"${(System.nanoTime() - t0) / 1e9}%.3f"
      val cause = failure.fold("") { e =>
        s""", "error_class": ${q(e.getClass.getName)}, "error": ${q(String.valueOf(e.getMessage))}"""
      }
      val ok = if (failure.isEmpty) "ok" else "failed"
      status += s"""${q(name)}: {"status": "$ok", "wall_s": $wall$cause}"""
      Files.writeString(Paths.get(s"$outDir/_status.json"), status.mkString("{", ",\n", "}\n"))
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
