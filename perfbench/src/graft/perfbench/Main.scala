package graft.perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one measured phase produced. Latencies are seconds per op type;
  * `work` counts the workload's unit of work (docs, megapixels,
  * requests) finished inside `wall` seconds. */
final class Phase {
  val ops = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var work = 0.0
  var busy = 0.0
  var wall = 0.0
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  var storedBytes = 0L
  var inputBytes = 0L
  /** Set-up the phase does before its clock starts (a stream query's
    * first micro-batches); the untraced phase's share counts in setup_s. */
  var primeS = 0.0
  /** Live heap at the workload's largest in-memory step (Util.liveHeapMb). */
  var peakHeapMb = 0.0

  def op(kind: String, seconds: Double): Unit = synchronized {
    ops.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds
  }

  /** Count one attempted op; `check` returns None when its output is
    * right, else the cause. A throwing op counts as failed too. */
  def attempt(what: String)(check: => Option[String]): Unit = {
    val r = try check catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    synchronized {
      attempted += 1
      r.foreach(c => failures += s"$what: $c")
    }
  }

  def json: Map[String, Any] = Map(
    "ops" -> ops.map { case (k, v) => k -> v.toSeq }, "work" -> work, "busy" -> busy,
    "wall" -> wall, "attempted" -> attempted, "failed" -> failures.size,
    "failures" -> failures.take(20).toSeq, "extra" -> extra,
    "stored_bytes" -> storedBytes, "input_bytes" -> inputBytes, "peak_heap_mb" -> peakHeapMb)
}

/** Everything a workload needs: its generated inputs, a scratch dir and
  * the planted answers. */
final class Ctx(val input: File, val work: File, val expected: JsonNode) {
  def in(name: String): String = new File(input, name).getAbsolutePath
  def scratch(name: String): File = {
    val f = new File(work, name)
    Util.deleteTree(f)
    f
  }
}

trait Workload {
  /** Set-up into fresh directories (layouts, indexes); returns
    * (layout_build_s, index_build_s). */
  def build(spark: SparkSession, ctx: Ctx): (Double, Double) = (0.0, 0.0)
  def warmup(spark: SparkSession, ctx: Ctx): Unit
  def measure(spark: SparkSession, ctx: Ctx, tr: Tracer, seconds: Double): Phase
  def inputBytes(ctx: Ctx): Long
  /** Counters only a traced run computes (outside any timed span). */
  def traceCounters(spark: SparkSession, ctx: Ctx, ph: Phase): Unit = ()
}

/** Entry point that `perfbench/run.py` launches:
  *
  *   Main --workload W --input DIR --work DIR --seconds S --trace 0|1
  *        --cores N --result FILE
  *
  * Starts the session, sets up (layouts and indexes built into fresh
  * directories), warms up, measures, and writes one
  * JSON result. With --trace 1 it measures twice — untraced, then
  * traced with the span recorder and the task listener — so the
  * tracing overhead is measured in the same run. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val input = new File(a("input"))
    val work = new File(a("work"))
    work.mkdirs()
    val expected = new ObjectMapper().readTree(new File(input, "expected.json"))
    val ctx = new Ctx(input, work, expected)
    val wl: Workload = workload match {
      case "curation_batch" => new Curation
      case "raster_batch" => new Raster
      case "interactive_mix" => new Interactive
      case "stream_ingest" => new StreamIngest
    }
    val jvm0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[harness] ${(System.currentTimeMillis() - jvm0) / 1e3}%.2f s $what")
    val (spark, sessionS) = Util.timed(Session.start(cores, wl.inputBytes(ctx), work))
    mark("session started")
    val result = mutable.LinkedHashMap.empty[String, Any]
    try {
      val (layoutS, indexS) = wl.build(spark, ctx)
      mark("built")
      val (_, warmS) = Util.timed(wl.warmup(spark, ctx))
      mark("warmed up")

      def phase(tracer: Tracer): Phase = {
        System.gc()
        wl.measure(spark, ctx, tracer, seconds)
      }
      val untraced = phase(new Tracer(false, spark.sparkContext))
      result("setup") = Map("session_s" -> sessionS,
        "layout_build_s" -> layoutS, "index_build_s" -> indexS,
        "warmup_s" -> (warmS + untraced.primeS))
      result("untraced") = untraced.json
      mark("measured")
      if (trace) {
        val listener = new LayerListener
        spark.sparkContext.addSparkListener(listener)
        val tr = new Tracer(true, spark.sparkContext)
        val traced = phase(tr)
        Thread.sleep(1000) // let the listener bus drain the last task events
        wl.traceCounters(spark, ctx, traced)
        result("traced") = traced.json
        result("spans") = tr.spanRows
        result("layer_counters") = listener.rows
        result("task_skew") = listener.worstSkew
      }
      result("context") = Map(
        "profile" -> Session.profile,
        "confs" -> Session.confs(cores, wl.inputBytes(ctx), work).toMap,
        "spark_version" -> spark.version,
        "java_version" -> sys.props("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "input_bytes" -> wl.inputBytes(ctx))
    } finally {
      val out = new java.io.PrintWriter(new File(a("result")), "UTF-8")
      try out.write(Json(result)) finally out.close()
      mark("result written")
      spark.stop()
      mark("session stopped")
    }
  }
}
