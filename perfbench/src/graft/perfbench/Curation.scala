package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.{Similarity, TextOps}
import graft.sources.{Lake, WarcSource}

/** curation_batch: the crawl-to-training-data pipeline, uncached, each
  * stage's output written to parquet before the next stage reads it:
  * WET decode -> Gopher/C4 quality -> exact dedup -> MinHash near-dedup
  * -> semantic dedup -> chunk + pack -> lake write. One op is one full
  * pass; the unit of work is an input document. */
final class Curation extends Workload {
  def inputBytes(ctx: Ctx): Long =
    Util.treeBytes(new File(ctx.input, "wet")) +
      Util.treeBytes(new File(ctx.input, "embeddings.parquet"))

  def warmup(spark: SparkSession, ctx: Ctx): Unit =
    pass(spark, ctx, new Tracer(false, spark.sparkContext), ctx.in("wet/shard_000.*"),
      ctx.scratch("warmup"))

  def measure(spark: SparkSession, ctx: Ctx, tr: Tracer, seconds: Double): Phase = {
    val ph = new Phase
    val e = ctx.expected
    val t0 = Util.now()
    var i = 0
    while (Util.secs(t0) < seconds) {
      val out = ctx.scratch("pass")
      val (res, s) = Util.timed(tr.span("harness.pass", i) {
        scala.util.Try(pass(spark, ctx, tr, ctx.in("wet/*.warc.wet.gz"), out))
      })
      if (res.isSuccess) {
        ph.op("pass", s)
        ph.busy += s
        ph.peakHeapMb = math.max(ph.peakHeapMb, Util.liveHeapMb())
        ph.work += e.get("docs").asDouble
      }
      // a pass that threw counts as failed, with its cause
      ph.attempt(s"pass $i") { res.get; checkPass(spark, out, e) }
      ph.storedBytes = Util.dataBytes(new File(out, "lake"))
      ph.inputBytes = e.get("wet_bytes").asLong
      i += 1
    }
    ph.wall = Util.secs(t0)
    ph
  }

  private def checkPass(spark: SparkSession, out: File,
      e: com.fasterxml.jackson.databind.JsonNode): Option[String] = {
    def n(stage: String) = spark.read.parquet(new File(out, stage).toString).count()
    val surv = spark.read.parquet(new File(out, "semantic").toString)
      .agg(count(lit(1)), sum("doc_id")).head()
    val lake = spark.read.parquet(new File(out, "lake").toString)
      .agg(count(lit(1)), sum("tok")).head()
    val got = Seq(
      "after_quality" -> n("quality"), "after_exact" -> n("exact"),
      "after_minhash" -> n("minhash"), "survivors" -> surv.getLong(0),
      "survivor_id_sum" -> surv.getLong(1), "chunks" -> lake.getLong(0),
      "chunk_tokens" -> lake.getLong(1))
    val bad = got.filter { case (k, v) => e.get(k).asLong != v }
    if (bad.isEmpty) None
    else Some(bad.map { case (k, v) => s"$k=$v expected ${e.get(k).asLong}" }.mkString(", "))
  }

  private def write(df: DataFrame, out: File, stage: String): DataFrame = {
    val p = new File(out, stage).toString
    df.write.parquet(p)
    df.sparkSession.read.parquet(p)
  }

  def pass(spark: SparkSession, ctx: Ctx, tr: Tracer, glob: String, out: File): Unit = {
    graft.functions.GraftExtensions.install(spark)
    val decoded = tr.span("sources.wet_decode") {
      write(Docs.fromWet(WarcSource.readWet(spark, glob)), out, "decoded")
    }
    val quality = tr.span("queries.quality_filter") {
      // the per-source Gopher counters a curation dashboard reads, then
      // the same rules as a filter
      TextOps.gopherOver(decoded).collect()
      write(Docs.quality(decoded), out, "quality")
    }
    val exact = tr.span("queries.exact_dedup") {
      val byHash = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      write(quality.withColumn("h", unhex(md5(col("text"))))
        .withColumn("rn", row_number().over(byHash))
        .filter(col("rn") === 1).drop("h", "rn"), out, "exact")
    }
    val minhash = tr.span("queries.minhash_dedup") {
      val dropped = TextOps.ccDedupGroupsOver(exact).filter(!col("keep")).select("doc_id")
      write(exact.join(dropped, Seq("doc_id"), "left_anti"), out, "minhash")
    }
    val semantic = tr.span("queries.semantic_dedup") {
      val emb = spark.read.parquet(ctx.in("embeddings.parquet"))
        .join(minhash.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      // one cluster: the engine's scale rule targets ~5000 rows per
      // cluster, and this corpus is far below one (the gated key's K=10
      // floor exists only for its fixed k-means oracle)
      val kept = Similarity.semanticDedupWith(emb, 1)
      write(minhash.join(kept.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi"),
        out, "semantic")
    }
    tr.span("queries.chunk_pack") {
      // 128-token windows advancing by 112, packed shard-locally
      // (doc_id % 8) into 2000-token training batches
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"), col("chunk_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val chunks = semantic
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
        .withColumn("n", size(col("t")))
        .withColumn("nc", when(col("n") <= 128, lit(1))
          .otherwise(lit(1) + ceil((col("n") - 128) / lit(112.0)).cast("int")))
        .select(col("doc_id"), col("lang"), (col("doc_id") % 8).as("shard"), col("t"), col("n"),
          posexplode(expr("sequence(0, nc - 1)")).as(Seq("chunk_idx", "i")))
        .withColumn("tok", least(lit(128), col("n") - col("i") * 112))
        .withColumn("text", array_join(expr("slice(t, i * 112 + 1, 128)"), " "))
        .drop("t", "i", "n")
      write(chunks.withColumn("cum", sum(col("tok")).over(w))
        .withColumn("pack", expr("(cum - tok) div 2000")).drop("cum"), out, "packed")
    }
    tr.span("sources.lake_write") {
      Lake.compactPartitioned(spark, new File(out, "packed").toString,
        new File(out, "lake").toString, "lang", "doc_id", 16)
    }
  }

  override def traceCounters(spark: SparkSession, ctx: Ctx, ph: Phase): Unit = {
    val out = new File(ctx.work, "pass")
    val exact = spark.read.parquet(new File(out, "exact").toString)
    val cand = TextOps.minhashCandidates(exact).count()
    val removed = exact.count() -
      spark.read.parquet(new File(out, "minhash").toString).count()
    ph.extra("queries.minhash_dedup.candidate_pairs") = cand.toDouble
    ph.extra("queries.minhash_dedup.verify_yield") =
      if (cand == 0) 0.0 else removed.toDouble / cand
  }
}
