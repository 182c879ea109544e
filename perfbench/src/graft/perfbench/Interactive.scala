package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.queries.{Relational, Similarity, TextOps}
import graft.sources.SigIndex

/** interactive_mix: two closed-loop clients on one driver, each sending
  * its next request only when the previous one returned. Requests are a
  * seeded mix of OLAP keys over the month-partitioned and bucketed lake
  * layouts, stored IVF-PQ top-k probes, SigIndex near-dup probes of
  * small doc batches, and appends to both indexes (one writer at a
  * time). Set-up builds the layouts and the two indexes; each run
  * appends to a fresh copy of the pristine indexes. */
final class Interactive extends Workload {
  private val dot = (a: String, b: String) =>
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
  private var pristinePq: File = _
  private var pristineSig: File = _
  private var baseVecs: Array[(Long, Array[Double])] = _
  private val olapRef = mutable.Map.empty[String, String]

  def inputBytes(ctx: Ctx): Long =
    Seq("lineitem", "orders", "customer", "documents", "embeddings")
      .map(t => new File(ctx.input, s"$t.parquet").length()).sum

  override def build(spark: SparkSession, ctx: Ctx): (Double, Double) = {
    val dir = ctx.input.getAbsolutePath
    // the engine keys its durable layouts under java.io.tmpdir: point it
    // at a fresh scratch root so nothing is reused across runs
    val root = ctx.scratch("setup")
    root.mkdirs()
    System.setProperty("java.io.tmpdir", root.getAbsolutePath)
    val (_, layoutS) = Util.timed {
      Relational.monthLineitem(spark, dir)
      Relational.bucketedFacts(spark, dir)
    }
    val (_, indexS) = Util.timed {
      pristinePq = Similarity.ensurePqIndex(spark, dir)
      pristineSig = new File(root, "sigidx")
      SigIndex.write(TextOps.nearDupBand(TextOps.nearDupSigs(
        graft.Tables.t(spark, dir, "documents"))), pristineSig.toString, "overwrite")
    }
    (layoutS, indexS)
  }

  def warmup(spark: SparkSession, ctx: Ctx): Unit = {
    baseVecs = spark.read.parquet(ctx.in("embeddings.parquet")).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> normalize(r.getSeq[Float](1).map(_.toDouble)))
    val live = new Live(spark, ctx, "warm")
    for (k <- ctx.expected.get("olap_keys").asScala.map(_.asText)) {
      olapRef(k) = render(SparkEntry.queries(k)(spark, ctx.input.getAbsolutePath).collect())
    }
    live.ann(queryVec(spark, ctx, 0))
    live.neardup(0)
    live.appendDocs(0)
    live.appendVecs(0)
  }

  private def normalize(v: Seq[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n).toArray
  }

  private def render(rows: Array[Row]): String = rows.map(_.toString).mkString("\n")

  private var queries: Map[Long, Array[Double]] = _
  private def queryVec(spark: SparkSession, ctx: Ctx, qid: Long): Array[Double] = {
    if (queries == null)
      queries = spark.read.parquet(ctx.in("queries.parquet")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    queries(qid)
  }

  /** One run's writable copies of the pristine indexes plus the requests
    * against them. */
  private final class Live(spark: SparkSession, ctx: Ctx, tag: String) {
    import spark.implicits._
    val root = ctx.scratch(s"live-$tag")
    val pq = new File(root, "pq")
    val sig = new File(root, "sig")
    val vecAppends = new File(root, "emb_appends")
    Util.copyTree(pristinePq, pq)
    Util.copyTree(pristineSig, sig)
    val appended = mutable.ArrayBuffer.empty[(Long, Array[Double])]
    private val probeDocs = spark.read.parquet(ctx.in("probe_docs.parquet"))
    private val appendDocsDf = spark.read.parquet(ctx.in("append_docs.parquet"))
    private val appendVecsDf = spark.read.parquet(ctx.in("append_vecs.parquet"))

    /** Stored-index IVF-PQ top-10: probe the 3 nearest coarse cells,
      * ADC-score their packed codes, re-rank a 200 shortlist on the float
      * vectors (the engine's serving-path shape, with the query vector
      * as a parameter). Returns (top-10 ids, codes scored). */
    def ann(q: Array[Double], countScored: Boolean = false): (Seq[Long], Long) = {
      val qdf = Seq(q.toSeq).toDF("qv")
      val cents = spark.read.parquet(new File(pq, "cents").toString)
      val cb = spark.read.parquet(new File(pq, "cb").toString)
      val codes = spark.read.parquet(new File(pq, "codes").toString)
      val probes = cents.crossJoin(broadcast(qdf))
        .select(col("c"), expr(dot("cv", "qv")).as("dp"))
        .orderBy(col("dp").desc, col("c").asc).limit(3).select(col("c").as("pc"))
      val tab = cb.crossJoin(broadcast(qdf))
        .select((col("m") * 16 + col("code")).cast("int").as("idx"),
          expr(dot("slice(qv, m * 8 + 1, 8)", "cb")).as("dp"))
        .agg(expr("map_from_entries(collect_list(struct(idx, dp)))").as("mp"))
        .select(expr("transform(sequence(0, 127), i -> try_element_at(mp, i))").as("tab"))
      val inCells = codes.join(broadcast(probes), col("cluster") === col("pc"), "left_semi")
      val ids = inCells.crossJoin(broadcast(tab))
        .select(col("vec_id"), expr("pq_adc(codes, tab)").as("adc"))
        .orderBy(col("adc").desc, col("vec_id").asc).limit(200)
        .select("vec_id").collect().map(_.getLong(0))
      val floats = {
        val base = spark.read.parquet(ctx.in("embeddings.parquet")).select("vec_id", "embedding")
        if (vecAppends.exists()) base.unionByName(spark.read.parquet(vecAppends.toString))
        else base
      }
      val top = floats.filter(col("vec_id").isin(ids: _*))
        .withColumn("nrm", sqrt(expr(dot("embedding", "embedding"))))
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)").as("v"))
        .crossJoin(broadcast(qdf))
        .select(col("vec_id"), round(expr(dot("v", "qv")), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0)).toSeq
      (top, if (countScored) inCells.count() else 0L)
    }

    /** Batch `b` of the probe docs against the SigIndex, pruned to the
      * batch's own (band, part) directories. Returns (collided ids,
      * probed partition keys). */
    def neardup(b: Long): (Set[Long], Seq[Int]) = {
      val docs = probeDocs.filter(col("batch") === b)
      val banded = TextOps.nearDupBand(TextOps.nearDupSigs(docs))
      val keys = SigIndex.probeKeys(banded)
      val idx = SigIndex.prunedRead(spark, sig.toString, keys).withColumnRenamed("sig", "idx_sig")
      val hit = TextOps.nearDupCollidedIds(
        TextOps.nearDupSigs(docs).select("doc_id", "sig"), idx)
        .collect().map(_.getLong(0)).toSet
      (hit, keys)
    }

    def appendDocs(b: Long): Unit =
      SigIndex.write(TextOps.nearDupBand(TextOps.nearDupSigs(
        appendDocsDf.filter(col("batch") === b))), sig.toString, "append")

    def appendVecs(b: Long): Unit = {
      val raw = appendVecsDf.filter(col("batch") === b).select("vec_id", "embedding")
      val normed = raw.withColumn("nrm", sqrt(expr(dot("embedding", "embedding"))))
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)").as("v"))
      Similarity.appendPqCodes(spark, pq, normed)
      raw.write.mode("append").parquet(vecAppends.toString)
      synchronized {
        appended ++= raw.collect().map(r => r.getLong(0) -> normalize(r.getSeq[Float](1).map(_.toDouble)))
      }
    }

    /** Brute-force cosine top-10 over the base and appended vectors. */
    def exactTop10(q: Array[Double]): Set[Long] = {
      val all = baseVecs.iterator ++ synchronized(appended.toList).iterator
      all.map { case (id, v) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * q(i); i += 1 }
        (id, s)
      }.toSeq.sortBy(x => (-x._2, x._1)).take(10).map(_._1).toSet
    }
  }

  /** Share of the scanned relations' files a query read (partition and
    * bucket pruning), from the executed plan's scan metrics. */
  private def filesReadFrac(df: DataFrame): Option[Double] = {
    val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    val total = scans.map(_.relation.location.inputFiles.length.toDouble).sum
    val read = scans.flatMap(_.metrics.get("numFiles")).map(_.value.toDouble).sum
    if (total > 0) Some(read / total) else None
  }

  def measure(spark: SparkSession, ctx: Ctx, tr: Tracer, seconds: Double): Phase = {
    val ph = new Phase
    val live = new Live(spark, ctx, if (tr.enabled) "traced" else "run")
    val dir = ctx.input.getAbsolutePath
    val expectNear = ctx.expected.get("neardup_expected")
    val clients = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(ctx.input, "requests.json"))
    val writeLock = new Object
    val recalls = mutable.ArrayBuffer.empty[Double]
    val filesFrac = mutable.ArrayBuffer.empty[Double]
    val bytesFrac = mutable.ArrayBuffer.empty[Double]
    val scored = mutable.ArrayBuffer.empty[Double]
    val t0 = Util.now()
    val deadline = t0 + (seconds * 1e9).toLong

    def request(c: Int, i: Int, r: JsonNode): Unit = {
      val req = c * 100000L + i
      val kind = r.get("op").asText
      val s0 = Util.now()
      kind match {
        case "olap" =>
          val key = r.get("key").asText
          val (df, rows) = tr.span("queries.olap_request", req) {
            val df = SparkEntry.queries(key)(spark, dir)
            (df, df.collect())
          }
          ph.op("olap", Util.secs(s0))
          ph.attempt(s"olap $key") {
            if (render(rows) == olapRef(key)) None else Some("result differs from set-up run")
          }
          if (tr.enabled) filesReadFrac(df).foreach(f => synchronized(filesFrac += f))
        case "ann" =>
          val q = queryVec(spark, ctx, r.get("query").asLong)
          val (top, _) = tr.span("queries.ann_probe", req)(live.ann(q))
          ph.op("ann", Util.secs(s0))
          val truth = live.exactTop10(q)
          synchronized(recalls += top.count(truth.contains) / 10.0)
          ph.attempt("ann probe") {
            Option(r.get("expect")).map(_.asLong).filterNot(top.contains)
              .map(id => s"appended vector $id not in top-10 ${top.mkString(",")}")
          }
          if (tr.enabled) synchronized(scored += live.ann(q, countScored = true)._2.toDouble)
        case "neardup" =>
          val b = r.get("batch").asLong
          val (hit, keys) = tr.span("queries.neardup_probe", req)(live.neardup(b))
          ph.op("neardup", Util.secs(s0))
          val want = expectNear.get(b.toString).asScala.map(_.asLong).toSet
          ph.attempt(s"neardup batch $b") {
            if (hit == want) None else Some(s"collided ${hit.toSeq.sorted} expected ${want.toSeq.sorted}")
          }
          if (tr.enabled) {
            val probed = keys.map { k =>
              Util.dataBytes(new File(live.sig, s"band=${k / SigIndex.BucketFanout}/part=${k % SigIndex.BucketFanout}"))
            }.sum
            synchronized(bytesFrac += probed / math.max(1.0, Util.dataBytes(live.sig).toDouble))
          }
        case "append_docs" | "append_vecs" =>
          val b = r.get("batch").asLong
          writeLock.synchronized {
            val s1 = Util.now()
            tr.span("sources.index_append", req) {
              if (kind == "append_docs") live.appendDocs(b) else live.appendVecs(b)
            }
            ph.op("append", Util.secs(s1))
          }
          ph.attempt(kind)(None)
      }
    }

    val threads = (0 until 2).map { c =>
      new Thread(() => {
        val seq = clients.get(c)
        var i = 0
        while (Util.now() < deadline) {
          try request(c, i, seq.get(i % seq.size))
          catch { case e: Throwable => ph.attempt(s"client $c request $i")(throw e) }
          i += 1
          synchronized(ph.work += 1)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    ph.wall = Util.secs(t0)
    ph.busy = ph.wall
    ph.peakHeapMb = Util.liveHeapMb() // both indexes hold every append
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    if (recalls.nonEmpty) ph.attempt("ann recall@10") {
      if (recall >= 0.7) None else Some(f"mean recall@10 $recall%.3f below the 0.7 floor")
    }
    ph.extra("queries.ann_probe.recall_at_10") = recall
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    if (tr.enabled) {
      ph.extra("queries.olap_request.files_read_frac") = mean(filesFrac.toSeq)
      ph.extra("queries.neardup_probe.index_bytes_read_frac") = mean(bytesFrac.toSeq)
      ph.extra("queries.ann_probe.candidates_scored") = mean(scored.toSeq)
    }
    ph.storedBytes = Util.dataBytes(live.pq) + Util.dataBytes(live.sig) +
      Util.dataBytes(live.vecAppends) + Util.dataBytes(Relational.monthLayoutDir(dir)) +
      Seq("lineitem", "orders").map(t => Util.dataBytes(Relational.bucketedLayoutDir(dir, t))).sum
    ph.inputBytes = inputBytes(ctx)
    ph
  }
}
