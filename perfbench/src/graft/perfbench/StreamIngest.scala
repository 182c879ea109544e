package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQueryListener}

import graft.queries.TextOps
import graft.sources.WarcSource
import graft.streaming.StreamOps

/** stream_ingest: an open loop. WET shards land in a watched directory
  * on the generator's fixed schedule whether or not the stream keeps
  * up; a Structured Streaming query (one shard per micro-batch) decodes
  * them, applies the Gopher quality gate and keep-first MinHash near-dup
  * dedup held as per-bucket state (the engine's stream near-dedup state
  * function). Each shard is timed from when it was due to when its
  * verdicts reached the sink; the unit of work is a document. */
final class StreamIngest extends Workload {
  def inputBytes(ctx: Ctx): Long = Util.treeBytes(new File(ctx.input, "shards"))

  /** Checkpoint bytes the micro-batches wrote: offsets, commits and
    * state deltas. Checksums and the state store's snapshots are left
    * out: a snapshot is written by a background task on a wall-clock
    * interval, so whether one lands inside a run depends on the
    * machine's speed, not on the data. */
  private def logBytes(f: File): Long =
    Util.bytesWhere(f)(n => !n.startsWith(".") && !n.endsWith(".snapshot"))

  private def shardFile(ctx: Ctx, s: Int) = new File(ctx.input, f"shards/shard_$s%05d.warc.wet.gz")

  private def verdictStream(spark: SparkSession, land: File): DataFrame = {
    import spark.implicits._
    graft.functions.GraftExtensions.install(spark)
    val recs = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("pathGlobFilter", "*.warc.wet.gz")
      .option("maxFilesPerTrigger", "1")
      .load(land.toString)
      .select(col("content")).as[Array[Byte]]
      .flatMap(WarcSource.parseWetBytes)
      .toDF("uri", "rec_type", "text")
    import TextOps.{bandKeysExpr, minhashSigFoldExpr, shingleArrayExpr}
    val bands = Docs.quality(Docs.fromWet(recs))
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .withColumn("sh", expr(shingleArrayExpr))
      .withColumn("sig", when(size(col("t")) >= 3, expr(minhashSigFoldExpr)))
      .select(col("doc_id"), col("source"),
        explode(when(col("sig").isNotNull, expr(bandKeysExpr))
          .otherwise(array(concat(lit("solo|"), col("doc_id"))))).as("bucket"),
        col("sig"))
    bands.as[(Long, String, String, Seq[Long])].groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        StreamOps.bucketStateFunc(1 << 14, 0L))
      .toDF("doc_id", "source", "collide", "n_state")
  }

  /** Batch keep-first verdicts over the same shards: a doc is dropped
    * iff an earlier doc shares an LSH band bucket with it at >= 26/32
    * signature agreement. */
  private def batchDropped(spark: SparkSession, glob: String): Set[Long] = {
    val sigs = TextOps.nearDupBand(TextOps.nearDupSigs(
      Docs.quality(Docs.fromWet(WarcSource.readWet(spark, glob)))))
    sigs.as("b").join(sigs.select(col("doc_id").as("a_id"), col("band"), col("bucket"),
        col("sig").as("idx_sig")), Seq("band", "bucket"))
      .filter(col("a_id") < col("doc_id") && expr(TextOps.sigAgreeExpr))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
  }

  private final class Run(spark: SparkSession, ctx: Ctx, tr: Tracer, tag: String) {
    val land = ctx.scratch(s"land-$tag")
    land.mkdirs()
    val batchEnd = new ConcurrentHashMap[Long, Long]()   // batchId -> ns
    val verdicts = new ConcurrentHashMap[Long, Boolean]() // doc -> dropped
    val docBatch = new ConcurrentHashMap[Long, Long]()    // doc -> batchId
    val progress = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double, Long)]
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val durMs = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val state = p.stateOperators.map(_.memoryUsedBytes).sum
        progress.synchronized {
          progress += ((p.batchId, startMs, durMs, p.numInputRows, p.processedRowsPerSecond, state))
        }
      }
    }

    def start(): org.apache.spark.sql.streaming.StreamingQuery = {
      spark.streams.addListener(listener)
      verdictStream(spark, land).writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ctx.scratch(s"ckpt-$tag").toString)
        .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], id: Long) =>
          df.select("doc_id", "collide").collect().foreach { r =>
            verdicts.merge(r.getLong(0), r.getBoolean(1), (a: Boolean, b: Boolean) => a || b)
            docBatch.put(r.getLong(0), id)
          }
          batchEnd.put(id, System.nanoTime())
          ()
        }.start()
    }

    /** Land shard `s`: copy under a hidden name, then rename into the
      * watched glob so the source never sees a partial file. */
    def landShard(s: Int): Unit = {
      val tmp = new File(land, f".shard_$s%05d.tmp")
      Files.copy(shardFile(ctx, s).toPath, tmp.toPath)
      Files.move(tmp.toPath, new File(land, shardFile(ctx, s).getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }

    def stop(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  def warmup(spark: SparkSession, ctx: Ctx): Unit = {
    val run = new Run(spark, ctx, new Tracer(false, spark.sparkContext), "warm")
    val q = run.start()
    // a few shards load the stream's classes and code paths; each
    // measured query primes its own first micro-batches (see measure)
    (0 until 4).foreach(run.landShard)
    q.processAllAvailable()
    run.stop(q)
    batchDropped(spark, new File(run.land, "*.warc.wet.gz").toString)
  }

  /** Shards a measured query runs back to back before its clock starts. */
  private val primeShards = 15

  def measure(spark: SparkSession, ctx: Ctx, tr: Tracer, seconds: Double): Phase = {
    val ph = new Phase
    val e = ctx.expected
    val per = e.get("docs_per_shard").asInt
    val due = e.get("due_ms").asScala.map(_.asLong).toIndexedSeq
    val shards = due.indices.filter(s => due(s) < seconds * 1000).toIndexedSeq
    val run = new Run(spark, ctx, tr, if (tr.enabled) "traced" else "run")
    val q = run.start()
    // prime the query with the generator's last shards (ids above every
    // measured doc, so keep-first verdicts of measured docs cannot depend
    // on them): a new query's first micro-batch plans and opens its state
    // store, and its next ten or so stay ~30% slower than the rest, which
    // is set-up, not the steady per-shard latency
    val primeFrom = due.size - primeShards
    require(shards.forall(_ < primeFrom), s"--seconds $seconds outruns the generated shards")
    ph.primeS = Util.timed {
      (primeFrom until due.size).foreach(run.landShard)
      q.processAllAvailable()
    }._2
    val primed = run.batchEnd.keySet.asScala.toSet
    // one idle interval, so the query's post-burst bookkeeping does not
    // land on the first measured shard
    Thread.sleep(e.get("interval_ms").asLong)
    val t0 = Util.now()
    val wallMs0 = System.currentTimeMillis()
    val landed = mutable.ArrayBuffer.empty[Long]
    for (s <- shards) {
      val wait = t0 + due(s) * 1000000L - Util.now()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      run.landShard(s)
      landed += Util.now()
    }
    // drain: the open loop is over; every landed shard must reach the sink
    q.processAllAvailable()
    ph.wall = Util.secs(t0)
    ph.peakHeapMb = Util.liveHeapMb() // every shard's state is loaded
    run.stop(q)

    val batchDrop = batchDropped(spark, new File(run.land, "*.warc.wet.gz").toString)
    val lowPer = e.get("shard_low")
    val dropPer = e.get("shard_dropped")
    val prog = run.progress.synchronized(run.progress.toList)
    val startOf = prog.map(p => p._1 -> p._2).toMap
    val lags = mutable.ArrayBuffer.empty[Double]
    for (s <- shards) {
      val ids = (s.toLong * per until (s + 1).toLong * per)
      val batches = ids.flatMap(d => Option(run.docBatch.get(d)).map(_.longValue))
      val commit = batches.map(b => run.batchEnd.get(b).longValue).maxOption
      commit.foreach(c => ph.op("shard", (c - (t0 + due(s) * 1000000L)) / 1e9))
      batches.headOption.flatMap(startOf.get).foreach { ms =>
        lags += (ms - wallMs0) / 1e3 - Util.secs(t0, landed(s))
      }
      ph.attempt(s"shard $s") {
        val dropped = ids.filter(d => Option(run.verdicts.get(d)).exists(_.booleanValue)).toSet
        val seen = ids.count(run.verdicts.containsKey)
        val wantLow = lowPer.get(s).asInt
        val wantDrop = dropPer.get(s).asInt
        val batchSet = ids.filter(batchDrop.contains).toSet
        if (commit.isEmpty) Some("verdicts never committed")
        else if (dropped != batchSet) Some(s"stream drops ${dropped.toSeq.sorted} batch drops ${batchSet.toSeq.sorted}")
        else if (per - seen != wantLow || dropped.size != wantDrop)
          Some(s"gated ${per - seen} dropped ${dropped.size}, expected $wantLow and $wantDrop")
        else None
      }
    }
    val busy = prog.filter(p => p._4 > 0 && !primed(p._1))
    ph.work = shards.map(s => (s.toLong * per until (s + 1).toLong * per)
      .count(run.verdicts.containsKey)).sum.toDouble
    ph.busy = busy.map(_._3).sum / 1e3
    ph.storedBytes = logBytes(new File(ctx.work, s"ckpt-${if (tr.enabled) "traced" else "run"}"))
    // the checkpoint holds the primed shards' offsets and state too
    ph.inputBytes = (shards ++ (primeFrom until due.size)).map(s => shardFile(ctx, s).length()).sum
    ph.extra("harness.loadgen_lag_max_s") =
      shards.map(s => Util.secs(t0, landed(s)) - due(s) / 1e3).max
    if (tr.enabled) {
      val nsOfMs = (ms: Long) => t0 + (ms - wallMs0) * 1000000L
      busy.foreach(p =>
        tr.record("streaming.micro_batch", nsOfMs(p._2), nsOfMs(p._2) + p._3 * 1000000L, p._1))
      ph.extra("streaming.micro_batch.state_mb") = prog.map(_._6).maxOption.getOrElse(0L) / 1e6
      ph.extra("streaming.micro_batch.rows_per_s") =
        if (busy.isEmpty) 0.0 else busy.map(_._5).sum / busy.size
      ph.extra("streaming.trigger_lag_s") = if (lags.isEmpty) 0.0 else lags.sum / lags.size
    }
    ph
  }
}
