package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.sources.{ImageSource, TensorStore}
import graft.tensor.{Block, DType, Filters, Interp, Measure, Morph, TBlock}

/** raster_batch: the dask-image surface over a seeded uint8 stack with
  * planted non-touching 3-d blobs, uncached: decode -> gaussian ->
  * threshold_local -> binary opening -> label (GraphCC) -> labeled
  * measures -> affine -> TensorStore write. Each step is materialized
  * before the next so its span holds its own work. One op is one full
  * pass; the unit of work is a megapixel. */
final class Raster extends Workload {
  def inputBytes(ctx: Ctx): Long = Util.treeBytes(new File(ctx.input, "frames"))

  def warmup(spark: SparkSession, ctx: Ctx): Unit =
    pass(spark, ctx, new Tracer(false, spark.sparkContext), ctx.in("warmup/*.pgm"),
      ctx.scratch("warmup")).release()

  def measure(spark: SparkSession, ctx: Ctx, tr: Tracer, seconds: Double): Phase = {
    val ph = new Phase
    val e = ctx.expected
    val blobs = e.get("blobs").asLong
    val t0 = Util.now()
    var i = 0
    while (Util.secs(t0) < seconds) {
      val out = ctx.scratch("pass")
      val (res, s) = Util.timed(tr.span("harness.pass", i) {
        scala.util.Try(pass(spark, ctx, tr, ctx.in("frames/*.pgm"), out))
      })
      if (res.isSuccess) {
        ph.op("pass", s)
        ph.busy += s
        ph.work += e.get("pixels").asDouble / 1e6
        ph.peakHeapMb = math.max(ph.peakHeapMb, Util.liveHeapMb())
      }
      ph.attempt(s"pass $i") {
        val r = res.get // a pass that threw counts as failed, with its cause
        r.release()
        if (r.labels == blobs && r.areas == blobs && r.minMean > 100.0) None
        else Some(s"labels=${r.labels} areas=${r.areas} min_mean=${r.minMean} " +
          s"expected $blobs blobs")
      }
      ph.storedBytes = Util.dataBytes(new File(out, "store"))
      ph.inputBytes = inputBytes(ctx)
      i += 1
    }
    ph.wall = Util.secs(t0)
    ph
  }

  private def materialize[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    ds.count()
    ds
  }

  /** A pass's checked outputs; its step results stay persisted (the
    * pass's peak working set) until `release`. */
  final case class PassResult(labels: Long, areas: Long, minMean: Double,
      held: Seq[Dataset[_]]) {
    def release(): Unit = held.foreach(_.unpersist())
  }

  def pass(spark: SparkSession, ctx: Ctx, tr: Tracer, glob: String, out: File): PassResult = {
    val nframes = ctx.expected.get("nframes").asInt
    val img = tr.span("sources.image_decode") {
      materialize(ImageSource.readPgm(spark, glob, "stack", nframes))
    }
    val smooth = tr.span("tensor.gaussian") {
      materialize(Filters.gaussianFilter(img, Seq(1.0, 1.0, 1.0)))
    }
    val mask = tr.span("tensor.threshold_local") {
      materialize(Filters.thresholdLocal(smooth, 3, 15, "gaussian", offset = -25.0,
        param = 2.0))
    }
    val opened = tr.span("tensor.binary_opening") {
      materialize(Morph.binaryOpening(mask, 3))
    }
    val (labels, n) = tr.span("plans.label_cc") {
      val (l, n) = Measure.label(opened, 3)
      (materialize(l), n)
    }
    val (areas, minMean) = tr.span("tensor.measure") {
      val a = Measure.area(img, labels, 3).count()
      val m = Measure.mean(img, labels, 3).collect().map(_.getDouble(1))
      (a, if (m.isEmpty) 0.0 else m.min)
    }
    val moved = tr.span("tensor.affine") {
      val c = math.cos(0.05)
      val s = math.sin(0.05)
      materialize(Interp.affineTransform(smooth, 3,
        Array(Array(1.0, 0.0, 0.0), Array(0.0, c, -s), Array(0.0, s, c)),
        Array(0.0, 4.0, -3.0)))
    }
    tr.span("sources.tensor_write") {
      TensorStore.writeTyped(TBlock.fromBlocks(moved, DType.U8),
        new File(out, "store").toString)
    }
    PassResult(n, areas, minMean, Seq(img, smooth, mask, opened, labels, moved))
  }

  override def traceCounters(spark: SparkSession, ctx: Ctx, ph: Phase): Unit =
    ph.extra("raster_bytes") = ctx.expected.get("pixels").asDouble
}
