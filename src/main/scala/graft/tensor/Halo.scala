package graft.tensor

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Float64 view of the halo engine — `map_overlap` for kernels written
  * over doubles (the ndfilters surface, Interp's spline prefilter). Each
  * entry point encodes its blocks to F64 [[TBlock]]s, runs the one
  * byte-domain engine [[THalo]] (one payload placement, then a slab-only
  * exchange, boundary modes resolved at array edges), and decodes at the
  * kernel edge. F64 round-trips every double bit for bit, so kernels see
  * exactly the values they were given.
  */
object Halo {

  /** A block together with its assembled halo: `padded` has shape
    * `block.shape + 2*depth`; element (c) corresponds to global
    * coordinate `block.origin − depth + c`. */
  case class Padded(block: Block, depth: Seq[Int], padded: Array[Double]) {
    def paddedShape: Array[Int] =
      block.shape.indices.map(k => block.shape(k) + 2 * depth(k)).toArray
    def nd: Nd = Nd.of(paddedShape, padded)
  }

  /** The `map_overlap` equivalent: run `kernel` over every block padded by
    * `depth` with `mode` boundary handling; the kernel returns the output
    * for the block's own (unpadded) region. */
  def mapOverlap(ds: Dataset[Block], depth: Seq[Int], mode: Boundary)(
      kernel: Padded => Array[Double]): Dataset[Block] =
    overlap(ds, _ => depth, mode)(kernel)

  /** Uniform-depth variant: depth d on every axis, rank taken from each
    * block (avoids an eager ndim probe on the Dataset). */
  def mapOverlapU(ds: Dataset[Block], depth: Int, mode: Boundary)(
      kernel: Padded => Array[Double]): Dataset[Block] =
    overlap(ds, Seq.fill(_)(depth), mode)(kernel)

  /** Assemble every block + halo (shared by the fused pixel-pair ops). */
  def exchange(ds: Dataset[Block], depth: Seq[Int], mode: Boundary): Dataset[Padded] = {
    val spark = ds.sparkSession
    import spark.implicits._
    spark.createDataset(padded(ds, _ => depth, mode))
  }

  private def overlap(ds: Dataset[Block], depthOf: Int => Seq[Int], mode: Boundary)(
      kernel: Padded => Array[Double]): Dataset[Block] = {
    val spark = ds.sparkSession
    import spark.implicits._
    spark.createDataset(padded(ds, depthOf, mode).map(p => p.block.copy(data = kernel(p))))
  }

  private def padded(ds: Dataset[Block], depthOf: Int => Seq[Int],
      mode: Boundary): RDD[Padded] =
    THalo.exchangeRdd(ds.rdd.map(TBlock.fromBlock(_, DType.F64)), depthOf, mode)
      .map(_.decoded)
}
