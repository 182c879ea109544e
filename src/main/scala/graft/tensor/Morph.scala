package graft.tensor

import org.apache.spark.sql.Dataset

/** Binary morphology (dask_image.ndmorph, 4 ops — SURVEY.md §2A.6) on
  * float64 blocks: boolean images ride the Double payload as 0.0 / 1.0,
  * and every op runs as the byte-domain [[TMorph]] on their BOOL view.
  */
object Morph {

  /** scipy.ndimage.generate_binary_structure(rank, connectivity):
    * true where Σ|offset| ≤ connectivity. */
  def binaryStructure(rank: Int, connectivity: Int = 1): Nd = {
    val s = Nd.zeros(Array.fill(rank)(3))
    s.foreachCoord { c =>
      val dist = c.map(x => math.abs(x - 1)).sum
      if (dist <= connectivity) s(c) = 1.0
    }
    s
  }

  /** Per-axis structure radii: an axis the structure does not span gets
    * radius 0 — so a 2-d cross embedded in a 3-d frame stack ships NO
    * frame-axis halo at all (the scalar-max form copied whole neighbor
    * frames for nothing). */
  private[tensor] def radii(st: Nd, center: Seq[Int]): Seq[Int] =
    st.shape.indices.map(k => math.max(center(k), st.shape(k) - 1 - center(k)))

  /** Run a [[TMorph]] op on the BOOL view of float64 blocks. BOOL stores
    * `v != 0.0` (nonzero is foreground: NaN is, −0.0 is not) and decodes
    * to 0.0/1.0, so the float entry points keep scipy's semantics while
    * every halo shuffle moves 1 byte/pixel. */
  private def viaBool(ds: Dataset[Block])(
      op: Dataset[TBlock] => Dataset[TBlock]): Dataset[Block] =
    TBlock.toBlocks(op(TBlock.fromBlocks(ds, DType.BOOL)))

  /** binary_erosion (ndmorph/__init__.py::binary_erosion; scipy default
    * border_value=0 — the border erodes). */
  def binaryErosion(ds: Dataset[Block], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1, borderValue: Double = 0.0): Dataset[Block] =
    viaBool(ds)(TMorph.binaryErosion(_, rank, structure, iterations, borderValue))

  /** binary_dilation (border treated as 0, scipy default). */
  def binaryDilation(ds: Dataset[Block], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1, borderValue: Double = 0.0): Dataset[Block] =
    viaBool(ds)(TMorph.binaryDilation(_, rank, structure, iterations, borderValue))

  /** binary_opening = erosion then dilation, over ONE payload placement:
    * both passes ship face slabs only. */
  def binaryOpening(ds: Dataset[Block], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1): Dataset[Block] =
    viaBool(ds)(TMorph.binaryOpening(_, rank, structure, iterations))

  /** binary_closing = dilation then erosion (one payload placement, as
    * [[binaryOpening]]). */
  def binaryClosing(ds: Dataset[Block], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1): Dataset[Block] =
    viaBool(ds)(TMorph.binaryClosing(_, rank, structure, iterations))
}

/** Byte-domain binary morphology — the engine's one morphology kernel,
  * scipy semantics over 1-byte (bool/uint8) typed payloads. Morphology is
  * a boolean-domain family, so the mask halo-exchanges, erodes, and
  * dilates entirely in the byte domain (TensorSpec pins the widths and
  * checks both entry points against a naive full-array oracle). Each op
  * is `map_overlap` with depth = structure radius × iterations
  * (dask_image/ndmorph/_utils.py::_get_depth ≈ L10–40); iterations run
  * inside ONE padded kernel, so an N-iteration op costs a single halo
  * exchange. */
object TMorph {

  /** (depth, kernel) of one typed morphology pass — shared by the
    * Dataset form and the co-partitioned chain form. */
  private def pass(structure: Option[Nd], iterations: Int, rank: Int,
      erode: Boolean): (Seq[Int], THalo.TPadded => Array[Byte]) = {
    val st = structure.getOrElse(Morph.binaryStructure(rank, 1))
    val center = st.shape.map(_ / 2)
    val r = Morph.radii(st, center)
    val depth = r.map(_ * iterations)
    val offs = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      st.foreachCoord(c => if (st(c) != 0.0) buf += c.indices.map(k => c(k) - center(k)).toArray)
      buf.toArray
    }
    (depth, p => {
      require(p.block.dt.bytes == 1,
        s"TMorph: 1-byte (bool/uint8) payloads only, got ${p.block.dtype}")
      val d = p.block.ndim
      var cur = p.bnd
      var it = 0
      while (it < iterations) {
        // valid output region shrinks by the per-axis radius per iteration
        val outShape = cur.shape.indices.map(k => cur.shape(k) - 2 * r(k)).toArray
        val out = BNd.zeros(outShape, 1)
        val oc = new Array[Int](d)
        var done = outShape.exists(_ == 0)
        while (!done) {
          var ok = erode // erode: assume all-1 until a 0; dilate: assume no-1
          var t = 0
          while (t < offs.length && (ok == erode)) {
            var off = 0
            var k = 0
            while (k < d) { off += (oc(k) + r(k) + offs(t)(k)) * cur.strides(k); k += 1 }
            val v = cur.data(off) != 0
            if (erode) { if (!v) ok = false } else { if (v) ok = true }
            t += 1
          }
          out.data(out.offset(oc)) = if (ok) 1 else 0
          var j = d - 1
          var carry = true
          while (carry && j >= 0) {
            oc(j) += 1
            if (oc(j) < outShape(j)) carry = false else { oc(j) = 0; j -= 1 }
          }
          done = carry
        }
        cur = out
        it += 1
      }
      require(cur.shape.toSeq == p.block.shape)
      cur.data
    })
  }

  private def run(ds: Dataset[TBlock], structure: Option[Nd], iterations: Int,
      borderValue: Double, rank: Int, erode: Boolean): Dataset[TBlock] = {
    val (depth, kernel) = pass(structure, iterations, rank, erode)
    // scipy: the outside of the array reads as `borderValue`
    THalo.mapOverlap(ds, depth, Boundary.Constant(borderValue))(kernel)
  }

  /** Two-pass chain (opening/closing) over ONE payload placement: the
    * input pays a single partitionBy shuffle, then both passes ship only
    * face slabs ([[THalo.mapOverlapP]]). The intermediate is persisted —
    * it feeds both the second pass's slab emission and its zip. */
  private def chainP(ds: Dataset[TBlock], structure: Option[Nd], iterations: Int,
      rank: Int, firstErode: Boolean): Dataset[TBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val blocks = ds.rdd
    val parts = math.max(1, blocks.getNumPartitions)
    val (depth, first) = pass(structure, iterations, rank, erode = firstErode)
    val (_, second) = pass(structure, iterations, rank, erode = !firstErode)
    val border = Boundary.Constant(0.0)
    val mid = THalo.mapOverlapP(THalo.partitionBlocks(blocks, parts), parts, depth, border)(
      first).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    spark.createDataset(THalo.mapOverlapP(mid, parts, depth, border)(second))
  }

  def binaryErosion(ds: Dataset[TBlock], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1, borderValue: Double = 0.0): Dataset[TBlock] =
    run(ds, structure, iterations, borderValue, rank, erode = true)

  def binaryDilation(ds: Dataset[TBlock], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1, borderValue: Double = 0.0): Dataset[TBlock] =
    run(ds, structure, iterations, borderValue, rank, erode = false)

  /** binary_opening / binary_closing — over ONE payload placement: both
    * passes ship face slabs only. */
  def binaryOpening(ds: Dataset[TBlock], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1): Dataset[TBlock] =
    chainP(ds, structure, iterations, rank, firstErode = true)

  def binaryClosing(ds: Dataset[TBlock], rank: Int, structure: Option[Nd] = None,
      iterations: Int = 1): Dataset[TBlock] =
    chainP(ds, structure, iterations, rank, firstErode = false)
}
