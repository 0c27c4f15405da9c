package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Product-quantization kernels (IVF-PQ, the 10^12-vector ANN shape):
  * a vector of `dim` floats is encoded as `m` one-byte codes — each
  * subspace of dim/m dimensions quantized to its nearest of <=256
  * per-subspace centroids. Candidates then shuffle as m BYTES instead
  * of dim floats (dim=64, m=8: 32x less candidate traffic), and
  * queries rank candidates by asymmetric distance (ADC): the exact
  * query subvector against the candidate's quantized centroids.
  *
  * Codebooks are plan constants (broadcast inside the plan, like the
  * IVF codebook), flattened (s, c, d)-major; every kernel is a single
  * fused loop. The residual variants quantize v - coarse[cell] (the
  * offset from the row's coarse IVF centroid,
  * [[graft.ops.Similarity.nearestCentroid]]) instead of the raw vector —
  * the classic recall improvement at identical index shape (same m bytes
  * per candidate, same probe join).
  */
object PqKernels {

  /** Codebooks must be RECTANGULAR: a ragged array passes a head-only
    * check and then silently misindexes the flattened
    * (s*codes + c)*subDim layout every kernel reads (garbage codes /
    * ADC distances, or an out-of-bounds read mid-job).
    */
  def requireRect(codebooks: Array[Array[Array[Double]]]): Unit = {
    require(codebooks.nonEmpty && codebooks.head.nonEmpty &&
      codebooks.head.length <= 256, "1..256 codes per subspace")
    val codes = codebooks.head.length
    val subDim = codebooks.head.head.length
    require(codebooks.forall(b => b.length == codes && b.forall(_.length == subDim)),
      s"ragged codebooks: every subspace needs exactly $codes codes of sub-dim $subDim")
  }

  def requireShapes(coarse: Array[Array[Double]],
                    codebooks: Array[Array[Array[Double]]]): Unit = {
    requireRect(codebooks)
    val dim = codebooks.length * codebooks.head.head.length
    require(coarse.nonEmpty && coarse.forall(_.length == dim),
      s"every coarse centroid must have dim $dim")
  }

  /** Marker for "no residual subtraction" (raw-vector quantization). */
  val noCoarse: Array[Double] = Array.empty[Double]

  /** Flat offset of `cell`'s centroid, clamped into the codebook — a
    * corrupt/out-of-range cell id degrades deterministically (edge
    * centroid) instead of reading out of bounds.
    */
  private def clampBase(coarseFlat: Array[Double], dim: Int, cell: Int): Int =
    if (coarseFlat.length == 0) 0
    else {
      val nCells = coarseFlat.length / dim
      val cc = if (cell < 0) 0 else if (cell >= nCells) nCells - 1 else cell
      cc * dim
    }

  /** Reads past the vector's actual length return 0.0 — a ragged or
    * corrupt embedding row (numElements < m*subDim) degrades
    * deterministically instead of reading out-of-bounds ArrayData
    * (silent garbage on UnsafeArrayData, AIOOBE on GenericArrayData).
    * Same contract as VectorKernels.ivfProbes/planeDots.
    *
    * With a non-empty `coarseFlat` (k x dim row-major) the read is the
    * RESIDUAL component: v_i - coarse[cell]_i (classic residual PQ —
    * quantize the offset from the coarse centroid, tighter cells at
    * the same index shape).
    */
  private def elem(a: ArrayData, isFloat: Boolean, i: Int, n: Int,
                   coarseFlat: Array[Double], base: Int): Double = {
    val raw =
      if (i >= n) 0.0
      else if (isFloat) a.getFloat(i).toDouble
      else a.getDouble(i)
    if (coarseFlat.length > 0) raw - coarseFlat(base + i) else raw
  }

  /** Encode: byte s = argmin_c ||v_s - cb[s][c]||^2, ties to the lower
    * code. `flat` is (s, c, d)-major: flat[(s*codes + c)*subDim + d].
    */
  def encode(v: ArrayData, isFloat: Boolean, flat: Array[Double],
             m: Int, codes: Int, subDim: Int): Array[Byte] =
    encodeRes(v, 0, isFloat, flat, m, codes, subDim, noCoarse)

  /** [[encode]] of the residual v - coarse[cell] (see [[elem]]). */
  def encodeRes(v: ArrayData, cell: Int, isFloat: Boolean, flat: Array[Double],
                m: Int, codes: Int, subDim: Int,
                coarseFlat: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](m)
    val n = v.numElements()
    val cbase = clampBase(coarseFlat, m * subDim, cell)
    var s = 0
    while (s < m) {
      var best = 0
      var bd = Double.PositiveInfinity
      var c = 0
      while (c < codes) {
        var d2 = 0.0
        val base = (s * codes + c) * subDim
        var d = 0
        while (d < subDim) {
          val diff = elem(v, isFloat, s * subDim + d, n, coarseFlat, cbase) - flat(base + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bd) { bd = d2; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** [[encode]] with `array<int>` output (SQL-indexable codes). */
  def encodeInts(v: ArrayData, isFloat: Boolean, flat: Array[Double],
                 m: Int, codes: Int, subDim: Int): ArrayData =
    encodeIntsRes(v, 0, isFloat, flat, m, codes, subDim, noCoarse)

  /** [[encodeRes]] with `array<int>` output. */
  def encodeIntsRes(v: ArrayData, cell: Int, isFloat: Boolean, flat: Array[Double],
                    m: Int, codes: Int, subDim: Int,
                    coarseFlat: Array[Double]): ArrayData = {
    val bytes = encodeRes(v, cell, isFloat, flat, m, codes, subDim, coarseFlat)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) { out(s) = bytes(s) & 0xff; s += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ADC: sum over subspaces of ||q_s - centroid[s][code_s]||^2 —
    * the asymmetric (exact-query x quantized-candidate) squared
    * distance.
    */
  def adc(q: ArrayData, codeBytes: Array[Byte], isFloat: Boolean,
          flat: Array[Double], m: Int, codes: Int, subDim: Int): Double =
    adcRes(q, 0, codeBytes, isFloat, flat, m, codes, subDim, noCoarse)

  /** [[adc]] in residual space: the candidate's code quantizes
    * v - coarse[cell], so the query compares as q - coarse[cell] with
    * `cell` the CANDIDATE's coarse cell (known at the probe join).
    */
  def adcRes(q: ArrayData, cell: Int, codeBytes: Array[Byte], isFloat: Boolean,
             flat: Array[Double], m: Int, codes: Int, subDim: Int,
             coarseFlat: Array[Double]): Double = {
    var acc = 0.0
    val n = q.numElements()
    val cbase = clampBase(coarseFlat, m * subDim, cell)
    var s = 0
    while (s < m) {
      val c = codeBytes(s) & 0xff
      val base = (s * codes + c) * subDim
      var d = 0
      while (d < subDim) {
        val diff = elem(q, isFloat, s * subDim + d, n, coarseFlat, cbase) - flat(base + d)
        acc += diff * diff
        d += 1
      }
      s += 1
    }
    acc
  }
}
