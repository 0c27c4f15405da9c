package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Signature kernels of the near-dup stages: MinHash signatures, their
  * LSH band keys and slot agreement, and SimHash — each one fused loop
  * in place of interpreted higher-order expressions (the declarative
  * twins are law-checked in FunctionsSpec).
  */
object SigKernels {
  private val PRIME = 2147483647L // 2^31 - 1

  /** Permutation coefficients of [[minhash]]: odd a_i and b_i, Det-derived
    * exactly as the declarative twin derives them.
    */
  def minhashA(k: Int): Array[Long] =
    Array.tabulate(k)(i => (graft.util.Det.at(0x5eedL, i.toLong * 2) & 0x7fffffffL) | 1L)
  def minhashB(k: Int): Array[Long] =
    Array.tabulate(k)(i => graft.util.Det.at(0x5eedL, i.toLong * 2 + 1) & 0x7fffffffL)

  /** k-permutation MinHash signature of a pre-hashed shingle array
    * (`array<bigint>` of 31-bit hashes): slot i is the min over the
    * array of `(a_i * h + b_i) mod (2^31 - 1)` — shingles outer, k mins
    * inner, in place of the twin's k `array_min(transform(...))` calls.
    *
    * pmod semantics via floorMod (identical to `%` on the 31-bit
    * non-negative pipeline domain, and matching the twin's `pmod` for
    * negative inputs). Null elements are SKIPPED — `array_min` in the
    * twin ignores nulls — so an empty or all-null array yields the
    * twin's all-null signature. Known divergence (documented): for |h|
    * large enough that a*h+b overflows Long, the twin throws under ANSI
    * mode while this kernel wraps; 31-bit inputs (the
    * [[graft.ops.Dedup]] contract) never get there.
    */
  def minhash(arr: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        seen = true
        val h = arr.getLong(i)
        var j = 0
        while (j < k) {
          val v = java.lang.Math.floorMod(a(j) * h + b(j), PRIME)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!seen) new GenericArrayData(new Array[Any](k))
    else new GenericArrayData(mins.map(Long.box(_): Any))
  }

  /** 64-bit SimHash of a token-hash array: bit b is set iff a strict
    * majority of the hashes have bit b set (vote +1/-1 per token). Null
    * elements vote -1 on every bit (they cannot occur from `xxhash64`,
    * which is null-intolerant in our pipelines).
    */
  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = if (arr.isNullAt(i)) 0L else arr.getLong(i)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** One 64-bit key per band: an xxhash-style multiply-xor fold of the
    * band's signature slice. The key only needs to be deterministic
    * and collision-resistant — docs pair iff a band slice matches
    * EXACTLY, so any injective-enough fold yields the same pair set as
    * the former string-join+xxhash64 derivation (and no per-row string
    * materialization). Null slots (empty-signature docs) fold as a
    * distinct sentinel.
    */
  def bandKeys(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    val rows = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x9e3779b97f4a7c15L + b
      var i = b * rows
      val end = i + rows
      while (i < end) {
        val v = if (sig.isNullAt(i)) 0x7f4a7c159e3779b9L else sig.getLong(i)
        h = java.lang.Long.rotateLeft(h ^ v, 27) * 0x94d049bb133111ebL
        i += 1
      }
      out(b) = h
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Number of slots where the two signatures agree (null slots agree
    * iff both null — matching `zip_with(a, b, _ === _)` under
    * null-safe counting of `true`s).
    */
  def agreement(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      val an = a.isNullAt(i); val bn = b.isNullAt(i)
      if (!an && !bn) { if (a.getLong(i) == b.getLong(i)) c += 1 }
      i += 1
    }
    c
  }
}
