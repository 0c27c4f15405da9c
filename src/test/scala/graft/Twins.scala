package graft

import graft.ops.Similarity.planeMatrix
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative twins of the native kernels: the interpreted
  * higher-order-function forms FunctionsSpec checks each kernel against.
  * Reference only — higher-order functions are CodegenFallback
  * (interpreted per-row tree walks), never for a shipped path.
  */
object Twins {

  /** Twin of `GraftFunctions.tokenizeWords`. */
  def toksHof(text: Column): Column =
    filter(split(lower(text), "\\W+"), t => t =!= "")

  private val MINHASH_PRIME = 2147483647L // 2^31 - 1 (Mersenne)

  /** Shingle strings -> 31-bit hash array (hash each shingle ONCE;
    * the k permutations below reuse it — k times cheaper than hashing
    * per permutation, and 31-bit keeps a*h+b < 2^62 under ANSI mode).
    */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => pmod(xxhash64(s), lit(MINHASH_PRIME)))

  /** Twin of `GraftFunctions.minhashSig`: k independent permutations
    * approximated by k affine transforms of the 31-bit shingle hash.
    */
  def minhashSignature(hashedCol: Column, k: Int = 32): Column = {
    val sig = (0 until k).map { i =>
      val a = (graft.util.Det.at(0x5eedL, i.toLong * 2) & 0x7fffffffL) | 1L
      val b = graft.util.Det.at(0x5eedL, i.toLong * 2 + 1) & 0x7fffffffL
      array_min(transform(hashedCol, h => pmod(h * lit(a) + lit(b), lit(MINHASH_PRIME))))
    }
    array(sig: _*)
  }

  private val BIT_MASKS: Column =
    array((0 until 64).map(i => lit(1L << i)): _*)

  /** Twin of `GraftFunctions.simhash64`: the per-bit vote as a 64-wide
    * `zip_with` fold per token.
    */
  def simhashFromHashes(hashedCol: Column): Column = {
    val votes = aggregate(hashedCol, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, BIT_MASKS,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0L, 1L).otherwise(-1L)))
    aggregate(zip_with(votes, BIT_MASKS, (v, m) => when(v > 0, m).otherwise(0L)),
      lit(0L), (a, x) => a.bitwiseOR(x))
  }

  /** Twin of the native kernels' dot loop. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Twin of `GraftFunctions.cosineSim` — incl. the zero-norm contract
    * (similarity 0, never NaN: Spark orders NaN above every number, so
    * a NaN would win every top-k).
    */
  def cosine(a: Column, b: Column): Column =
    when(norm(a) * norm(b) === 0.0, lit(0.0))
      .otherwise(dot(a, b) / (norm(a) * norm(b)))

  /** Squared-distance rank term to a centroid literal: |v-c|^2 =
    * |v|^2 - 2 v.c + |c|^2; |v|^2 is constant per row, dropped. HOF
    * twin of the native kernel's distance loop (same accumulation
    * order -> bit-identical ranks).
    */
  private def distRank(vec: Column, c: Array[Double]): Column = {
    val cLit = array(c.map(lit(_)): _*)
    val c2 = c.map(x => x * x).sum
    lit(c2) - lit(2.0) * dot(vec, cLit)
  }

  /** Twin of `Similarity.nearestCentroid` (first minimum wins — ties
    * break to the lower centroid id).
    */
  def nearestCentroidHof(vec: Column, codebook: Array[Array[Double]]): Column = {
    val dists = array(codebook.map(c => distRank(vec, c)): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Twin of `Similarity.lshBucket` (same Det planes). */
  def lshBucketHof(vec: Column, dim: Int, planes: Int = 12): Column = {
    val m = planeMatrix(dim, planes)
    (0 until planes).map { p =>
      val pl = array(m(p).map(lit(_)): _*)
      when(dot(vec, pl) >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
  }
}
