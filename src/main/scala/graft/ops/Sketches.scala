package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable sketch aggregators (the "novel sketch" custom-operator
  * surface): distinct-count and heavy-hitters summaries that reduce
  * map-side and merge associatively, so at 100 TB each is one hash
  * aggregation whose state is O(k) per group regardless of input
  * size. Both are hash/counter deterministic — no RNG.
  */
object Sketches {

  /** K-minimum-values distinct-count sketch: keep the k smallest
    * 64-bit hashes in UNSIGNED order; the k-th minimum's normalized
    * position estimates the distinct count as (k-1)/u. Exact below k
    * distinct. Merge = sorted distinct union, take k — fully
    * order-independent, so the estimate is identical under ANY
    * partitioning (spec-asserted). Buffer stores sign-flipped hashes
    * (unsigned order == signed order after flip), sorted ascending.
    */
  class KmvDistinct(k: Int) extends Aggregator[Long, Array[Long], Long]
      with Serializable {
    require(k >= 2, "k >= 2")

    private def flip(h: Long): Long = h ^ Long.MinValue

    override def zero: Array[Long] = Array.empty[Long]

    override def reduce(b: Array[Long], h: Long): Array[Long] = {
      val f = flip(h)
      val pos = java.util.Arrays.binarySearch(b, f)
      if (pos >= 0) b // hash already tracked
      else {
        val ins = -pos - 1
        if (b.length < k) {
          val nb = new Array[Long](b.length + 1)
          System.arraycopy(b, 0, nb, 0, ins)
          nb(ins) = f
          System.arraycopy(b, ins, nb, ins + 1, b.length - ins)
          nb
        } else if (ins >= k) b // not below the current k-th minimum
        else {
          val nb = new Array[Long](k)
          System.arraycopy(b, 0, nb, 0, ins)
          nb(ins) = f
          System.arraycopy(b, ins, nb, ins + 1, k - ins - 1) // max falls off
          nb
        }
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val all = new Array[Long](a.length + b.length)
      System.arraycopy(a, 0, all, 0, a.length)
      System.arraycopy(b, 0, all, a.length, b.length)
      java.util.Arrays.sort(all)
      val out = new Array[Long](math.min(all.length, k))
      var i = 0; var n = 0
      while (i < all.length && n < k) {
        if (i == 0 || all(i) != all(i - 1)) { out(n) = all(i); n += 1 }
        i += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    override def finish(b: Array[Long]): Long =
      if (b.length < k) b.length.toLong
      else {
        // normalized position of the k-th minimum in [0, 1)
        val u = (b(k - 1).toDouble + 9.223372036854776e18) / 1.8446744073709552e19
        math.round((k - 1) / math.max(u, Double.MinPositiveValue))
      }

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Misra-Gries heavy-hitters summary, k counters: any item with
    * true frequency > n/(k+1) is GUARANTEED present in the final
    * candidate set (the classic bound; merges use the mergeable-
    * summaries combine-and-subtract form, which preserves it). The
    * candidate set itself is arrival-order dependent near the
    * boundary — use [[heavyHitters]] for a deterministic final
    * answer (candidates -> exact recount -> threshold).
    */
  class MisraGries(k: Int) extends Aggregator[String, Map[String, Long], Seq[String]]
      with Serializable {
    require(k >= 1, "k >= 1")

    override def zero: Map[String, Long] = Map.empty

    override def reduce(m: Map[String, Long], w: String): Map[String, Long] =
      if (w == null) m // nulls are not words (and would NPE the sorted finish)
      else m.get(w) match {
        case Some(c) => m.updated(w, c + 1)
        case None if m.size < k => m.updated(w, 1L)
        case None => // decrement-all step; zeros drop
          m.collect { case (key, c) if c > 1 => key -> (c - 1) }
      }

    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = (a.keySet ++ b.keySet).iterator
        .map(key => key -> (a.getOrElse(key, 0L) + b.getOrElse(key, 0L))).toMap
      if (sum.size <= k) sum
      else {
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(k) // (k+1)-th largest
        sum.collect { case (key, c) if c > cut => key -> (c - cut) }
      }
    }

    override def finish(m: Map[String, Long]): Seq[String] = m.keys.toSeq.sorted

    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
  }

  /** Exact heavy hitters via the two-pass sketch protocol: one
    * Misra-Gries pass yields <= k candidates (guaranteed to contain
    * every item with frequency > n/(k+1)), a second pass exactly
    * counts ONLY the candidates (a broadcast-filterable set), and the
    * threshold keeps exactly the true heavy hitters — deterministic
    * output equal to the plain group-count-HAVING query, at two scans
    * and O(k) state instead of a full-cardinality aggregation.
    *
    * Input: one `word` column. Output: (word, n) for every word with
    * n > total/(k+1).
    */
  /** Shared two-pass core: pass 1 = one aggregation carrying the
    * Misra-Gries sketch AND the row total; pass 2 = exact recount of
    * the <= k surviving candidates (a broadcast-filterable set).
    * Returns (total, exact (word, n) counts of the candidates) —
    * (0, empty frame) when no candidate survives. Single definition:
    * heavyHitters and keySkewAudit must never drift on the protocol's
    * null handling, the empty-candidate branch, or the recount.
    */
  private def candidateCounts(words: DataFrame, k: Int): (Long, DataFrame) = {
    val mg = udaf(new MisraGries(k), Encoders.STRING)
    val first = words.agg(mg(col("word")).as("cands"), count(lit(1)).as("total")).head()
    val candidates: Seq[String] = first.getSeq[String](0)
    val total = first.getLong(1)
    if (candidates.isEmpty || total == 0L)
      (0L, words.sparkSession.emptyDataFrame
        .select(lit("").as("word"), lit(0L).as("n")).limit(0))
    else
      (total, words.filter(col("word").isin(candidates: _*))
        .groupBy(col("word")).agg(count(lit(1)).as("n")))
  }

  def heavyHitters(words: DataFrame, k: Int = 64): DataFrame = {
    val (total, counts) = candidateCounts(words, k)
    counts
      .filter(col("n") > total / (k + 1.0))
      .select(col("word"), col("n"))
  }

  /** Count-Min frequency sketch (Cormode & Muthukrishnan 2005),
    * depth x width counters: every arriving key increments one
    * counter per row (row j at column hash_j(key)), and a point
    * estimate reads est(x) = min over rows of counter[j][h_j(x)].
    * The minimum NEVER under-counts (every occurrence of x hit all
    * of x's counters) and over-counts by at most (e/width) * N with
    * probability 1 - e^-depth — the point-frequency companion to
    * [[MisraGries]]: MG tracks only the top-k keys, CMS answers a
    * frequency query for ANY key after one pass. Merge is element-
    * wise counter addition — fully order- and partitioning-
    * independent (spec-asserted), so at 100 TB this is one hash
    * aggregation with fixed depth*width*8-byte state. Hashes are
    * seeded MurmurHash3 string hashes — deterministic, no RNG.
    *
    * Buffer layout: flat Array[Long] of depth*width, row-major;
    * zero is the empty array (allocated on first reduce) so an
    * all-null group costs nothing.
    */
  class CountMin(depth: Int, width: Int)
      extends Aggregator[String, Array[Long], Array[Long]] with Serializable {
    require(depth >= 1 && width >= 2, "depth >= 1, width >= 2")

    override def zero: Array[Long] = Array.empty[Long]

    override def reduce(b: Array[Long], w: String): Array[Long] =
      if (w == null) b
      else {
        val buf = if (b.length == depth * width) b else new Array[Long](depth * width)
        var j = 0
        while (j < depth) {
          buf(j * width + CountMin.slot(w, j, width)) += 1L
          j += 1
        }
        buf
      }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.length == 0) b
      else if (b.length == 0) a
      else {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }

    override def finish(b: Array[Long]): Array[Long] =
      if (b.length == depth * width) b else new Array[Long](depth * width)

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  object CountMin {
    /** Row-j counter column for a key: seeded MurmurHash3 (the same
      * deterministic string hash on every JVM), sign-cleared, mod
      * width. */
    private[ops] def slot(key: String, j: Int, width: Int): Int =
      (scala.util.hashing.MurmurHash3.stringHash(key, 0x9e3779b9 + j) &
        Int.MaxValue) % width

    /** Point estimate from a finished sketch: min over rows. */
    def estimate(sketch: Array[Long], depth: Int, width: Int, key: String): Long = {
      require(sketch.length == depth * width, "sketch shape mismatch")
      var best = Long.MaxValue
      var j = 0
      while (j < depth) {
        val c = sketch(j * width + slot(key, j, width))
        if (c < best) best = c
        j += 1
      }
      best
    }
  }

  /** One-pass CMS frequency estimates for a fixed probe set: builds
    * the sketch in ONE hash aggregation over `words` (a single `word`
    * column; nulls skipped), then answers the probes driver-side —
    * the sketch is depth*width longs of control-plane state (a Lloyd-
    * means-sized collect, never data). Output: (word, est) per probe,
    * where est >= the true count always, and est <= true + (e/width)*N
    * with probability 1 - e^-depth per probe.
    */
  def cmsEstimates(words: DataFrame, probes: Seq[String],
                   depth: Int = 4, width: Int = 8192): DataFrame = {
    require(probes.nonEmpty, "probes must be non-empty")
    val cm = udaf(new CountMin(depth, width), Encoders.STRING)
    val sketch = words.agg(cm(col("word")).as("sk")).head().getSeq[Long](0).toArray
    val spark = words.sparkSession
    import spark.implicits._
    probes.distinct.sorted
      .map(p => (p, CountMin.estimate(sketch, depth, width, p)))
      .toDF("word", "est")
  }

  /** Pre-flight skew audit for key-partitioned operators (asofJoin,
    * sessionize, any window keyed by user/entity): every key holding
    * more than `maxShare` of the rows, with its exact count and
    * share. One pathological key serializes a key-partitioned window
    * into a single task — run this first when the key distribution is
    * unknown, then salt / split / quarantine the reported keys.
    *
    * Same two-pass Misra-Gries protocol as [[heavyHitters]] with
    * k = ceil(1/maxShare), whose guarantee (any item with frequency
    * > n/(k+1) survives pass 1) covers every key above the share
    * threshold — O(k) state, two scans, never a full-cardinality agg.
    *
    * Output: (<keyCol>, n, share), descending share.
    */
  def keySkewAudit(df: DataFrame, keyCol: String, maxShare: Double = 0.01): DataFrame = {
    require(maxShare > 0 && maxShare < 1, "maxShare must be in (0, 1)")
    val k = math.max(1, math.ceil(1.0 / maxShare).toInt)
    val words = df.select(col(keyCol).cast("string").as("word"))
    val (total, counts) = candidateCounts(words, k)
    counts
      .withColumn("share", col("n") / lit(math.max(total, 1L).toDouble))
      .filter(col("share") > maxShare)
      .select(col("word").as(keyCol), col("n"), col("share"))
      .orderBy(col("share").desc, col(keyCol))
  }

  /** HyperLogLog distinct-count estimate per group — the canonical
    * fixed-size cardinality sketch (Flajolet et al. 2007), in its
    * RELATIONAL form: two hash aggregations, no UDAF, everything in
    * whole-stage codegen. Register build is `(group, bucket) -> max
    * rho`, estimate is one `group` aggregation over at most m register
    * rows per group — at 10^12 rows the shuffle carries only
    * register-sized partial maxima (map-side combine collapses each
    * partition to ≤ m rows per group before the exchange).
    *
    * Deterministic, dialect-portable hashing so an independent SQL
    * engine reproduces the registers bit-for-bit: a 56-bit value from
    * the first 14 hex nibbles of md5(value); bucket = low p bits
    * (h mod m), rho = leading-zero count of the remaining 56-p bits
    * plus one via the unpadded binary-string length (identical in
    * Spark and DuckDB). All register mass is summed in INTEGER
    * arithmetic scaled by 2^(wBits+1) — float summation order can
    * round, integers cannot — and converted to double exactly once.
    * Small-range (linear-counting) correction applied below 2.5m when
    * empty registers exist, per the paper.
    *
    * vs [[KmvDistinct]]: KMV is exact below k and mergeable as a typed
    * Aggregator; HLL is 6x smaller state at equal error (1.04/sqrt(m))
    * and is the industry interchange format. Both are one-scan.
    */
  def hllDistinct(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val p = 10 // register-index bits
    val m = 1L << p
    val wBits = 56 - p
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 14), 16, 10)
      .cast("long")
    val registers = df
      .select(col(groupCol), h.as("__h"))
      .select(col(groupCol),
        pmod(col("__h"), lit(m)).as("__bucket"),
        expr(s"__h DIV ${m}L").as("__w"))
      .withColumn("__rho",
        // Spark's bin() is unpadded for positive values; w == 0 (all
        // wBits zero) gets the sentinel rho = wBits + 1 explicitly
        when(col("__w") === 0, lit(wBits + 1))
          .otherwise(lit(wBits + 1) - length(bin(col("__w")))))
      .groupBy(col(groupCol), col("__bucket"))
      .agg(max(col("__rho")).as("__r"))
    // integer register mass: 2^(wBits+1 - rho) per register, exact
    val scaled = registers
      .withColumn("__mass",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${wBits + 1} - __r AS INT))"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("nonzero_buckets"), sum(col("__mass")).as("__mass_sum"))
    val scale = math.pow(2.0, wBits + 1).toLong // exact: 2^47 < 2^53
    val totalMass = col("__mass_sum") + (lit(m) - col("nonzero_buckets")) * lit(scale)
    val rawE = (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))) *
      lit(m.toDouble) * lit(m.toDouble) * lit(scale.toDouble) /
      totalMass.cast("double")
    val zeros = lit(m) - col("nonzero_buckets")
    val est = when(rawE <= lit(2.5 * m) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(rawE)
    scaled
      .withColumn("m", lit(m))
      .withColumn("hll_estimate", round(est, 4))
      .select(col(groupCol), col("m"), col("nonzero_buckets"), col("hll_estimate"))
  }
}
