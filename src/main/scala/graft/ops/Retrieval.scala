package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus — the "find the documents most
  * relevant to this probe" leg used for targeted curation audits,
  * eval-set mining, and quality-probe spot checks. Classic Okapi
  * BM25 (Robertson & Walker; the form Lucene/Trino implement):
  *
  *   score(d, Q) = sum_{t in Q} idf(t) *
  *                 tf * (k1 + 1) / (tf + k1 * (1 - b + b * len/avg))
  *   idf(t)      = ln( (N - df + 0.5) / (df + 0.5) + 1 )
  *
  * with len the document's token count and avg the corpus mean. The
  * whole program is exact relational algebra over term counts, so
  * the DuckDB oracle runs the same model; scores round(4) to absorb
  * libm ulps. Ties break by doc id for a deterministic top-k.
  *
  * Scale shape: the probe terms are a literal — the per-doc term
  * filter runs MAP-SIDE at scan speed, so the only corpus-sized
  * work is one scan + one (doc, term) hash agg over MATCHING terms
  * only; df/N/avg are O(probe) scalars riding broadcast one-row
  * joins; the final top-k is a TakeOrdered of k rows, never a global
  * sort materialization. At 10^12 docs this is the right shape: the
  * inverted-index shortcut (skip non-matching docs at the source) is
  * a storage-side optimization with identical semantics.
  */
object Retrieval {

  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty && k > 0, "query terms and k required")
    val k1 = 1.2  // term-frequency saturation
    val b = 0.75  // length normalization
    val terms = queryTerms.map(_.toLowerCase).distinct
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    // one corpus pass: doc length + per-probe-term tf (map-side filter)
    // explode first, filter row-wise: InSet on a row column is
    // codegen'd, the array-filter lambda is interpreted; the explode
    // fan-out is bounded by doc length either way and the filter
    // still runs map-side before any shuffle
    val base = docs.select(col("doc_id"), toks(col("text")).as("__t"))
      .select(col("doc_id"), size(col("__t")).as("len"),
        explode(col("__t")).as("term"))
      .filter(col("term").isInCollection(terms))
    val tf = base.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("len")).as("len"))
    // corpus scalars: N and avg len come from the docs table itself
    val stats = docs.select(col("doc_id"), size(toks(col("text"))).as("__l"))
      .agg(greatest(count(lit(1)), lit(1L)).cast("double").as("__nn"),
        greatest(coalesce(avg(col("__l")), lit(0.0)), lit(1e-9)).as("__avg"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(df_), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("__nn") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("__s",
        col("__idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / col("__avg"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("__s")), 4).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010),
    * truncated at depth k — the scorer-swap audit: before replacing
    * one quality scorer with another at 10^12 docs, how similar are
    * the TOP-of-ranking decisions the two make? Top-weighted (depth d
    * contributes with weight p^(d−1)/d), so disagreement at rank 3
    * matters more than at rank 48 — exactly the property plain
    * set-overlap@k lacks.
    *
    *   RBO@k = (1−p) · Σ_{d=1..k} p^(d−1) · |A_d ∩ B_d| / d
    *
    * A doc common to both rankings enters the intersection at depth
    * max(rank_a, rank_b), so overlap_d is one cumulative count — no
    * d×k cross join of the rankings. Both top-k extractions are
    * TakeOrdered-style (orderBy desc, id tiebreak, limit k): the
    * corpus never feeds a global window; everything after the two
    * top-k pulls runs on ≤ 2k rows. Ranks derive from scores rounded
    * BEFORE ranking (4 dp) so the boundary agrees across engines —
    * the q63/q69 rounded-key convention.
    *
    * Output one row: k, p, overlap_at_k, rbo (round 6).
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int, p: Double): DataFrame = {
    require(k >= 1 && p > 0.0 && p < 1.0, "need k >= 1 and p in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    def topRanks(df: DataFrame) = {
      val lim = df
        .select(col("doc_id").as("id"),
          round(col("score").cast("double"), 4).as("s"))
        .orderBy(col("s").desc, col("id"))
        .limit(k)
      // the window runs over the ALREADY-LIMITED k rows — bounded
      lim.withColumn("r",
        row_number().over(Window.orderBy(col("s").desc, col("id"))))
        .select(col("id"), col("r"))
    }
    val ra = topRanks(a)
    val rb = topRanks(b)
    val spark = a.sparkSession
    val common = ra.join(rb.withColumnRenamed("r", "rb"), Seq("id"))
      .select(greatest(col("r"), col("rb")).as("entry"))
    val depths = spark.range(1, k + 1).toDF("d")
    val terms = depths.join(common, col("entry") <= col("d"), "left")
      .groupBy(col("d"))
      .agg(sum(when(col("entry").isNotNull, 1L).otherwise(0L)).as("ov"))
    terms.agg(
        max(when(col("d") === k, col("ov"))).as("overlap_at_k"),
        round(lit(1.0 - p) *
          sum(pow(lit(p), col("d") - 1) * col("ov").cast("double") /
            col("d").cast("double")), 6).as("rbo"))
      .select(lit(k).as("k"), lit(p).as("p"),
        col("overlap_at_k"), col("rbo"))
  }
}
