package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the quota step of a training-data
  * mixture: per stratum (language, source, quality band, ...) keep
  * exactly `k` documents, chosen by a seedless deterministic
  * pseudo-random rank (md5 of the id rendered as text) so every
  * engine — and every rerun — picks the identical sample. No RNG, no
  * sampleBy approximation: quotas are exact, and the rule is plain
  * SQL (the DuckDB oracle is the same row_number window).
  *
  * Scale shape: a naive per-stratum window serializes a whale
  * stratum into one task (the asof/sessionize pathology). The
  * two-phase form bounds it: phase 1 ranks within (stratum, salt)
  * sub-groups — `salts` bounded tasks per stratum, each keeping only
  * its local top-k — and phase 2 ranks the <= salts*k survivors per
  * stratum exactly. Phase-1 local top-k is sound because the global
  * top-k by any total order is contained in the union of per-salt
  * top-ks (every non-survivor loses to k rows in its own salt, hence
  * to k rows globally).
  */
object Sampling {

  /** The deterministic rank key: md5 of the id's string rendering —
    * identical bytes in Spark and DuckDB (`md5(id::VARCHAR)`).
    */
  def detRank(idCol: Column): Column = md5(idCol.cast("string").cast("binary"))

  /** Per-stratum exact top-k sample: (stratum..., id, rn) with
    * rn = 1..k in deterministic-rank order.
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String, k: Int,
                       salts: Int = 16): DataFrame = {
    require(k > 0 && salts > 0, "k and salts must be positive")
    val rank = detRank(col("doc_id"))
    val base = docs.select(col(stratumCol), col("doc_id"), rank.as("__r"))
    // phase 1: bounded sub-group top-k (31-bit hash domain — ANSI-safe)
    val salted = base.withColumn("__salt",
      pmod(xxhash64(col("doc_id")), lit(salts)).cast("int"))
    val w1 = Window.partitionBy(col(stratumCol), col("__salt"))
      .orderBy(col("__r"), col("doc_id"))
    val survivors = salted
      .withColumn("__rn1", row_number().over(w1))
      .filter(col("__rn1") <= k)
    // phase 2: exact rank over <= salts*k rows per stratum
    val w2 = Window.partitionBy(col(stratumCol)).orderBy(col("__r"), col("doc_id"))
    survivors
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= k)
      .select(col(stratumCol), col("doc_id"), col("rn"))
  }

  /** Per-stratum PROPORTIONAL sampling — the mixture-weighting step
    * of a training-data recipe (DoReMi-style source reweighting):
    * stratum s keeps exactly `ceil(rate(s) * n_s)` documents, chosen
    * by the same deterministic rank as [[stratifiedSample]].
    * `rateCol` MUST be a pure function of the stratum column (it is
    * aggregated per stratum with `max`), valued in [0, 1].
    *
    * Scale shape: a per-stratum `row_number` window serializes a
    * whale stratum, and unlike the fixed-k sample the quota here can
    * be O(n_s), so the salted top-k escape does not apply. Instead
    * the per-stratum rank comes from [[Shuffling.globalRank]] over
    * (stratum, rank, id): each stratum is a CONTIGUOUS run of global
    * positions, so rank-in-stratum = pos - min(pos over s) — range
    * partitions bound every task regardless of stratum skew. The
    * per-stratum (min-pos, quota) table is one small agg, broadcast
    * back (strata = languages/sources/quality bands — bounded by
    * construction; the join-back would shuffle a whale stratum to
    * one reducer if hash-joined, hence the explicit broadcast).
    */
  def proportionalSample(docs: DataFrame, stratumCol: String, rateCol: Column,
                         parts: Int = 0): DataFrame = {
    val base = docs.select(col(stratumCol), col("doc_id"),
      detRank(col("doc_id")).as("__r"), rateCol.cast("double").as("__rate"))
    val ranked = graft.ops.Shuffling.globalRank(
      base, Seq(col(stratumCol), col("__r"), col("doc_id")), parts)
    val quotas = ranked.groupBy(col(stratumCol)).agg(
      min(col("pos")).as("__p0"),
      ceil(max(col("__rate")) * count(lit(1))).cast("long").as("__q"))
    ranked.join(broadcast(quotas), Seq(stratumCol))
      .withColumn("rn", (col("pos") - col("__p0") + 1).cast("int"))
      .filter(col("rn") <= col("__q"))
      .select(col(stratumCol), col("doc_id"), col("rn"))
  }

  /** Exact rank-based banding (deciles and friends) — the quality-
    * band assignment step: band `1..bands` by the global rank under
    * `orderCols` (a TOTAL order — append the id as the last key),
    * band = 1 + rank*bands DIV n, so band sizes differ by at most
    * one. A plain `ntile` is the same idea but serializes the corpus
    * through one window task; this is [[Shuffling.globalRank]] (range
    * partitions, prefix offsets) + one broadcast scalar, exact at any
    * scale. Integer DIV throughout — no float drift at 10^12 rows.
    * Output: input columns + `pos` + `band`.
    */
  def rankBands(df: DataFrame, orderCols: Seq[Column], bands: Int,
                parts: Int = 0): DataFrame = {
    require(bands > 0, "bands must be positive")
    val ranked = graft.ops.Shuffling.globalRank(df, orderCols, parts)
    val total = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(total))
      .withColumn("band",
        (expr(s"pos * ${bands.toLong} DIV __n") + 1L).cast("int"))
      .drop("__n")
  }

  /** One-pass WEIGHTED sampling without replacement (Efraimidis-
    * Spirakis A-ES): every row draws a deterministic uniform
    * u in (0, 1] from the md5 of its id and scores
    * priority = ln(u) / w — the top `k` priorities ARE a weighted
    * sample without replacement (a row with twice the weight is
    * exactly twice as likely to make the cut, marginally). The
    * classic use: realize a quality-weighted or DSIR-weighted
    * training subset in one pass, no per-stratum quotas needed.
    *
    * Deterministic and engine-portable: u = (int(md5[0:8]) + 1) /
    * 2^32 reproduces bit-for-bit in any engine with md5 (same
    * contract as [[detRank]]); the only transcendental is one ln,
    * rounded to 9 decimals BEFORE selection so the top-k boundary
    * cannot disagree across libms (id breaks exact ties).
    *
    * Scale shape: map-side score + `orderBy.limit` = TakeOrdered
    * (per-partition top-k, driver merge of k rows) — no shuffle, no
    * window over the corpus; the rank window runs over the k
    * survivors only. Rows with w <= 0 are excluded by definition
    * (A-ES is defined over positive weights).
    */
  def prioritySample(df: DataFrame, weightCol: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val h = graft.util.SqlCols.md5Head32(col("doc_id").cast("string"))
    val u = (h + lit(1L)).cast("double") / lit(4294967296.0)
    // filter BEFORE the division — ANSI mode raises on w = 0; null
    // ids draw no uniform (and engines disagree on DESC-null order),
    // so they are excluded with the nonpositive weights
    df.select(col("doc_id"), weightCol.cast("double").as("weight"))
      .filter(col("weight") > 0.0 && col("doc_id").isNotNull)
      .withColumn("priority", round(log(u) / col("weight"), 9))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("priority").desc, col("doc_id"))))
  }
}
