package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Mixture realization planning — the arithmetic between a mixture
  * DESIGN (target weight per slice, a DoReMi/Pile-style recipe) and
  * its EXECUTION ([[Sampling.proportionalSample]] consumes the rates
  * this emits): given the corpus's actual per-slice token inventory
  * and a total token budget, compute each slice's target token count,
  * the sampling rate that realizes it, and the epoch count when the
  * slice must be UPSAMPLED (rate > 1 — the Wikipedia-seen-3x case).
  *
  *   target_s = floor(budget * w_s / sum(w))
  *   rate_s   = target_s / avail_s     (0 when the slice is empty)
  *   epochs_s = ceil(rate_s)           (passes over the slice)
  *
  * Slices present in the corpus but absent from the design get weight
  * 0 (target 0 — dropped by the plan, visible in the output rather
  * than silently missing); design entries with no corpus slice still
  * appear with avail 0, the auditable "recipe names a source we don't
  * have" row.
  *
  * Scale shape: ONE corpus aggregation (per-slice token sums — a
  * map-side-combine hash agg); everything after it operates on the
  * slice-count-sized model, full-outer-joined with the literal design
  * table (full outer can't broadcast — Spark warns and shuffles — but
  * both sides are O(slices) rows, so the exchange is a no-op at any
  * corpus size). The rate arithmetic is plain IEEE DOUBLE in a fixed
  * expression order, so any engine reproduces it bit-for-bit.
  */
object Mixture {

  def tokenBudgetPlan(docs: DataFrame, weights: Seq[(String, Double)],
                      budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    require(weights.nonEmpty && weights.forall(_._2 >= 0.0),
      "weights must be non-empty and non-negative")
    val sumW = weights.map(_._2).sum
    require(sumW > 0.0, "at least one weight must be positive")
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    val avail = docs
      .groupBy(col("source"))
      .agg(sum(size(toks(col("text")))).as("avail_tokens"))
    val spark = docs.sparkSession
    import spark.implicits._
    val design = weights.toDF("source", "weight")
    avail.join(design, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("weight"), lit(0.0)).as("weight"),
        coalesce(col("avail_tokens"), lit(0L)).as("avail_tokens"))
      .withColumn("target_tokens",
        floor(lit(budget.toDouble) * col("weight") / lit(sumW)).cast("long"))
      .withColumn("rate",
        when(col("avail_tokens") > 0,
          round(col("target_tokens").cast("double") /
            col("avail_tokens").cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("epochs", ceil(col("rate")).cast("long"))
  }

  /** DoReMi-style mixture REWEIGHTING (Xie et al. 2023, the
    * exponentiated-gradient step, in its one-shot in-engine form):
    * slices whose documents the reference language model finds
    * surprising (high cross-entropy = high "excess loss") get
    * upweighted, so the next mixture round spends more budget where
    * the current model underfits.
    *
    *   ce_s     = mean over slice s of per-doc [[LmScore.unigramCrossEntropy]]
    *   excess_s = max(0, ce_s - ce_corpus)        (corpus = doc-mean baseline)
    *   w_s      = exp(eta * excess_s) / sum_t exp(eta * excess_t)
    *
    * Feed the resulting weights straight into [[tokenBudgetPlan]] for
    * realization. Determinism contract: the per-doc scores are already
    * rounded(4) by LmScore — identical values in any engine — so the
    * only cross-engine drift is summation order in the means, absorbed
    * by round(6) on ce/excess BEFORE the exponential (exp of an
    * already-agreed value) and round(6) on the final weight.
    *
    * Scale shape: LmScore's model agg + token join, then ONE doc-keyed
    * slice aggregation; softmax runs over the slice-count-sized model
    * (single-partition window over slices — bounded by construction).
    */
  def doremiWeights(docs: DataFrame, ref: DataFrame, eta: Double = 1.0): DataFrame = {
    require(eta > 0.0, "eta must be positive")
    val ce = LmScore.unigramCrossEntropy(docs, ref)
    val byDoc = docs.select(col("doc_id"), col("source")).join(ce, Seq("doc_id"))
    val slices = byDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("cross_entropy")), 6).as("ce"))
    val base = byDoc.agg(round(avg(col("cross_entropy")), 6).as("__ce0"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    slices.crossJoin(broadcast(base))
      .withColumn("excess",
        round(greatest(col("ce") - col("__ce0"), lit(0.0)), 6))
      .withColumn("__e", exp(lit(eta) * col("excess")))
      .withColumn("weight", round(col("__e") / sum(col("__e")).over(w), 6))
      .select(col("source"), col("n_docs"), col("ce"), col("excess"),
        col("weight"))
  }

  /** Temperature-scaled mixture weights — the multilingual-sampling
    * alpha rule (exponentiated-share smoothing: mBERT's s_i^0.7,
    * XLM-R's p_i^alpha with alpha = 0.3, mT5 likewise): the natural
    * slice share p_s (its fraction of corpus tokens) is flattened to
    *
    *   w_s = p_s^alpha / sum_t p_t^alpha
    *
    * so low-resource slices are upsampled when alpha < 1 (alpha = 1
    * keeps the natural mixture; alpha -> 0 approaches uniform). Emits
    * per slice: token count, natural share, smoothed weight, and
    * boost = w_s / p_s — the up/down-sampling multiplier a sampler
    * (or [[tokenBudgetPlan]], fed these weights) must apply.
    *
    * Determinism contract (the [[doremiWeights]] pattern): the share
    * is round(6)-pinned BEFORE pow — exponentiation of an already-
    * agreed value — and weight/boost are round(6) after, so any
    * engine reproduces the output despite last-ulp pow differences.
    *
    * Scale shape: ONE map-side-combine token aggregation over the
    * corpus; everything downstream runs on the slice-count-sized
    * model (the normalization window is single-partition but bounded
    * by slice count, never data).
    */
  def temperatureWeights(docs: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0.0, "alpha must be positive")
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    docs.groupBy(col("source"))
      .agg(sum(size(toks(col("text")))).cast("long").as("n_tokens"))
      // zero-token corpus: 0/0 would read NaN — report all-zero
      // columns instead (the tokenBudgetPlan empty-slice convention)
      .withColumn("share",
        when(sum(col("n_tokens")).over(w) > 0,
          round(col("n_tokens") / sum(col("n_tokens")).over(w), 6))
          .otherwise(lit(0.0)))
      .withColumn("__q", pow(col("share"), lit(alpha)))
      .withColumn("weight",
        when(sum(col("__q")).over(w) > 0,
          round(col("__q") / sum(col("__q")).over(w), 6))
          .otherwise(lit(0.0)))
      .withColumn("boost",
        when(col("share") > 0, round(col("weight") / col("share"), 6))
          .otherwise(lit(0.0)))
      .select(col("source"), col("n_tokens"), col("share"), col("weight"),
        col("boost"))
  }
}
