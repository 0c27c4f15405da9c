package graft.ops

import graft.util.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the fastText-classifier leg of a
  * web-curation recipe (CCNet / GPT-3 style: score every page by a
  * lightweight text classifier trained on a labeled reference, keep
  * by score). The in-engine form is multinomial Naive Bayes with
  * Laplace smoothing: counts-only training, so the ENTIRE train +
  * score program is exact relational algebra — the DuckDB oracle runs
  * the same model. (A production fastText/logreg swaps the scoring
  * join's weight table; the dataflow — one training aggregation, one
  * broadcast-able model join, one doc-keyed sum — is identical.)
  *
  *   log-odds(d) = ln P(pos)/P(neg)
  *               + sum_w [ ln p(w|pos) - ln p(w|neg) ]
  *   p(w|c)      = (count_c(w) + 1) / (total_c + V)
  *
  * with V = distinct words in the training slice and the priors from
  * the class document counts. OOV words still contribute (the two
  * class denominators differ) — that is the Laplace rule, not a bug.
  * `pred` = log-odds > 0. Scores round to 4 (absorbs libm ulps).
  *
  * Scale shape: the model is ONE hash agg over the training slice
  * (word x class counts via conditional sums — no pivot shuffle),
  * plus O(model) derived scalars riding a broadcast one-row cross
  * join; scoring is a token->word join (broadcast when the vocab is
  * bounded) + a doc-keyed sum. Never a second corpus pass.
  *
  * Degenerate training (a class with zero docs) keeps defined
  * semantics: counts coalesce to 0, denominators clamp to >= 1, the
  * prior ratio clamps its zero side to 1 document.
  */
object Classifier {

  def naiveBayesScore(docs: DataFrame, train: DataFrame, labelCol: String,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    val trainTok = train.select(col(labelCol).cast("boolean").as("__y"),
      explode(toks(col(textCol))).as("word"))
    // word x class counts in ONE aggregation; pinned: the totals and
    // the scoring join both read it (the model is vocab-sized, bounded)
    val model = trainTok.groupBy(col("word")).agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("cp"),
      sum(when(col("__y"), 0L).otherwise(1L)).as("cn"))
      .transform(Pin.once)
    // O(model) scalars: class token totals, vocab size, doc priors
    val totals = model.agg(
      coalesce(sum(col("cp")), lit(0L)).as("__tp"),
      coalesce(sum(col("cn")), lit(0L)).as("__tn"),
      greatest(count(lit(1)), lit(1L)).as("__v"))
    val priors = train.agg(
      greatest(sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)),
        lit(1L)).as("__np"),
      greatest(sum(when(col(labelCol).cast("boolean"), 0L).otherwise(1L)),
        lit(1L)).as("__nn"))
    val consts = totals.crossJoin(priors)
    val tok = docs.select(col(idCol), explode(toks(col(textCol))).as("word"))
    tok
      .join(model, Seq("word"), "left")
      .crossJoin(broadcast(consts))
      .withColumn("__lo",
        log((coalesce(col("cp"), lit(0L)) + 1L).cast("double") /
            (col("__tp") + col("__v")).cast("double")) -
        log((coalesce(col("cn"), lit(0L)) + 1L).cast("double") /
            (col("__tn") + col("__v")).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(first(log(col("__np").cast("double") / col("__nn").cast("double")))
          + sum(col("__lo")), 4).as("log_odds"))
      .withColumn("pred", col("log_odds") > 0.0)
  }

  /** Reliability diagram of a log-odds scorer — "when the classifier
    * says 80%, is it right 80% of the time?": exact equal-count score
    * bands (via [[Sampling.rankBands]] — range-partitioned global
    * rank, never a one-task ntile), then per band the mean predicted
    * probability sigmoid(score) against the observed positive rate.
    * `scored` must carry (idCol, scoreCol, labelCol).
    *
    * Cross-engine determinism: scores arrive rounded(4) (the
    * [[naiveBayesScore]] contract) so banding by (score, id) agrees
    * exactly; frac_pos is one integer division; mean_prob rounds(6)
    * over sigmoids of agreed values — summation order is the only
    * drift and it lives far below the round.
    */
  def calibrationCurve(scored: DataFrame, labelCol: String,
                       bands: Int = 10,
                       scoreCol: String = "log_odds",
                       idCol: String = "doc_id"): DataFrame = {
    val banded = Sampling.rankBands(
      scored.select(col(idCol), col(scoreCol),
        col(labelCol).cast("boolean").as("__y")),
      Seq(col(scoreCol), col(idCol)), bands)
    banded.groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        round(avg(lit(1.0) / (lit(1.0) + exp(-col(scoreCol)))), 6)
          .as("mean_prob"))
      .withColumn("frac_pos",
        round(col("n_pos").cast("double") / col("n").cast("double"), 6))
      .select(col("band"), col("n"), col("n_pos"), col("mean_prob"),
        col("frac_pos"))
  }

  /** Agreement audit between two boolean document filters — the
    * pre-swap check before replacing filter A with a cheaper filter B
    * on a 10^12-doc corpus: confusion counts, precision/recall/F1 of
    * B against A-as-reference, and Cohen's kappa (chance-corrected
    * agreement; Cohen 1960). One aggregation, one output row — the
    * corpus is scanned once and only five BIGINT counters cross the
    * shuffle.
    *
    * Cross-engine determinism: every ratio divides BIGINT counts and
    * rounds(6); composite terms (pe, f1, kappa) combine ONLY
    * already-rounded values, so both engines run each transcendental-
    * free step on agreed inputs (the q80 pinned contract). Chance
    * agreement uses rounded marginal rates (pe = pa*pb+(1-pa)*(1-pb)),
    * never n^2 products — overflow-free at any corpus size. Degenerate
    * cases are defined: pe = 1 (a constant filter pair) reports
    * kappa 0; an empty B-positive or A-positive side clamps its
    * denominator to 1 (precision/recall 0, the [[naiveBayesScore]]
    * clamp convention).
    */
  def filterAgreement(docs: DataFrame, passA: Column, passB: Column): DataFrame = {
    val a = passA.cast("boolean")
    val b = passB.cast("boolean")
    val counts = docs.agg(
      count(lit(1)).as("n"),
      sum(when(a && b, 1L).otherwise(0L)).as("n_both"),
      sum(when(a && !b, 1L).otherwise(0L)).as("n_only_a"),
      sum(when(!a && b, 1L).otherwise(0L)).as("n_only_b"),
      sum(when(!a && !b, 1L).otherwise(0L)).as("n_neither"))
    val nD = greatest(col("n"), lit(1L)).cast("double")
    val withRates = counts
      .withColumn("precision", round(col("n_both").cast("double") /
        greatest(col("n_both") + col("n_only_b"), lit(1L)).cast("double"), 6))
      .withColumn("recall", round(col("n_both").cast("double") /
        greatest(col("n_both") + col("n_only_a"), lit(1L)).cast("double"), 6))
      .withColumn("__po", round((col("n_both") + col("n_neither")).cast("double") / nD, 6))
      .withColumn("__pa", round((col("n_both") + col("n_only_a")).cast("double") / nD, 6))
      .withColumn("__pb", round((col("n_both") + col("n_only_b")).cast("double") / nD, 6))
    withRates
      .withColumn("f1", when(col("precision") + col("recall") === 0.0, 0.0)
        .otherwise(round(lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall")), 6)))
      .withColumn("__pe", round(col("__pa") * col("__pb") +
        (lit(1.0) - col("__pa")) * (lit(1.0) - col("__pb")), 6))
      .withColumn("kappa", when(col("__pe") === 1.0, 0.0)
        .otherwise(round((col("__po") - col("__pe")) / (lit(1.0) - col("__pe")), 6)))
      .select(col("n"), col("n_both"), col("n_only_a"), col("n_only_b"),
        col("n_neither"), col("precision"), col("recall"), col("f1"),
        col("kappa"))
  }

  /** Multiclass confusion matrix — the evaluation leg for any labeler
    * in the pipeline (language ID, quality classifier, source tagger)
    * against a ground-truth column: one row per observed
    * (actual, predicted) cell with its count, per-actual recall
    * (n / actual total) and per-predicted precision (n / predicted
    * total). The binary [[filterAgreement]] collapses to scalars;
    * this keeps the full matrix so an auditor sees WHICH classes
    * bleed into which.
    *
    * Scale shape: ONE input-sized hash aggregation to the cells
    * (bounded by classes², never rows); the marginals re-aggregate
    * the CELLS — model-sized — and join back broadcast. Ratios are
    * integer-operand divisions rounded(6), engine-exact.
    */
  def confusionMulticlass(df: DataFrame, actual: String,
                          predicted: String): DataFrame = {
    val cells = df
      .groupBy(col(actual).as("actual"), col(predicted).as("predicted"))
      .agg(count(lit(1)).as("n"))
      .transform(Pin.once)
    val actTot = cells.groupBy(col("actual"))
      .agg(sum(col("n")).as("__na"))
    val predTot = cells.groupBy(col("predicted"))
      .agg(sum(col("n")).as("__np"))
    cells
      .join(broadcast(actTot), Seq("actual"))
      .join(broadcast(predTot), Seq("predicted"))
      .select(col("actual"), col("predicted"), col("n"),
        round(col("n").cast("double") / col("__na").cast("double"), 6)
          .as("recall"),
        round(col("n").cast("double") / col("__np").cast("double"), 6)
          .as("precision"))
  }
}
