package graft.ops

import graft.util.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet's third filter leg (beside dedup and language id): language-
  * model quality scoring. The full KenLM 5-gram is a deployment-time
  * model artifact; the in-engine form is the unigram cross-entropy of
  * each document under a Laplace-smoothed LM trained on a reference
  * slice — the identical dataflow shape (token -> model prob join ->
  * per-doc mean surprisal) with a model that is itself a corpus
  * aggregate, so the whole operator is SQL-checkable.
  *
  * p(w) = (count_ref(w) + 1) / (total_ref + V); out-of-vocabulary
  * tokens get the unseen mass 1 / (total_ref + V). Score = mean of
  * -ln p(w) over the doc's tokens (nats; higher = less reference-
  * like), rounded to 4 — the round absorbs the sub-ulp libm
  * differences between engines. An empty reference clamps the
  * denominator to 1 (every token scores 0) rather than dividing by
  * zero.
  *
  * Scale shape: the model is ONE hash aggregation over the reference
  * slice; the denominator rides as a broadcast one-row cross join
  * (the whole operator stays a lazy DataFrame -> DataFrame transform
  * — no job at construction time, and the denominator is computed
  * from the same refCounts evaluation the probability join sees);
  * scoring is a token->word join (broadcast when the vocab is
  * broadcast-sized, one hash shuffle otherwise) + a doc-keyed mean —
  * never a second corpus pass, no window.
  */
object LmScore {

  def unigramCrossEntropy(docs: DataFrame, ref: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    val refCounts = ref
      .select(explode(toks(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val consts = refCounts.agg(
      greatest(coalesce(sum(col("c")), lit(0L)) + count(lit(1)), lit(1L))
        .cast("double").as("__denom"))
    val tok = docs.select(col(idCol), explode(toks(col(textCol))).as("word"))
    tok
      .join(refCounts, Seq("word"), "left")
      .crossJoin(broadcast(consts))
      .withColumn("__nll",
        -log((coalesce(col("c"), lit(0L)) + lit(1L)) / col("__denom")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("__nll")), 4).as("cross_entropy"))
  }

  /** The bigram refinement of [[unigramCrossEntropy]] — one order up
    * the KenLM ladder, still fully SQL-checkable. Conditional
    * probability with Laplace smoothing over the reference unigram
    * vocabulary V:
    *
    *   p(w2 | w1) = (c_ref(w1 w2) + 1) / (ctx_ref(w1) + V)
    *
    * where ctx_ref(w1) = sum of reference bigram counts with context
    * w1 (w1's count as a CONTEXT — a model-internal re-aggregation,
    * not a second corpus pass) and V = distinct reference words. An
    * unseen context scores 1/V-ish mass, exactly the Laplace rule.
    * Score = mean -ln p over the doc's adjacent-pair bigrams,
    * rounded to 4 (absorbs libm ulps); docs with < 2 tokens have no
    * bigrams and drop, mirroring the unigram operator's empty-doc
    * rule.
    *
    * Scale shape: bigrams are formed MAP-SIDE (the native gram
    * kernel over the token array — no posexplode self-join, no
    * window); the model is one hash agg over the reference slice
    * plus two O(model)-sized derived aggs (context sums, vocab
    * count); scoring is a (w1,w2)->count join + a context join + a
    * doc-keyed mean. At 10^12 docs the model joins are the only
    * shuffles and both broadcast when the vocab is bounded.
    */
  def bigramCrossEntropy(docs: DataFrame, ref: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    // bigrams via the native gram kernel (adjacent pairs joined " ");
    // w1/w2 split back row-wise AFTER the explode (tokens cannot
    // contain spaces) — the former zip_with-of-struct form evaluated
    // an interpreted lambda per pair
    def bigramCols(src: DataFrame, extra: Seq[Column]): DataFrame =
      src.select(extra :+ explode(
          graft.functions.GraftFunctions.ngramJoin(toks(col(textCol)), 2))
          .as("__bg"): _*)
        .select(extra ++ Seq(
          substring_index(col("__bg"), " ", 1).as("w1"),
          substring_index(col("__bg"), " ", -1).as("w2")): _*)
    val refToks = ref.select(explode(toks(col(textCol))).as("word"))
    val vocab = refToks.agg(
      greatest(count_distinct(col("word")), lit(1L)).as("__v"))
    // pinned: ctx and the scoring join both read refBg (the model is
    // bigram-vocab-sized, bounded)
    val refBg = bigramCols(ref, Seq.empty)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
      .transform(Pin.once)
    val ctx = refBg.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val docBg = bigramCols(docs, Seq(col(idCol)))
    docBg
      .join(refBg, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__nll",
        -log((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("__v")).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__nll")), 4).as("cross_entropy"))
  }
}
