package graft.ops

import graft.util.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Importance resampling weights (DSIR — Xie et al., NeurIPS 2023):
  * score every raw document by how target-like its hashed-bigram
  * distribution is, for resampling a web crawl toward a trusted
  * target corpus (the Pile-toward-Wikipedia recipe). The per-doc log
  * importance weight under Laplace-smoothed bag-of-hashed-bigrams
  * models is
  *
  *   log w(d) = sum_f c_f(d) * [ ln p_target(f) - ln p_raw(f) ]
  *   p_X(f)   = (count_X(f) + 1) / (total_X + B)
  *
  * over features f = hash(bigram) mod B. The HASHING is the scale
  * contract: the model is exactly B buckets regardless of vocabulary
  * size, so it stays broadcast-sized at any corpus scale — unlike a
  * vocab-keyed model, which grows with the crawl. The bucket hash is
  * the first 8 hex chars of md5 parsed as an integer (engine-portable:
  * any SQL engine computes the identical bucket, so the whole
  * operator is oracle-checkable; a seeded xxhash64 would be
  * Spark-private).
  *
  * Scale shape: two model aggs (target features, raw features — each
  * a map-side-combine shuffle bounded to B output rows, pinned so
  * totals and the scoring join share one evaluation) + the scoring
  * pass (broadcast model joins, doc-keyed sum). The raw pool is
  * necessarily read twice — p_raw must see the WHOLE pool before any
  * document can be scored; that barrier is the algorithm, not the
  * plan. No window anywhere. Documents with fewer than 2 tokens have
  * no bigram features and are absent from the output (their weight is
  * the prior ratio alone — not meaningful for resampling).
  *
  * Resampling itself composes downstream: `log_w` feeds
  * [[Sampling.rankBands]] / top-k selection, or Gumbel-perturbed
  * rank for the stochastic variant (perturbation is a deployment
  * choice, kept out of the deterministic engine op).
  */
object Dsir {

  def importanceWeights(docs: DataFrame, target: DataFrame,
                        buckets: Int = 65536,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    // hashed bigram features: native gram kernel for the adjacent
    // pairs, then the shared md5-hex-head uniform hash (SqlCols
    // .md5Head32 — 32 bits, safely inside LONG for the mod, ANSI-safe)
    // applied ROW-WISE after the explode (the former transform-over-
    // zip_with evaluated two interpreted lambdas per pair)
    def explodedFeats(src: DataFrame, extra: Seq[Column]): DataFrame =
      src.select(extra :+ explode(
          graft.functions.GraftFunctions.ngramJoin(toks(col(textCol)), 2))
          .as("__bg"): _*)
        .select(extra :+
          pmod(graft.util.SqlCols.md5Head32(col("__bg")), lit(buckets.toLong))
            .as("f"): _*)
    // pinned: each model feeds BOTH its total and the scoring join
    // (the model is <= B rows, bounded); the broadcast below is
    // structural, not a size guess
    def model(src: DataFrame, cnt: String) = explodedFeats(src, Seq.empty)
      .groupBy(col("f")).agg(count(lit(1)).as(cnt))
      .transform(Pin.once)
    val tm = model(target, "ct")
    val rm = model(docs, "cr")
    val consts = tm.agg(coalesce(sum(col("ct")), lit(0L)).as("__tt"))
      .crossJoin(rm.agg(coalesce(sum(col("cr")), lit(0L)).as("__tr")))
    val docF = explodedFeats(docs, Seq(col(idCol)))
    docF
      .join(broadcast(tm), Seq("f"), "left")
      .join(broadcast(rm), Seq("f"), "left")
      .crossJoin(broadcast(consts))
      .withColumn("__lr",
        log((coalesce(col("ct"), lit(0L)) + 1L).cast("double") /
            (col("__tt") + lit(buckets.toLong)).cast("double")) -
        log((coalesce(col("cr"), lit(0L)) + 1L).cast("double") /
            (col("__tr") + lit(buckets.toLong)).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("__lr")), 4).as("log_w"))
  }
}
