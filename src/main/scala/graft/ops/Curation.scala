package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation verdict: the composition a training-data
  * pipeline actually runs — every per-document signal joined into one
  * keep/drop decision with the per-rule flags kept queryable (a
  * filtered corpus you cannot audit is a corpus you cannot debug).
  *
  * All joins are on doc_id (the natural partitioning key), so at
  * 100 TB the verdict is a handful of co-partitioned hash joins over
  * aggregates that are each themselves doc_id-keyed — no broadcast of
  * anything data-sized, no skew beyond what each input operator
  * already bounds.
  */
object Curation {

  /** SQL-expressible verdict (the DuckDB-oracle slice): exact-dup
    * keeper + composite quality + language + Gopher gate.
    *
    * Output: (doc_id, is_exact_keeper, quality_score, predicted_lang,
    * gopher_keep, keep).
    */
  def verdict(docs: DataFrame): DataFrame = {
    val keepers = Dedup.exact(docs)
      .select(col("keeper").as("doc_id"), lit(true).as("is_exact_keeper"))
    val quality = TextAnalysis.qualityFeatures(docs)
      .select(col("doc_id"), col("quality_score"))
    val gopher = TextAnalysis.gopherQuality(docs)
      .select(col("doc_id"), col("gopher_keep"))
    docs.select(col("doc_id"), TextAnalysis.predictedLang(col("text")).as("predicted_lang"))
      .join(quality, Seq("doc_id"))
      .join(gopher, Seq("doc_id"))
      .join(keepers, Seq("doc_id"), "left")
      .withColumn("is_exact_keeper", coalesce(col("is_exact_keeper"), lit(false)))
      .withColumn("keep",
        col("is_exact_keeper") &&
          col("quality_score") >= 0.3 &&
          col("predicted_lang").isin("en", "id") &&
          col("gopher_keep"))
      .select(col("doc_id"), col("is_exact_keeper"), col("quality_score"),
        col("predicted_lang"), col("gopher_keep"), col("keep"))
  }

  /** Full verdict: [[verdict]] plus MinHash-LSH near-duplicate losers
    * (for each verified near-dup pair, the higher doc_id drops; the
    * lower survives — the deterministic canonical-representative rule).
    * Near-dup detection is approximate by contract, so this form is
    * fixture-tested rather than DuckDB-oracled.
    */
  def verdictFull(docs: DataFrame, nearDupThreshold: Double = 0.7): DataFrame = {
    val losers = Dedup.minhashLsh(docs, threshold = nearDupThreshold)
      .select(col("id_b").as("doc_id"))
      .distinct()
      .withColumn("is_neardup_loser", lit(true))
    verdict(docs)
      .join(losers, Seq("doc_id"), "left")
      .withColumn("is_neardup_loser", coalesce(col("is_neardup_loser"), lit(false)))
      .withColumn("keep", col("keep") && !col("is_neardup_loser"))
  }
}
