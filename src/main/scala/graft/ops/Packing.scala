package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-token-budget sharding ("sequence packing") — the step that
  * turns a curated corpus into training shards of ~`budgetTokens`
  * each: documents in a deterministic global order (by id) are
  * assigned shard = floor(tokens_before_this_doc / budget), i.e. a
  * new shard starts whenever the running token count crosses a
  * budget boundary. The rule is a pure function of the global prefix
  * sum, so the output is exactly SQL-expressible (one running-sum
  * window — the DuckDB oracle) while the implementation is the
  * SCALABLE form of that window:
  *
  *   1. range-partition by id (P ordered ranges);
  *   2. per-partition running sums (a window keyed by partition id —
  *      every group is one bounded range, no whale key possible);
  *   3. per-partition totals -> driver-side prefix offsets (P
  *      scalars, control-plane only — never data rows);
  *   4. one map-side add of the broadcast offset.
  *
  * A naive `Window.orderBy(id)` with no partition key funnels the
  * whole corpus through ONE task — the classic global-window trap;
  * this is the standard parallel-prefix-sum escape. Output is
  * invariant to P and to where the sampled range boundaries fall
  * (the offsets are exact for whatever partitioning materialized).
  *
  * A document larger than `budgetTokens` keeps the deterministic
  * rule: it starts in the shard its prefix lands in and later docs
  * skip the boundaries it crossed.
  */
object Packing {

  /** (doc_id, nTokens) -> (doc_id, n_tokens, shard). `nTokens` must
    * be a non-negative column (negative values would break the
    * max-running == partition-total step).
    */
  def packByBudget(docs: DataFrame, budgetTokens: Long, nTokens: Column,
                   parts: Int = 0): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    // the running token sum is Shuffling.rangePrefix — the shared
    // parallel-prefix core (range partition, per-partition window, P
    // driver offset scalars, Pin.once pin; see its doc for the
    // pinning correctness argument) — with the token count as the
    // summed value instead of 1
    Shuffling.rangePrefix(
        docs.select(col("doc_id"), nTokens.cast("long").as("n_tokens")),
        Seq(col("doc_id")), col("n_tokens"), parts)
      .withColumn("shard", graft.util.SqlCols.floorDiv(col("__before"), budgetTokens))
      .select(col("doc_id"), col("n_tokens"), col("shard"))
  }

  /** The q07-parity token count (`\W+` split, empties dropped) — the
    * default `nTokens` for text corpora.
    */
  def wordTokens(textCol: Column): Column =
    size(filter(split(textCol, "\\W+"), t => t =!= ""))

  /** Padding-waste audit for length-bucketed batching — the training-
    * systems question behind every bucket ladder: if sequences pad up
    * to the smallest cap ≥ their length, what fraction of the batch
    * slots is padding? Per bucket: doc count, kept tokens (clamped at
    * the cap — docs above the top cap TRUNCATE there, a first-class
    * counter, not silence), padded slots (docs × cap) and the waste
    * fraction (padded − kept)/padded.
    *
    * Scale shape: the caps are a literal broadcast ladder (the bucket
    * pick is a min-cap-≥-length join against ≤ dozens of rows —
    * INTEGER-exact, never float log2 whose ulps flip exact powers of
    * two across engines); one doc-keyed pick + one bucket agg.
    */
  def paddingWaste(docs: DataFrame, nTokens: Column,
                   caps: Seq[Long]): DataFrame = {
    require(caps.nonEmpty && caps == caps.sorted && caps.distinct == caps
      && caps.head > 0, "caps must be positive, ascending, distinct")
    val spark = docs.sparkSession
    import spark.implicits._
    val ladder = caps.toDF("cap")
    val maxCap = caps.max
    val d = docs.select(col("doc_id"), nTokens.cast("long").as("__n"))
    val bucketed = d
      .join(broadcast(ladder), col("__n") <= col("cap"), "left")
      .groupBy(col("doc_id"), col("__n"))
      .agg(coalesce(min(col("cap")), lit(maxCap)).as("bucket"))
      .withColumn("kept", least(col("__n"), col("bucket")))
      .withColumn("truncated", greatest(col("__n") - col("bucket"), lit(0L)))
    bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("kept_tokens"),
        sum(col("truncated")).as("truncated_tokens"),
        (count(lit(1)) * first(col("bucket"))).as("padded_slots"))
      .select(col("bucket"), col("n_docs"), col("kept_tokens"),
        col("truncated_tokens"), col("padded_slots"),
        round((col("padded_slots") - col("kept_tokens")).cast("double") /
          col("padded_slots").cast("double"), 6).as("waste_frac"))
  }
}
