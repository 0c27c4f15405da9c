package graft.ops

import graft.util.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic global corpus shuffle + round-robin sharding — the
  * training-order step: a curated corpus must be (a) shuffled so no
  * shard is a topical/temporal run of the crawl, (b) identically on
  * every engine and every rerun (resume after a failed write must
  * produce byte-identical shards), and (c) split into `shards` files
  * of near-equal document count. The order is the seedless
  * deterministic rank of [[Sampling.detRank]] (md5 of the id's string
  * rendering — a corpus-wide pseudo-random permutation with no RNG
  * and no driver state), `pos` is the 0-based global position in that
  * order, and `shard = pos % shards` deals documents round-robin so
  * shard sizes differ by at most one.
  *
  * The rule is one global `row_number` window — SQL-expressible, the
  * DuckDB oracle — but a naive `Window.orderBy(rank)` funnels the
  * corpus through ONE task. This is the same parallel-prefix escape
  * as [[Packing.packByBudget]], counting rows instead of tokens:
  * range-partition by (rank, id), per-partition `row_number` (every
  * window group is one bounded range partition), per-partition counts
  * -> driver prefix offsets (P scalars, control plane only), one
  * map-side add. A [[Pin.once]] fixes the materialized range
  * boundaries for the counts job and the output job (see
  * [[rangePrefix]]).
  *
  * Writing the result is `repartition(shards, col("shard"))` +
  * `sortWithinPartitions("pos")` — one shuffle, each shard one sorted
  * file.
  */
object Shuffling {

  /** The shared parallel-prefix core: appends `__before` = the global
    * EXCLUSIVE prefix sum of `valueCol` (cast to long, must be
    * non-negative) under the total order `orderCols` (append the id
    * as the last key — ties would make the rank ambiguous).
    * Range-partition by the order keys, per-partition running sums (a
    * window keyed by partition id — every group is one bounded range,
    * no whale key possible), per-partition totals -> driver prefix
    * offsets (P control-plane scalars, never data rows), one map-side
    * add.
    *
    * [[Pin.once]] PINS the materialized partitioning: the totals
    * collect and the returned frame are separate jobs, and
    * RangePartitioner re-samples its bounds per job — without the pin
    * a row near a boundary could land in pid P for the totals job but
    * pid P+1 for the output job, silently corrupting every downstream
    * offset. A lost block is recomputed through the same range
    * exchange, bounds and all. The input is NOT pinned: the bounds
    * sample and the exchange each read it, so a caller whose input has
    * an expensive lineage pins it at its own call site. Single
    * definition for the rank/packing/banding/proportional-sample family.
    */
  private[ops] def rangePrefix(df: DataFrame,
                               orderCols: Seq[org.apache.spark.sql.Column],
                               valueCol: org.apache.spark.sql.Column,
                               parts: Int): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val spark = df.sparkSession
    val p = if (parts > 0) parts else spark.sparkContext.defaultParallelism
    val ranged = df.withColumn("__v", valueCol.cast("long"))
      .repartitionByRange(p, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("__run", sum(col("__v")).over(w))
      .transform(Pin.once)
    // max(__run) == the partition total (values are non-negative);
    // range partitions are assigned in ascending key order, so pid
    // order IS the global order
    val totals = local.groupBy(col("__pid"))
      .agg(max(col("__run")).as("__tot"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    val offsets = new Array[Long](p)
    var acc = 0L
    var i = 0
    while (i < p) {
      offsets(i) = acc
      acc += totals.getOrElse(i, 0L)
      i += 1
    }
    val offLit = typedLit(offsets.toSeq)
    local
      .withColumn("__before",
        element_at(offLit, col("__pid") + 1) + col("__run") - col("__v"))
      .drop("__pid", "__run")
  }

  /** The parallel-prefix global rank, reusable for ANY total order:
    * appends 0-based `pos` = the input's global rank under
    * `orderCols` (which MUST be a total order — append the id as the
    * last key); [[rangePrefix]] with value 1. Input columns pass
    * through.
    */
  def globalRank(df: DataFrame, orderCols: Seq[org.apache.spark.sql.Column],
                 parts: Int = 0): DataFrame =
    rangePrefix(df, orderCols, lit(1L), parts)
      .withColumn("pos", col("__before"))
      .drop("__before", "__v")

  /** (idCol) -> (idCol, pos, shard); `pos` is the global rank in
    * deterministic-shuffle order, `shard` = pos % shards.
    */
  def deterministicShuffle(docs: DataFrame, shards: Int,
                           idCol: String = "doc_id", parts: Int = 0): DataFrame = {
    require(shards > 0, "shards must be positive")
    val base = docs.select(col(idCol), Sampling.detRank(col(idCol)).as("__r"))
    globalRank(base, Seq(col("__r"), col(idCol)), parts)
      .withColumn("shard", pmod(col("pos"), lit(shards.toLong)).cast("int"))
      .select(col(idCol), col("pos"), col("shard"))
  }
}
