package graft.util

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The one pinning policy for intermediate frames. Every pin in the
  * operator library goes through one of two verbs, so the storage
  * level, the lineage rule and the release live here and nowhere else.
  *
  *  - [[once]] is for a frame that one query reads more than once (a
  *    model feeding its totals and its scoring join, a range-partitioned
  *    frame read by a totals job and an output job). It materializes the
  *    frame eagerly, so every reader sees ONE evaluation, and keeps the
  *    lineage: a block lost with its executor is recomputed instead of
  *    failing the query. Blocks are replicated by recomputation, the
  *    recovery resilient datasets were built for (Zaharia et al., NSDI
  *    2012); a local checkpoint would store them on one executor only.
  *  - [[truncate]] is `localCheckpoint`, for iterative loops only (the
  *    label rounds of `Dedup.connectedComponents`, the rank rounds of
  *    `Graph.pageRank`, and the frames every round of them reads),
  *    where a lineage that grows by one round per iteration would
  *    otherwise be replanned from scratch each round, and every round's
  *    jobs would re-walk the kept lineage of their inputs. A lost block
  *    fails the query with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`; it never
  *    returns wrong rows.
  *
  * Neither verb uses `Dataset.persist`: that registers the plan in the
  * session's CacheManager, so a later query with an equal plan would be
  * served from the cache (cross-query caching), and nothing frees the
  * entry until someone unpersists it. A pin here is a plain persisted
  * RDD: [[release]] frees one, and [[releaseAll]] frees every pin of a
  * session between queries.
  */
object Pin {

  /** Materialize `df` once for the readers of one query, lineage kept:
    * Spark's eager `classic.Dataset.checkpoint` body without its
    * `localCheckpoint()`, so nothing enters the CacheManager.
    */
  def once(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("pin")) {
      val r = qe.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    GraftBridge.ofRows(rows, df)
  }

  /** Materialize one round of an iterative loop and cut its lineage. */
  def truncate(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Free the blocks of a frame returned by [[once]] or [[truncate]]
    * (a superseded loop round, or a pin no returned frame reads); a
    * no-op on any other frame.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD if l.rdd.getStorageLevel != StorageLevel.NONE =>
      l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Free every pin of the session, so the next query is measured or
    * run without the storage of the ones before it.
    */
  def releaseAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
}
