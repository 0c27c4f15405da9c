package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental corpus diff between two snapshots — the daily-refresh
  * primitive: a recrawl lands, and the pipeline should reprocess ONLY
  * what moved. Each side reduces map-side to (id, content-hash) — the
  * corpus TEXT never crosses the shuffle, only 32-byte hashes — then
  * one full-outer equi-join on the id classifies every document:
  *
  *   added      in current only
  *   removed    in previous only
  *   changed    in both, content hash differs
  *   unchanged  in both, hash equal
  *
  * At 10^12 docs this is the cheapest possible shape: two scans, two
  * map-side md5 projections, one hash shuffle on the id (zero if both
  * snapshots are bucketed/partitioned on it — the Iceberg layout the
  * extraction sink already writes). Feeding `added` + `changed` into
  * the extraction job's committed-partition manifest gives exact
  * incremental reprocessing; `removed` drives tombstoning.
  *
  * The hash is md5 of the raw text bytes — engine-portable (the q43
  * keeper convention), so an auditor can reproduce the diff in any
  * engine. Docs with NULL text hash to NULL; two NULL-text rows
  * compare EQUAL (both absent ⇒ unchanged), via null-safe compare.
  */
object Snapshot {

  def diff(current: DataFrame, previous: DataFrame): DataFrame = {
    val c = current.select(col("doc_id"), md5(col("text").cast("binary")).as("__hc"),
      lit(1).as("__inc"))
    val p = previous.select(col("doc_id"), md5(col("text").cast("binary")).as("__hp"),
      lit(1).as("__inp"))
    c.join(p, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__inp").isNull, "added")
          .when(col("__inc").isNull, "removed")
          .when(!(col("__hc") <=> col("__hp")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Latest-wins upsert — the APPLY side of [[diff]]: merge a delta
    * batch into a base snapshot keeping, per id, the row with the
    * highest `version` column; on a version tie the DELTA row wins (the
    * MERGE INTO semantics every incremental-ingest pipeline needs,
    * engine-side — at deployment the same rule rides Iceberg's
    * copy-on-write MERGE).
    *
    * Shape: the keeper is a `max_by` over a lexicographic
    * (version, is_delta) struct — ONE hash aggregation with map-side
    * combine, no window. A whale id (the same doc re-crawled 10^6
    * times across deltas) collapses map-side instead of serializing
    * a per-key window — the q45/q48 keeper discipline.
    *
    * Contract: ids are unique WITHIN each input (standard CDC batch
    * contract); cross-input duplicates are exactly what the rule
    * resolves. Both inputs must share the schema.
    */
  def upsertLatestWins(base: DataFrame, delta: DataFrame): DataFrame = {
    require(base.columns.sorted.sameElements(delta.columns.sorted),
      s"base/delta schemas differ: ${base.columns.mkString(",")} vs ${delta.columns.mkString(",")}")
    val payload = base.columns.filter(_ != "doc_id").toSeq
    val u = base.withColumn("__src", lit(0))
      .unionByName(delta.withColumn("__src", lit(1)))
    u.groupBy(col("doc_id"))
      .agg(max_by(
        struct(payload.map(col): _*),
        struct(col("version"), col("__src"))).as("__w"))
      .select(col("doc_id") +: payload.map(c => col(s"__w.$c").as(c)): _*)
  }
}
