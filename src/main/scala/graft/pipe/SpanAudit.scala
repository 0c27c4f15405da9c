package graft.pipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Span-sequence integrity audit — the north-rule output contract
  * (kind, text, media_ref, order) as a checkable invariant over an
  * extracted corpus. The extraction sink promises, per document:
  * offsets dense from 0 (the splice order is total and gapless — a
  * gap means a span was lost, a duplicate means one was spliced
  * twice), media spans carry a media_ref and text spans don't, and
  * every kind is one of text|media. This op turns that promise into
  * per-document counters so a 10^12-doc run can assert it (and
  * quarantine violators) instead of assuming it.
  *
  * Two forms, same output schema:
  *  - [[audit]] over the exploded relational span table (the
  *    extraction output shape) — ONE doc-keyed hash aggregation of
  *    conditional counters, map-side combinable; this is the whole
  *    cost at any scale.
  *  - [[auditNested]] over the nested (doc_id, spans array) table —
  *    pure MAP-SIDE array arithmetic, ZERO shuffles: when the corpus
  *    is already row-per-document (the Iceberg input_hint layout),
  *    integrity is free.
  *
  * Output per doc: n_spans, n_dup_offsets, n_missing (holes below
  * the max offset), first_offset, n_bad_media (media without ref /
  * text with ref), n_bad_kind, is_clean. A document absent from the
  * relational input is invisible to [[audit]] (no rows ⇒ no doc) —
  * pair with the extraction manifest for presence; [[auditNested]]
  * reports empty span arrays as unclean (an extracted doc must carry
  * at least one span).
  */
object SpanAudit {

  private def cleanExpr: Column =
    col("n_dup_offsets") === 0L && col("n_missing") === 0L &&
      col("first_offset") === 0L && col("n_bad_media") === 0L &&
      col("n_bad_kind") === 0L

  /** Relational form: one row per span with columns
    * (doc_id, kind, media_ref, offset).
    */
  def audit(spans: DataFrame): DataFrame =
    spans.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_spans"),
        (count(lit(1)) - countDistinct(col("offset"))).as("n_dup_offsets"),
        (max(col("offset")).cast("long") + 1L - countDistinct(col("offset")))
          .as("n_missing"),
        min(col("offset")).cast("long").as("first_offset"),
        sum(when((col("kind") === "media" && col("media_ref") === "") ||
                 (col("kind") === "text" && col("media_ref") =!= ""), 1L)
          .otherwise(0L)).as("n_bad_media"),
        sum(when(!col("kind").isin("text", "media"), 1L).otherwise(0L))
          .as("n_bad_kind"))
      .withColumn("is_clean", cleanExpr)

  /** Nested form: one row per document with
    * `spans: array<struct<kind,text,media_ref,offset>>`.
    */
  def auditNested(docs: DataFrame): DataFrame = {
    val sp = col("spans")
    val offs = transform(sp, s => s("offset").cast("long"))
    val distinctOffs = array_distinct(offs)
    docs.select(
        col("doc_id"),
        size(sp).cast("long").as("n_spans"),
        (size(sp) - size(distinctOffs)).cast("long").as("n_dup_offsets"),
        when(size(sp) === 0, 0L)
          .otherwise(array_max(offs) + 1L - size(distinctOffs))
          .as("n_missing"),
        when(size(sp) === 0, lit(null).cast("long"))
          .otherwise(array_min(offs)).as("first_offset"),
        size(filter(sp, s =>
          (s("kind") === "media" && s("media_ref") === "") ||
          (s("kind") === "text" && s("media_ref") =!= "")))
          .cast("long").as("n_bad_media"),
        size(filter(sp, s => !s("kind").isin("text", "media")))
          .cast("long").as("n_bad_kind"))
      .withColumn("is_clean", col("n_spans") > 0L && cleanExpr)
  }
}
