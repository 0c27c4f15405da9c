package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML boilerplate stripping and DOM-heuristic main-content
  * extraction — the web-page flavor of the extraction pipeline
  * (north_rule: "HTML boilerplate strip, PDF/layout parse, DOM
  * heuristics"; the reference handles the PDF/image side, this is the
  * interleaved-corpus sibling for documents whose text spans carry
  * markup).
  *
  * Everything here is a declarative Column/DataFrame program over
  * codegen'd string expressions (regexp_replace/split/posexplode) —
  * no UDFs, no interpreted higher-order functions — so Catalyst keeps
  * the whole chain inside whole-stage codegen and the operators scale
  * as plain projections: per-row work, no shuffle until the per-doc
  * reassembly aggregation.
  *
  * Regex-domain contract (documented, standard for regex-based
  * extraction): tags must not contain a literal '>' inside attribute
  * values, and script/style bodies must not contain their own closing
  * tag inside string literals. All patterns are RE2-compatible (no
  * lookbehind/backreferences), so the DuckDB oracle runs the exact
  * same expressions.
  */
object Html {

  /** Block-level closing tags: the seams along which a page splits
    * into candidate content blocks (the jusText/Boilerpipe block
    * model).
    */
  val blockSplitRe: String =
    "(?i)</(?:p|div|h[1-6]|li|ul|ol|table|tr|td|article|section|header|footer|nav|blockquote|pre)>"

  /** Entities decoded after tag removal. `&amp;` must decode LAST so
    * double-encoded entities ("&amp;lt;") do not double-decode.
    */
  val entities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** Strip a page to its visible text: drop script/style bodies and
    * comments, remove tags, decode the common entities, collapse
    * whitespace. Pure per-row projection.
    */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      replace(c, lit(e), lit(r))
    }
    // native collapse+trim kernel (round-6): byte-identical to
    // trim(regexp_replace(decoded, "\s+", " "))
    graft.functions.GraftFunctions.collapseWs(decoded)
  }

  /** One row per candidate content block: (doc_id, block_pos,
    * block_text, n_words, n_links). The split + per-block stats are a
    * posexplode projection (relational form — NOT a higher-order
    * lambda), so every expression stays codegen'd.
    */
  def blocks(pages: DataFrame, htmlCol: Column, idCol: Column): DataFrame =
    pages
      // coalesce: split(null) is null and posexplode(null) emits ZERO
      // rows, which would drop a null-html page from the output
      // entirely — the contract is one row per input page
      .select(idCol.as("doc_id"), posexplode(split(coalesce(htmlCol, lit("")), blockSplitRe)))
      .withColumnRenamed("pos", "block_pos")
      .withColumn("block_text", stripHtml(col("col")))
      .withColumn("n_words",
        when(col("block_text") === "", 0)
          .otherwise(size(split(col("block_text"), " "))))
      .withColumn("n_links", regexp_count(col("col"), lit("(?i)<a[\\s>]")).cast("int"))
      .drop("col")

  /** DOM-heuristic main-content selection (the jusText/Arc90 family):
    * a block is content iff it has at least 5 words and at
    * most one link per 5 words (navigation and footer
    * chrome is short and link-dense; body copy is long and link-
    * sparse). Kept blocks reassemble in document order, "\n\n"-joined.
    * Integer-only keep arithmetic (n_links * 5 <= n_words)
    * so the oracle compares exactly.
    *
    * Output: (doc_id, n_blocks, n_kept, main_text) — one row per input
    * page, empty main_text when nothing qualifies.
    */
  def mainContent(pages: DataFrame, htmlCol: Column, idCol: Column): DataFrame =
    blocks(pages, htmlCol, idCol)
      .withColumn("keep",
        col("n_words") >= 5 &&
          col("n_links") * 5 <= col("n_words"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          sort_array(collect_list(when(col("keep"),
            struct(col("block_pos"), col("block_text"))))).getField("block_text"),
          "\n\n").as("main_text"))
}
