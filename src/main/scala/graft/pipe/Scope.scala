package graft.pipe

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scope text assembly + summarize — the T9 family
  * (`app.py:1893-2011`): the reference's summarize endpoint assembles
  * text at one of four scopes before summarizing:
  *
  *   full      = all page texts joined "\n\n" (`app.py:1905-1906`)
  *   page      = one page's text (`app.py:1917-1931`)
  *   paragraph = one paragraph's text (`app.py:1933-1963`)
  *   column    = that column's paragraphs' texts joined "\n\n"
  *               (`app.py:1996-2005`)
  *
  * The full scope is the extraction output itself: its `text`,
  * `summary` and `compression_ratio` columns ([[ExtractJob.finishDocs]]).
  * Page and column scopes are pure column programs over the
  * extracted/structure tables, summarized by the one summarizer kernel
  * ([[GraftFunctions.summarize]]).
  */
object Scope {

  /** Page-scope: one row per span ("page"), summarized individually. */
  def pageScope(extracted: DataFrame): DataFrame =
    extracted
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.offset").as("page"), col("s.text").as("scope_text"))
      .withColumn("summary", GraftFunctions.summarize(col("scope_text")))

  /** Column-scope: the column's paragraphs' texts joined "\n\n" in
    * paragraph-id order (`app.py:1996-2005` iterates the column's id
    * list, which is built in paragraph order).
    */
  def columnScope(structures: DataFrame): DataFrame =
    structures
      .select(col("media_ref"), col("structure.paragraphs").as("paras"),
        explode(col("structure.columns")).as("c"))
      .select(col("media_ref"), col("c.id").as("column_id"),
        array_join(
          transform(
            filter(col("paras"), p => array_contains(col("c.paragraphs"), p("id"))),
            p => p("text")),
          "\n\n").as("scope_text"))
      .withColumn("summary", GraftFunctions.summarize(col("scope_text")))
}
