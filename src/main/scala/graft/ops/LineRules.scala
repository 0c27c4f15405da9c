package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C4-style line-level page cleaning (Raffel et al. 2020, "Exploring the
  * Limits of Transfer Learning", §2.2) — the classic web-curation pass
  * the reference's extraction output would feed at training time:
  *
  * per LINE, keep iff ALL of
  *   1. ends in a terminal punctuation mark (`.` `!` `?` `"`);
  *   2. has at least `minWords` words;
  *   3. does not contain the word "javascript" (case-insensitive);
  *   4. contains no curly brace (code/markup tell);
  * per PAGE (doc), keep iff
  *   5. at least 3 lines survived, AND
  *   6. no line contains "lorem ipsum" (placeholder-text page drop —
  *      a PAGE rule in C4: the offending line may itself pass 1–4).
  *
  * Scale shape: every line flag is a codegen'd column expression
  * (map-side, scan speed); the ONLY shuffle is the single
  * `groupBy(doc_id)` that assembles per-page verdicts — partial
  * aggregation applies, and per-page state is the page's own kept
  * lines, never corpus-sized. At 10^12 documents this is one hash
  * aggregation over doc-keyed rows, identical in shape to q32's
  * Gopher gate (the two gates compose map-side before their shared
  * shuffle if run together).
  *
  * Input: (doc_id, idx, line) — one row per line, `idx` the line's
  * position on the page. Output: one row per doc —
  * (doc_id, n_lines, n_kept, kept_text, doc_kept) where `kept_text`
  * is the surviving lines joined by `\n` in page order ('' when none
  * survive).
  */
object LineRules {

  def c4LineFilter(lines: DataFrame, minWords: Int = 5): DataFrame = {
    // native case-preserving tokenizer (the count is case-insensitive
    // anyway; the former filter(split(...)) HOF was interpreted)
    val words = graft.functions.GraftFunctions.tokenizeRaw(col("line"))
    // \z, not $: Java's $ also matches before a trailing line
    // terminator, so a CR/LF-terminated line would pass here while the
    // RE2 oracle (end-of-text $) drops it
    val keep = col("line").rlike("[.!?\"]\\z") &&
      size(words) >= minWords &&
      !lower(col("line")).contains("javascript") &&
      !col("line").rlike("[{}]")
    val lorem = lower(col("line")).contains("lorem ipsum")
    lines
      .select(col("doc_id"), col("idx"), col("line"),
        keep.as("__keep"), lorem.as("__lorem"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          sort_array(collect_list(when(col("__keep"),
            struct(col("idx"), col("line"))))).getField("line"),
          "\n").as("kept_text"),
        bool_or(col("__lorem")).as("__lorem"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("kept_text"),
        (col("n_kept") >= 3 && !col("__lorem")).as("doc_kept"))
  }
}
