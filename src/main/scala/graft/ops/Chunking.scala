package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sliding-window token chunking — the step that turns curated
  * documents into fixed-context training windows (the "context
  * window sharding" every LM data pipeline runs after packing or
  * instead of it, when examples must not cross document boundaries).
  * Each document's token stream is cut into windows of `window`
  * tokens starting every `stride` tokens (stride < window ⇒
  * overlapping windows, the standard eval-perplexity setting;
  * stride == window ⇒ disjoint blocks):
  *
  *   starts  = 0, stride, 2·stride, …  while start < n_tokens
  *   chunk_i = tokens[start, min(start+window, n)), joined by ' '
  *
  * The trailing partial window is kept (dropping it would silently
  * lose the document tail — callers that want full windows filter
  * `n_tok == window`).
  *
  * Scale shape: pure map-side — tokenize, `sequence` over starts,
  * `transform` + `posexplode`. ZERO shuffles at any corpus size; the
  * only growth is output rows = ceil(n/stride) per doc, a constant
  * factor the caller chose. Tokenization is the shared q07-parity
  * tokenizer so the op is exactly SQL-expressible (the DuckDB
  * oracle replays it with generate_series + list slicing).
  */
object Chunking {

  /** (doc_id, text) -> (doc_id, chunk_idx, tok_start, n_tok,
    * chunk_text). Documents with zero tokens produce no chunks.
    */
  def slidingChunks(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(stride >= 1 && stride <= window,
      "stride must be in [1, window] (stride > window would drop tokens)")
    val t = graft.functions.GraftFunctions.tokenizeWords(col("text"))
    docs
      .select(col("doc_id"), t.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride))))
      .select(
        col("doc_id"),
        col("pos").cast("int").as("chunk_idx"),
        col("col").cast("long").as("tok_start"),
        least(lit(window), size(col("__toks")) - col("col"))
          .cast("long").as("n_tok"),
        array_join(slice(col("__toks"), col("col") + 1, lit(window)), " ")
          .as("chunk_text"))
  }
}
