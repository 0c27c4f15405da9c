package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring removal — the corpus-level "exact
  * substring dedup" rule (Lee et al., *Deduplicating Training Data
  * Makes Language Models Better*, arXiv:2107.06499) in its windowed
  * k-gram coverage form: a token is removed iff it is covered by some
  * k-token window whose text occurs MORE than once in the corpus and
  * whose occurrence is not the global first (lowest (doc id, position))
  * occurrence of that window. The suffix-array formulation of the
  * paper marks maximal shared substrings of >= k tokens; the k-window
  * coverage rule marks exactly the same spans (every position inside a
  * shared run of length >= k lies in a duplicated window, and no
  * position outside one does) while staying relational — no suffix
  * array, no per-node state.
  *
  * The rule is a pure function of (gram text -> occurrence order), so
  * the whole operator is SQL-expressible and DuckDB-oracleable, while
  * the implementation below is the shape that survives 100 TB:
  *
  *   1. gram occurrences shuffle as (16-byte md5, id, pos) — never the
  *      gram text (k tokens per gram x corpus = k-fold write
  *      amplification if shipped raw). md5 keeps the collision budget
  *      honest at 10^14 grams (2^64 birthday bound; xxhash64 would NOT
  *      survive that scale).
  *   2. the keeper per gram is a min-of-struct + count AGGREGATE (map-
  *      side combine absorbs whale grams — corpus-wide boilerplate
  *      collapses in the partial agg; no per-gram window, which would
  *      serialize a billion-occurrence gram into one task).
  *   3. duplicate occurrences come from an equi-join of occurrences
  *      with the (n > 1) gram groups — hash join on the 16-byte key,
  *      AQE skew-split handles the boilerplate keys.
  *   4. coverage is the as-of trick ([[Joins.asofJoin]]'s tagged
  *      union): because every dup window has EXACTLY k tokens, token
  *      position j is covered iff the latest dup start at or before j
  *      is within k — one per-doc window pass, no token x window range
  *      join. Per-doc windows are bounded by document length; no whale
  *      key is possible.
  *
  * Output: one row per input document — (doc_id, n_tokens, n_removed,
  * kept_text) where kept_text re-joins the surviving tokens with
  * single spaces (tokenization is the corpus-wide `\W+` lowercase
  * rule, q07 parity). Documents shorter than k tokens pass through
  * untouched; empty documents yield (0, 0, "").
  */
object ExactSubstr {

  /** Lowercased `\W+` tokens, empties dropped — the corpus tokenizer. */
  private def toksOf(textCol: Column): Column =
    graft.functions.GraftFunctions.tokenizeWords(textCol)

  def dedupSubstrings(docs: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, "window length k must be >= 2")
    val base = docs
      .select(col("doc_id").as("id"), toksOf(col("text")).as("__toks"))
      .withColumn("__n", size(col("__toks")))

    // one row per token — the granularity the operator inherently works at
    val tok = base
      .select(col("id"), posexplode(col("__toks")))
      .toDF("id", "pos", "tok")

    // k-gram occurrences as (16-byte hash, id, pos); docs shorter than
    // k contribute none (nothing to share at window length k — the
    // native gram kernel returns an empty array below k tokens). The
    // md5+unhex runs ROW-WISE after the posexplode: whole-stage
    // codegen, no interpreted per-element lambda.
    val occ = base
      .select(col("id"),
        posexplode(graft.functions.GraftFunctions.ngramJoin(col("__toks"), k)))
      .toDF("id", "pos", "__gram")
      .select(col("id"), col("pos"), unhex(md5(col("__gram"))).as("__h"))

    // keeper + multiplicity per gram: aggregate, not window (map-side
    // combine absorbs boilerplate grams); only duplicated grams survive
    val grp = occ.groupBy(col("__h"))
      .agg(count(lit(1)).as("__cnt"), min(struct(col("id"), col("pos"))).as("__k"))
      .filter(col("__cnt") > 1)
      .select(col("__h"), col("__k")("id").as("__kid"), col("__k")("pos").as("__kpos"))

    // every non-keeper occurrence of a duplicated gram starts a
    // removal window [pos, pos + k)
    val dup = occ.join(grp, Seq("__h"))
      .filter(!(col("id") === col("__kid") && col("pos") === col("__kpos")))
      .select(col("id"), col("pos"))

    // fixed-length windows => covered(j) iff latest dup start <= j is
    // > j - k: one tagged-union window pass per doc (dup rows sort
    // before the token at the same position)
    val ev = tok.select(col("id"), col("pos"), lit(1).as("__side"), col("tok"))
      .unionByName(dup.select(col("id"), col("pos"), lit(0).as("__side"),
        lit(null).cast("string").as("tok")))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = ev
      .withColumn("__lastDup", max(when(col("__side") === 0, col("pos"))).over(w))
      .filter(col("__side") === 1)
      .withColumn("__covered",
        col("__lastDup").isNotNull && (col("pos") - col("__lastDup")) < k)

    // per-doc assembly; the sort-collect is bounded by doc length.
    // sort_array (native ordering) + GetArrayStructFields (`.tok` on
    // the array of structs) instead of array_sort + transform: the
    // latter pair evaluates an interpreted comparator/extractor lambda
    // per element (collect_list drops nulls, so the null-ordering
    // difference between the two sorts cannot surface)
    val perDoc = marked.groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__covered"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          sort_array(collect_list(when(!col("__covered"),
            struct(col("pos"), col("tok"))))).getField("tok"),
          " ").as("kept_text"))

    docs.select(col("doc_id").as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }
}
