package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (Sennrich et al. 2016) over a
  * corpus — the subword-vocabulary step of a tokenizer build.
  *
  * Scale contract (the Lloyd-codebook pattern from
  * [[Similarity.trainIvf]]): the corpus is touched by exactly ONE
  * aggregation — word counts — and everything after runs over the
  * top-`vocabCap` WORD TYPES (TakeOrdered head, model-sized by
  * construction: BPE statistics saturate on the frequent types; the
  * standard practice at any scale is a capped or sampled vocabulary).
  * The merge loop itself is driver-side over <= vocabCap rows — the
  * model being trained, never data rows — and fully deterministic:
  * ties on pair count break lexicographically, so the merge table is
  * a pure function of the word-count head.
  */
object Bpe {

  /** End-of-word sentinel appended to every word's symbol sequence —
    * keeps mid-word and word-final units distinct (the paper's
    * `</w>`).
    */
  val EndOfWord = "</w>"

  private def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)

  /** The single corpus-sized aggregation: (word, count), then the
    * deterministic top-`vocabCap` head (count desc, word asc).
    */
  private def wordCountHead(docs: DataFrame, vocabCap: Int): Array[(String, Long)] =
    docs.select(explode(toks(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word"))
      .limit(vocabCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))

  /** Learn `merges` BPE merges. Returns one row per learned merge:
    * (rank INT starting at 1, left, right, merged, pair_count LONG).
    * Stops early when no pair reaches 2 occurrences (weighted
    * by word frequency). Highest pair count wins each round; ties
    * break on (left, right) ascending — byte-for-byte reproducible.
    */
  def trainBpe(docs: DataFrame, merges: Int = 100, vocabCap: Int = 50000): DataFrame = {
    require(merges > 0 && vocabCap > 0, "positive params")
    val spark = docs.sparkSession
    import spark.implicits._
    val head = wordCountHead(docs, vocabCap)
    val table = learnMerges(head, merges, 2L)
    table.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** The driver-side merge loop over the (word, freq) head — pure
    * function, no Spark: exposed for spec-level law checks.
    */
  private[graft] def learnMerges(head: Array[(String, Long)], merges: Int,
                               minPair: Long): Array[(Int, String, String, String, Long)] = {
    // each word type -> (symbol sequence, frequency)
    var words: Array[(Array[String], Long)] = head.map { case (w, c) =>
      (w.map(_.toString).toArray :+ EndOfWord, c)
    }
    val out = Array.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    var done = false
    while (r <= merges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // max count, ties to the lexicographically smallest pair
        val ((l, rt), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        if (c < minPair) done = true
        else {
          out += ((r, l, rt, l + rt, c))
          words = words.map { case (syms, wc) =>
            (mergePair(syms, l, rt), wc)
          }
          r += 1
        }
      }
    }
    out.result()
  }

  /** One left-to-right, non-overlapping merge pass (the BPE rule:
    * after `ab -> X`, the sequence `aab` becomes `aX`, not `Xb`).
    */
  private[graft] def mergePair(syms: Array[String], l: String, r: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  /** Encode one word with a learned merge table (merges applied in
    * rank order, each exhaustively). Pure function for specs and the
    * [[bpeTokenCounts]] kernel.
    */
  private[graft] def encodeWord(word: String,
                              table: Array[(String, String)]): Array[String] = {
    var syms = word.map(_.toString).toArray :+ EndOfWord
    table.foreach { case (l, r) =>
      if (syms.length > 1) syms = mergePair(syms, l, r)
    }
    syms
  }

  /** Per-document BPE token counts under a learned merge table — the
    * "how many tokens is this corpus under MY tokenizer" step of a
    * budget plan (vs the whitespace/regex counts of q07). The merge
    * table rides into the closure as an Array (broadcast by
    * construction — it is `merges` rows); per-row work is the
    * procedural encode kernel over the native word tokens, map-side
    * only.
    */
  def bpeTokenCounts(docs: DataFrame, mergeTable: DataFrame): DataFrame = {
    val table = mergeTable.orderBy(col("rank"))
      .select(col("left"), col("right"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    val enc = udf((words: Seq[String]) =>
      if (words == null) 0L
      else words.iterator.map(w => encodeWord(w, table).length.toLong).sum)
    docs.select(col("doc_id"), enc(toks(col("text"))).as("n_bpe_tokens"))
  }
}
