package graft.ops

import graft.util.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Collocation mining — pointwise mutual information over adjacent
  * token pairs, the classic corpus-linguistics probe (Church & Hanks
  * 1990) a data-curation team runs to audit what a crawl actually
  * contains: boilerplate phrases, templated spans, and domain jargon
  * all surface as high-PMI bigrams long before a model trains on
  * them.
  *
  *   PMI(w1,w2) = ln( (c2/Nb) / ((c1(w1)/Nu) * (c1(w2)/Nu)) )
  *
  * with c2 the bigram count over Nb total bigram positions and c1
  * the unigram counts over Nu total tokens. A `minCount` floor on c2
  * is mandatory for PMI (rare pairs otherwise dominate with noise
  * maxima — the well-known low-frequency bias), and doubles as the
  * scale guard: the surviving model is the heavy-bigram table, not
  * the corpus.
  *
  * Scale shape: one bigram hash agg and one unigram hash agg — two
  * corpus-sized map-side-combine shuffles over the same scan, no
  * window, no join before aggregation; the unigram join-back touches
  * only the >= minCount bigram model; top-k plans as
  * TakeOrderedAndProject (never a global sort). Output is ordered by
  * the ROUNDED pmi (then w1, w2) so the selection is reproducible
  * across engines regardless of sub-ulp libm differences.
  */
object Colloc {

  def pmiCollocations(docs: DataFrame, minCount: Int = 5, k: Int = 50,
                      textCol: String = "text"): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be >= 1")
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    def bigrams(c: Column) = {
      val t = toks(c)
      zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    // the UNFILTERED bigram model is pinned: Nb (total bigram
    // positions, pre-minCount) is sum(c2) over it, and the >= minCount
    // model filters from the same evaluation
    val bgAll = docs.select(explode(bigrams(col(textCol))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
      .transform(Pin.once)
    val nb = bgAll.agg(
      greatest(coalesce(sum(col("c2")), lit(0L)), lit(1L))
        .cast("double").as("__nbt"))
    val bg = bgAll.filter(col("c2") >= minCount)
    val uni = docs.select(explode(toks(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c1"))
      .transform(Pin.once) // totals + both join legs read it
    val totals = uni.agg(
      greatest(coalesce(sum(col("c1")), lit(0L)), lit(1L))
        .cast("double").as("__nu"))
    bg.join(uni.select(col("word").as("w1"), col("c1").as("__ca")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c1").as("__cb")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c2"),
        round(log((col("c2").cast("double") / col("__nbt")) /
          ((col("__ca").cast("double") / col("__nu")) *
           (col("__cb").cast("double") / col("__nu")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

}
