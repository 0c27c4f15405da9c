package graft.ops

import graft.util.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus distribution auditing — the drift/contamination dashboards
  * of a training-data pipeline: how far does each slice's unigram
  * distribution sit from the corpus (mixture re-balancing, crawl-
  * snapshot drift alarms, domain outlier detection)?
  *
  * `sliceKlDivergence` computes KL(P_s || Q) per slice s, with P_s
  * the slice's unigram distribution and Q the whole corpus's. Every
  * slice word also appears in the corpus, so q(w) > 0 wherever
  * p(w) > 0 and the sum needs NO smoothing — the value is exact
  * relational algebra (one ln per joined row, round(4) absorbing
  * libm ulps):
  *
  *   KL(P_s||Q) = sum_w (c_sw / n_s) * ln( (c_sw / n_s) / (c_w / n) )
  *
  * Scale shape: one hash agg by (slice, word) — the only corpus-
  * sized shuffle; the corpus distribution re-aggregates the MODEL
  * (O(slices x vocab) rows, never the corpus); totals ride a
  * broadcast one-row cross join; the final sum is slice-keyed.
  * KL >= 0 always (Gibbs); 0 iff the slice matches the corpus
  * exactly.
  */
object Distrib {

  def sliceKlDivergence(docs: DataFrame, sliceCol: String): DataFrame = {
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    // pinned: cw, ns and the join all read sw (the model is
    // O(slices x vocab), bounded)
    val sw = docs
      .select(col(sliceCol), explode(toks(col("text"))).as("word"))
      .groupBy(col(sliceCol), col("word")).agg(count(lit(1)).as("csw"))
      .transform(Pin.once)
    // corpus word counts: re-aggregate the slice model, not the corpus
    val cw = sw.groupBy(col("word")).agg(sum(col("csw")).as("cw"))
    val ns = sw.groupBy(col(sliceCol)).agg(sum(col("csw")).as("ns"))
    val n = cw.agg(greatest(coalesce(sum(col("cw")), lit(0L)), lit(1L))
      .cast("double").as("__n"))
    sw.join(cw, Seq("word"))
      .join(ns, Seq(sliceCol))
      .crossJoin(broadcast(n))
      .withColumn("__p", col("csw").cast("double") / col("ns").cast("double"))
      .withColumn("__q", col("cw").cast("double") / col("__n"))
      .groupBy(col(sliceCol))
      .agg(max(col("ns")).as("n_tokens"),
        round(sum(col("__p") * log(col("__p") / col("__q"))), 4).as("kl"))
  }

  /** Pairwise Jensen-Shannon divergence between every two slices'
    * unigram distributions — the symmetric, bounded ([0, ln 2])
    * companion to [[sliceKlDivergence]] for mixture design: which
    * sources are near-duplicates of each other distributionally, and
    * which contribute genuinely distinct text.
    *
    * JSD(P,Q) = (KL(P||M) + KL(Q||M)) / 2 with M = (P+Q)/2. Words in
    * only ONE slice contribute exactly (ln 2)/2 times their
    * probability mass (p ln(p/(p/2)) = p ln 2), so the sum splits
    * into an inner-join term over the SHARED vocabulary plus closed
    * forms of the unshared masses:
    *
    *   JSD = 0.5 * [ sum_shared p ln(2p/(p+q)) + q ln(2q/(p+q)) ]
    *       + 0.5 * (1 - sum_shared p) ln 2
    *       + 0.5 * (1 - sum_shared q) ln 2
    *
    * — no outer join over the vocabulary union needed. Disjoint
    * slices score exactly ln 2; identical ones exactly 0.
    *
    * Scale shape: the ONLY corpus-sized shuffle is the (slice, word)
    * hash agg (shared with sliceKlDivergence's model); the word-keyed
    * self-join and everything after are model-sized (vocab x slices),
    * and the per-word join fan-out is bounded by the slice count. The
    * slice-pair frame comes from the totals table joined to itself —
    * O(slices^2) rows — so pairs sharing NO words still appear (at
    * ln 2). Slice cardinality is assumed dashboard-scale (sources,
    * languages, shards — not doc_id).
    */
  def pairwiseJsd(docs: DataFrame, sliceCol: String): DataFrame = {
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    val ca = s"${sliceCol}_a"
    val cb = s"${sliceCol}_b"
    // pinned: ns and both join legs read sw (the model is
    // O(slices x vocab), bounded)
    val sw = docs
      .select(col(sliceCol), explode(toks(col("text"))).as("word"))
      .groupBy(col(sliceCol), col("word")).agg(count(lit(1)).as("c"))
      .transform(Pin.once)
    val ns = sw.groupBy(col(sliceCol)).agg(sum(col("c")).as("ns"))
    val prob = sw.join(ns, Seq(sliceCol))
      .select(col(sliceCol),
        col("word"),
        (col("c").cast("double") / col("ns").cast("double")).as("p"))
    val a = prob.select(col(sliceCol).as(ca), col("word"), col("p"))
    val b = prob.select(col(sliceCol).as(cb), col("word"), col("p").as("q"))
    val shared = a.join(b, Seq("word"))
      .filter(col(ca) < col(cb))
      .groupBy(col(ca), col(cb))
      .agg(
        sum(lit(0.5) * (col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))) +
          col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))).as("__st"),
        sum(col("p")).as("__sp"),
        sum(col("q")).as("__sq"),
        count(lit(1)).as("n_shared"))
    val pairs = ns.select(col(sliceCol).as(ca)).crossJoin(
        ns.select(col(sliceCol).as(cb)))
      .filter(col(ca) < col(cb))
    val ln2 = math.log(2.0)
    pairs.join(shared, Seq(ca, cb), "left")
      .select(col(ca), col(cb),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("__st"), lit(0.0)) +
          lit(0.5) * (lit(1.0) - coalesce(col("__sp"), lit(0.0))) * lit(ln2) +
          lit(0.5) * (lit(1.0) - coalesce(col("__sq"), lit(0.0))) * lit(ln2),
          4).as("jsd"))
  }

  /** Pairwise VOCABULARY Jaccard between slices — the set-overlap
    * companion to [[pairwiseJsd]]'s distributional distance: JSD says
    * "how differently do they use words", this says "how many words do
    * they even share". Exact (not MinHash): the distinct (slice, word)
    * inverted index self-joins on word, so per-word fan-out is bounded
    * by the slice count and the join is model-sized (vocab x slices),
    * never corpus-sized. Pairs sharing no words still appear (Jaccard
    * 0) via the totals-table pair frame. Integer set sizes divide once
    * at the end — round(6) only tames the final division's engine ulp.
    *
    * For slice cardinalities where slices^2 per word is no longer
    * dashboard-scale, estimate instead by merging per-slice
    * [[Sketches.KmvDistinct]] signatures (exact below k by the same
    * guarantee x26 oracles).
    */
  def vocabJaccard(docs: DataFrame, sliceCol: String): DataFrame = {
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    val ca = s"${sliceCol}_a"
    val cb = s"${sliceCol}_b"
    // pinned: the size table and both join legs read sv
    val sv = docs
      .select(col(sliceCol), explode(toks(col("text"))).as("word"))
      .distinct()
      .transform(Pin.once)
    val nv = sv.groupBy(col(sliceCol)).agg(count(lit(1)).as("nv"))
    val inter = sv.select(col(sliceCol).as(ca), col("word"))
      .join(sv.select(col(sliceCol).as(cb), col("word")), Seq("word"))
      .filter(col(ca) < col(cb))
      .groupBy(col(ca), col(cb)).agg(count(lit(1)).as("n_inter"))
    val pairs = nv.select(col(sliceCol).as(ca), col("nv").as("vocab_a"))
      .crossJoin(nv.select(col(sliceCol).as(cb), col("nv").as("vocab_b")))
      .filter(col(ca) < col(cb))
    pairs.join(inter, Seq(ca, cb), "left")
      .select(col(ca), col(cb), col("vocab_a"), col("vocab_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("vocab_a") + col("vocab_b") -
            coalesce(col("n_inter"), lit(0L))).cast("double"), 6).as("jaccard"))
  }

  /** Zipf slope + Heaps exponent — the two classic power-law health
    * checks of a text corpus (a natural-language corpus fits slope
    * near -1; boilerplate floods and template spam bend it): least-
    * squares slope of ln(freq) on ln(rank) over the top `topN` words
    * (stable rank: count desc, word asc), and the one-point Heaps
    * estimate beta = ln(vocab) / ln(tokens).
    *
    * Scale shape: ONE corpus-sized aggregation (word counts); the
    * topN head is an `orderBy.limit` (TakeOrdered — per-partition
    * top-N then a driver-side merge of topN rows, never a global
    * sort of the vocabulary), and the rank window runs over the
    * already-limited head only. round(4) absorbs cross-engine
    * summation-order ulps in the fit sums, same contract as
    * [[sliceKlDivergence]].
    */
  def zipfHeaps(docs: DataFrame, topN: Int = 1000): DataFrame = {
    require(topN >= 2, "topN >= 2")
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    import org.apache.spark.sql.expressions.Window
    // pinned: totals and the ranked head both read w
    val w = docs
      .select(explode(toks(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .transform(Pin.once)
    val tot = w.agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"))
    val fit = w
      .orderBy(col("c").desc, col("word")).limit(topN)
      .withColumn("r", row_number().over(
        Window.orderBy(col("c").desc, col("word"))))
      .select(log(col("r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
      .agg(count(lit(1)).cast("double").as("__k"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"))
    tot.crossJoin(fit)
      .select(col("vocab"), col("n_tokens"),
        round(
          when(col("__k") * col("__sxx") - col("__sx") * col("__sx") =!= 0.0,
            (col("__k") * col("__sxy") - col("__sx") * col("__sy")) /
              (col("__k") * col("__sxx") - col("__sx") * col("__sx")))
            .otherwise(lit(0.0)), 4).as("zipf_slope"),
        // n_tokens = 1 would divide by ln(1) = 0 — ANSI raises; a
        // one-token corpus has no Heaps exponent, report 0
        round(when(col("n_tokens") > 1L,
            log(col("vocab").cast("double")) /
              log(col("n_tokens").cast("double")))
          .otherwise(lit(0.0)), 4).as("heaps_beta"))
  }

  /** Vocabulary-completeness audit per slice — Good–Turing unseen
    * mass + bias-corrected Chao1 richness: from the word-frequency
    * spectrum alone, how much vocabulary has this slice NOT shown us
    * yet? p_unseen = N1/N (the Good–Turing estimate: the probability
    * the next token is a new type) and
    * Chao1 = V + N1·(N1−1)/(2·(N2+1)) (the lower-bound total-type
    * estimate). High unseen mass marks a slice the crawl has barely
    * sampled; V ≈ Chao1 marks a saturated one.
    *
    * Shape: ONE input-sized (slice, word) count agg; the spectrum
    * (N, V, N1, N2) re-aggregates the MODEL. Ratios divide integer
    * counts once, round(6)/round(4).
    */
  def goodTuring(docs: DataFrame, sliceCol: String): DataFrame = {
    def toks(c: Column) = graft.functions.GraftFunctions.tokenizeWords(c)
    docs
      .select(col(sliceCol).as("slice"), explode(toks(col("text"))).as("w"))
      .groupBy(col("slice"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("slice"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
      .select(col("slice"), col("n_tokens"), col("vocab"), col("n1"), col("n2"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("p_unseen"),
        round(col("vocab").cast("double") +
          (col("n1") * (col("n1") - 1L)).cast("double") /
            (lit(2.0) * (col("n2") + 1L).cast("double")), 4).as("chao1"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between every pair
    * of slices over an integer-valued metric — the distribution-drift
    * leg that compares SHAPES (the KL/JSD legs compare token content):
    * D = sup_v |F_a(v) − F_b(v)|, with the sup taken over the pooled
    * value grid (every jump point of either ECDF lives there, so the
    * grid max IS the sup — textbook exact, no binning).
    *
    * Scale shape (the q66 bounded-domain contract): the ONLY
    * input-sized aggregation is groupBy(slice, value).count; the ECDF
    * walk is a per-slice window over the (slice × distinct-values)
    * zero-filled grid — domain-sized, never row-sized — and the pair
    * join is grid × slices, model-sized for any dashboard-scale slice
    * count. D is computed INTEGER-exact as max |cum_a·n_b − cum_b·n_a|
    * over the grid, divided once at the end — no per-point float
    * ratios to drift across engines (the products need n_a·n_b within
    * LONG; beyond ~3·10^9 rows per slice switch the comparison to
    * DOUBLE — scaladoc'd, not silently).
    *
    * Output per unordered pair: n_a, n_b, ks_stat (round 6) and the
    * alpha=0.05 asymptotic critical value c(α)·sqrt((n_a+n_b)/(n_a·n_b)),
    * c(0.05)=sqrt(−ln(0.025)/2) — both pure arithmetic on the counts,
    * so the drift verdict `drifted` reproduces in any engine.
    */
  /** Day-over-day categorical drift as total variation distance —
    * the monitoring leg for a continuously-ingesting corpus: for every
    * consecutive-day pair, TVD = ½ Σ_t |p_d(t) − p_{d+1}(t)| over the
    * category distribution. Computed INTEGER-exact by the q86 trick:
    * Σ |c_a·n_b − c_b·n_a| over the zero-filled (day × category)
    * grid, divided once by 2·n_a·n_b, round(6) — no per-category
    * float ratios to drift across engines.
    *
    * Scale shape: one input-sized (day, category) count agg; the grid
    * is days × categories (both model-sized for any monitoring
    * horizon), the pair join is day→day+1 on the grid. Days with no
    * events simply break the chain (no pair emitted) — absence is a
    * monitoring fact, not a zero-filled fiction.
    */
  def temporalTvd(df: DataFrame, tsCol: String, catCol: String): DataFrame = {
    val counts = df
      .select(to_date(col(tsCol)).as("day"), col(catCol).as("cat"))
      .where(col("day").isNotNull)
      .groupBy(col("day"), col("cat")).agg(count(lit(1)).as("c"))
      .transform(Pin.once)
    val grid = counts.select(col("day")).distinct()
      .crossJoin(broadcast(counts.select(col("cat")).distinct()))
      .join(counts, Seq("day", "cat"), "left")
      .na.fill(0L, Seq("c"))
    val tot = counts.groupBy(col("day")).agg(sum(col("c")).as("n"))
    val g = grid.join(broadcast(tot), Seq("day"))
    val a = g.select(col("day").as("day_a"), col("cat"),
      col("c").as("ca"), col("n").as("na"))
    val b = g.select(col("day").as("day_b"), col("cat"),
      col("c").as("cb"), col("n").as("nb"))
    a.join(b, date_add(col("day_a"), 1) === col("day_b") &&
        a("cat") === b("cat"))
      .groupBy(col("day_a"), col("day_b"))
      .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
        sum(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("__m"))
      .select(col("day_a"), col("day_b"), col("n_a"), col("n_b"),
        round(col("__m").cast("double") /
          (lit(2.0) * (col("n_a") * col("n_b")).cast("double")), 6).as("tvd"))
  }

  /** Corpus balance index — is the mixture dominated by a few
    * sources? One model-sized summary row: Shannon entropy of the
    * slice distribution H = ln N − Σ c·ln c / N (integer counts in,
    * one transcendental per SLICE, round 6), normalized entropy
    * H / ln S, effective slice count e^H, and the Gini concentration
    * G = (2 Σ r·c_r)/(S·N) − (S+1)/S over slices ranked ascending by
    * (count, name) — integer numerator, deterministic tie order, one
    * division. Scale shape: one input-sized count agg; everything
    * after runs on S rows.
    */
  def balanceIndex(df: DataFrame, sliceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(sliceCol).as("s"))
      .agg(count(lit(1)).as("c"))
    val ranked = counts.withColumn("r",
      row_number().over(Window.orderBy(col("c"), col("s"))))
    ranked.agg(
        count(lit(1)).as("n_slices"),
        sum(col("c")).as("n_rows"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("__clc"),
        sum(col("r") * col("c")).as("__rc"))
      .select(col("n_slices"), col("n_rows"),
        round(log(col("n_rows").cast("double")) -
          col("__clc") / col("n_rows").cast("double"), 6).as("entropy"),
        round(when(col("n_slices") > 1L,
            (log(col("n_rows").cast("double")) -
              col("__clc") / col("n_rows").cast("double")) /
              log(col("n_slices").cast("double")))
          .otherwise(lit(0.0)), 6).as("norm_entropy"),
        round(exp(log(col("n_rows").cast("double")) -
          col("__clc") / col("n_rows").cast("double")), 4).as("effective_slices"),
        round(lit(2.0) * col("__rc").cast("double") /
            (col("n_slices") * col("n_rows")).cast("double") -
          (col("n_slices") + 1L).cast("double") /
            col("n_slices").cast("double"), 6).as("gini"))
  }

  def ksTwoSample(df: DataFrame, valueCol: String, sliceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(sliceCol).as("s"), col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("s"), col("v")).agg(count(lit(1)).as("c"))
      .transform(Pin.once)
    val grid = counts.select(col("v")).distinct()
      .crossJoin(broadcast(counts.select(col("s")).distinct()))
      .join(counts, Seq("s", "v"), "left")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy(col("s")).orderBy(col("v"))
    val ecdf = grid
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("s"))))
    val a = ecdf.select(col("s").as("slice_a"), col("v"),
      col("cum").as("ca"), col("n").as("na"))
    val b = ecdf.select(col("s").as("slice_b"), col("v"),
      col("cum").as("cb"), col("n").as("nb"))
    val cAlpha = math.sqrt(-math.log(0.025) / 2.0)
    a.join(b, Seq("v"))
      .where(col("slice_a") < col("slice_b"))
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
        max(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("__m"))
      .select(col("slice_a"), col("slice_b"), col("n_a"), col("n_b"),
        round(col("__m").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("ks_stat"),
        round(lit(cAlpha) * sqrt((col("n_a") + col("n_b")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")), 6).as("crit_05"))
      .withColumn("drifted",
        col("ks_stat") > col("crit_05"))
  }
}
