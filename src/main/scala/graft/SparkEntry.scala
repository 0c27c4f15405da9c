package graft

import graft.gen.Corpus
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.pipe.{ExtractJob, StructureJob}
import graft.util.Pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract (see the builder prompt + SURVEY.md §7).
  *
  * `queries` fall in two groups:
  *  - SQL-expressible operators with a DuckDB oracle in [[oracleSql]] —
  *    the driver's correctness gate runs both and compares;
  *  - kernel/pipeline operators (OCR extraction, structure, MinHash,
  *    SimHash, ANN) with no oracle entry — rows-only checks; their
  *    exactness is covered by the ScalaTest fixtures instead.
  *
  * Parity rules used throughout (Spark <-> DuckDB):
  *  - identical split regexes, avoiding lookbehind (RE2 lacks it);
  *    empties filtered on both sides;
  *  - aggregates over doubles rounded before compare;
  *  - every query deterministically ordered and every computed column
  *    aliased identically in both dialects.
  */
object SparkEntry {

  private def p(dir: String, t: String) = s"$dir/$t.parquet"

  /** Flagship: the full extraction pipeline (corpus synthesized
    * deterministically from the sf dir) on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = Corpus.documents(spark, dir).toDF()
    val media = Corpus.media(spark, dir).toDF()
    ExtractJob.run(spark, docs, media)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational core (oracle-backed) ----------------
    "q01_lineitem_agg" -> ((s, dir) => {
      s.read.parquet(p(dir, "lineitem"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_join_revenue_by_priority" -> ((s, dir) => {
      val li = s.read.parquet(p(dir, "lineitem"))
      val o = s.read.parquet(p(dir, "orders"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy(col("o_orderpriority"))
    }),

    "q03_window_topk_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      s.read.parquet(p(dir, "orders"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q04_events_hourly" -> ((s, dir) => {
      s.read.parquet(p(dir, "events"))
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("hour_epoch"), col("event_type"))
    }),

    "q05_semi_anti_join" -> ((s, dir) => {
      // customers with orders (semi) and without (anti), counted by segment
      val c = s.read.parquet(p(dir, "customer"))
      val o = s.read.parquet(p(dir, "orders"))
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("with_orders"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("without_orders"))
      withO.join(withoutO, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("without_orders"), lit(0L)).as("without_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    "q06_broadcast_star_join" -> ((s, dir) => {
      // supplier -> nation -> region star join, broadcast dims
      val sup = s.read.parquet(p(dir, "supplier"))
      val nat = s.read.parquet(p(dir, "nation"))
      val reg = s.read.parquet(p(dir, "region"))
      sup.join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"), round(sum(col("s_acctbal")), 2).as("total_bal"))
        .orderBy(col("r_name"))
    }),

    // ---------------- text analysis (oracle-backed) ----------------
    "q07_token_count" -> ((s, dir) => {
      // lambda-free form of size(filter(split(...), _ != "")): strip
      // leading/trailing separator runs first, then split — interior
      // empties cannot occur with a greedy `+` separator, so the only
      // residual case is the all-separator string (-> 0). Keeps the
      // whole projection in whole-stage codegen (`filter` is an
      // interpreted per-element HOF; round-4 verdict item 6).
      // \A/\z anchors (round-5 ADVICE): Java `$` also matches BEFORE a
      // final line terminator, and U+2028/U+2029/U+0085 are Java line
      // terminators but NOT `\s` — text ending "<space>U+2028" had its
      // separator space stripped by `\s+$`, merging the terminator
      // into the last token and diverging n_ws_tokens from the
      // filter(split()) twin and the RE2 oracle. `\z` matches only
      // the true end of input: exact equivalence on any corpus
      // (latent on this ASCII one — same output, hardened form).
      def cnt(sep: String) = {
        val stripped = regexp_replace(col("text"), s"\\A$sep|$sep\\z", "")
        when(stripped === "", 0).otherwise(size(split(stripped, sep)))
      }
      s.read.parquet(p(dir, "documents"))
        .select(col("doc_id"),
          cnt("\\W+").as("n_tokens"),
          cnt("\\s+").as("n_ws_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q08_word_freq" -> ((s, dir) => {
      s.read.parquet(p(dir, "documents"))
        .select(explode(graft.functions.GraftFunctions.tokenizeWords(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(100)
    }),

    "q09_exact_dedup" -> ((s, dir) => {
      Dedup.exact(s.read.parquet(p(dir, "documents")))
        .orderBy(col("h"))
    }),

    "q10_fingerprint" -> ((s, dir) => {
      s.read.parquet(p(dir, "documents"))
        .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "q11_quality_score" -> ((s, dir) => {
      TextAnalysis.qualityFeatures(s.read.parquet(p(dir, "documents")))
        .select(col("doc_id"), col("n_chars"), col("n_words"), col("mean_word_len"),
          col("punct_ratio"), col("digit_ratio"), col("quality_score"))
        .orderBy(col("doc_id"))
    }),

    "q12_langid" -> ((s, dir) => {
      val d = s.read.parquet(p(dir, "documents"))
      d.select(col("doc_id"),
        TextAnalysis.markerHits(col("text"), TextAnalysis.enMarkers).as("en_hits"),
        TextAnalysis.markerHits(col("text"), TextAnalysis.idMarkers).as("id_hits"),
        TextAnalysis.predictedLang(col("text")).as("predicted_lang"))
        .orderBy(col("doc_id"))
    }),

    "q13_clamp_nav" -> ((s, dir) => {
      // navigation clamp arithmetic (app.py:1500-1505) over real totals
      val d = s.read.parquet(p(dir, "documents"))
        .select(col("doc_id"),
          size(graft.functions.GraftFunctions.sentencesSql(col("text"))).as("total"))
        .filter(col("total") > 0)
      d.select(col("doc_id"), col("total"),
        least(pmod(col("doc_id"), col("total")) + 1, col("total") - 1).as("next_pos"),
        greatest(pmod(col("doc_id"), col("total")) - 1, lit(0)).as("prev_pos"),
        greatest(lit(0), least(pmod(col("doc_id"), lit(97)) - 5, col("total") - 1)).as("goto_pos"))
        .orderBy(col("doc_id"))
    }),

    "q14_scope_concat" -> ((s, dir) => {
      // T9 scope assembly shape: ordered per-group concat
      s.read.parquet(p(dir, "documents"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(sort_array(collect_list(col("doc_id"))).cast("array<string>"),
            ",").as("doc_ids"))
        .orderBy(col("lang"))
    }),

    "q15_stopword_ratio" -> ((s, dir) => {
      val markers = TextAnalysis.enMarkers ++ TextAnalysis.idMarkers
      val toks = graft.functions.GraftFunctions.tokenizeWords(col("text"))
      s.read.parquet(p(dir, "documents"))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.countInSet(toks, markers).as("marker_tokens"),
          size(toks).as("total_tokens"))
        .withColumn("marker_ratio",
          round(col("marker_tokens").cast("double") / greatest(col("total_tokens"), lit(1)), 4))
        .orderBy(col("doc_id"))
    }),

    "q16_embed_topk" -> ((s, dir) => {
      val emb = s.read.parquet(p(dir, "embeddings"))
      val q = emb.filter(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0), q, 10)
    }),

    "q17_summarize_sql" -> ((s, dir) => summarizeSqlSpark(s, dir)),

    "q18_set_ops" -> ((s, dir) => {
      // union / intersect / except over customer-key sets derived from
      // two order subsets (set-op coverage, SURVEY.md §2.8)
      val o = s.read.parquet(p(dir, "orders"))
      val hi = o.filter(col("o_totalprice") > 200000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val u = hi.union(urgent).distinct().withColumn("op", lit("union"))
      val i = hi.intersect(urgent).withColumn("op", lit("intersect"))
      val e = hi.except(urgent).withColumn("op", lit("except"))
      u.unionByName(i).unionByName(e)
        .groupBy(col("op")).agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("key_sum"))
        .orderBy(col("op"))
    }),

    "q19_rollup" -> ((s, dir) => {
      s.read.parquet(p(dir, "lineitem"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("cnt"), col("qty"))
        .orderBy(col("flag"), col("status"))
    }),

    "q20_date_parts" -> ((s, dir) => {
      s.read.parquet(p(dir, "orders"))
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy(col("y"), col("m"))
    }),

    "q21_percentiles" -> ((s, dir) => {
      // exact interpolated percentiles (SURVEY §2.8 ranking/percentile)
      s.read.parquet(p(dir, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_quantity"), lit(0.5)), 4).as("p50_qty"),
          round(percentile(col("l_quantity"), lit(0.9)), 4).as("p90_qty"),
          round(percentile(col("l_extendedprice"), lit(0.25)), 4).as("p25_price"))
        .orderBy(col("l_returnflag"))
    }),

    "q22_pivot" -> ((s, dir) => {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      s.read.parquet(p(dir, "orders"))
        .groupBy(year(col("o_orderdate")).as("y"))
        .pivot("o_orderpriority", prios)
        .agg(round(sum(col("o_totalprice")), 2))
        .orderBy(col("y"))
    }),

    "q23_stats_agg" -> ((s, dir) => {
      s.read.parquet(p(dir, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("covar_qty_disc"))
        .orderBy(col("l_returnflag"))
    }),

    "q25_cube_grouping" -> ((s, dir) => {
      // CUBE + grouping_id (SURVEY §2.8 — the full grouping-sets
      // lattice beside q19's rollup)
      s.read.parquet(p(dir, "orders"))
        .filter(col("o_custkey") <= 100)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))
    }),

    "q26_conditional_agg" -> ((s, dir) => {
      // conditional / boolean aggregates: count_if, sum(CASE), any/every
      s.read.parquet(p(dir, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(
          count_if(col("l_discount") > 0.05).as("n_discounted"),
          round(sum(when(col("l_tax") > 0.04, col("l_extendedprice")).otherwise(0.0)), 2)
            .as("taxed_value"),
          bool_or(col("l_quantity") > 49).as("any_bulk"),
          bool_and(col("l_quantity") > 0).as("all_positive"))
        .orderBy(col("l_returnflag"))
    }),

    "q27_string_funcs" -> ((s, dir) => {
      // string/regex scalar battery: regexp_extract, substring, position,
      // lpad, concat_ws (RE2-safe pattern for the DuckDB twin)
      s.read.parquet(p(dir, "customer"))
        .filter(col("c_custkey") <= 300)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)$", 1).as("name_num"),
          substring(col("c_mktsegment"), 1, 3).as("seg3"),
          instr(col("c_name"), "00").as("zz_pos"),
          lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"))
        .orderBy(col("c_custkey"))
    }),

    "q28_window_ranks" -> ((s, dir) => {
      // rank-family windows: ntile, percent_rank, cume_dist, first/nth value
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"), col("o_orderkey"))
      s.read.parquet(p(dir, "orders"))
        .filter(col("o_custkey") <= 120)
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 4).as("pr"),
          round(cume_dist().over(w), 4).as("cd"),
          round(first_value(col("o_totalprice")).over(w), 2).as("cheapest"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),

    "q29_html_strip" -> ((s, dir) => {
      // HTML boilerplate strip (north_rule surface): each document's
      // text wrapped in a deterministic page (script/style/comments,
      // nav chrome, entities), stripped back to visible text by
      // ops.Html.stripHtml. Identical page construction in the DuckDB
      // oracle — the strip chain itself is what's being verified.
      s.read.parquet(p(dir, "documents"))
        .select(col("doc_id"),
          graft.ops.Html.stripHtml(synthPage(col("text"))).as("visible_text"))
        .withColumn("n_chars", length(col("visible_text")))
        .orderBy(col("doc_id"))
    }),

    "q30_html_main_content" -> ((s, dir) => {
      // DOM-heuristic main-content selection (north_rule surface):
      // block split on closing block tags, keep blocks with >= 5 words
      // and <= 1 link per 5 words, reassemble in document order. The
      // nav and footer chrome of the synthetic page must drop; the two
      // body paragraphs must survive.
      graft.ops.Html.mainContent(
        s.read.parquet(p(dir, "documents")).select(col("doc_id"),
          synthPage(col("text")).as("html")),
        col("html"), col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "q31_tfidf" -> ((s, dir) => {
      // smoothed TF-IDF top-3 terms per document (term weighting for
      // curation: two hash aggs + a broadcast count + a rank window)
      TextAnalysis.tfidfTop(s.read.parquet(p(dir, "documents")), k = 3)
        .orderBy(col("doc_id"), col("rn"))
    }),

    "q32_gopher_quality" -> ((s, dir) =>
      // Gopher-rule quality gate (Rae et al. A1.1, occurrence-fraction
      // repetition variant): relational lead-window n-grams, doc-keyed
      // shuffles only
      TextAnalysis.gopherQuality(s.read.parquet(p(dir, "documents")))
        .orderBy(col("doc_id"))),

    "q33_pii_scrub" -> ((s, dir) => {
      // PII count + redaction over a deterministic injected contact
      // block (both engines build the identical text, then scrub with
      // the same RE2-compatible patterns)
      val docs = s.read.parquet(p(dir, "documents"))
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +62-555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" via https://ex.org/d/"), col("doc_id").cast("string"),
          lit(" now")).as("text"))
      TextAnalysis.piiScrub(docs).orderBy(col("doc_id"))
    }),

    "q34_curation_verdict" -> ((s, dir) =>
      // the composed keep/drop decision: exact-dup keeper x composite
      // quality x language x Gopher gate, per-rule flags queryable
      graft.ops.Curation.verdict(s.read.parquet(p(dir, "documents")))
        .orderBy(col("doc_id"))),

    "q35_sessionize" -> ((s, dir) =>
      // batch sessionization (the reference's 30-min SESSION_TIMEOUT,
      // app.py:238, as a gap-and-island assignment; relational twin of
      // the streaming sessionize operator)
      graft.ops.Sessions.sessionize(s.read.parquet(p(dir, "events")),
          tieBreak = Seq(col("event_id")))
        .orderBy(col("user_id"), col("session_idx"))),

    "q36_asof_join" -> ((s, dir) => {
      // as-of join (union-window form — one key shuffle, no inequality
      // join): each purchase matched to the user's most recent prior
      // click; DuckDB's native ASOF LEFT JOIN is the oracle
      val ev = s.read.parquet(p(dir, "events"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_event_id"))
      graft.ops.Joins.asofJoin(purchases, clicks, "user_id", "ts", "ts",
          Seq("click_event_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("purchase_us"),
          col("asof_time_us").as("click_us"),
          col("asof_click_event_id").as("click_event_id"))
        .withColumn("gap_us", col("purchase_us") - col("click_us"))
        .orderBy(col("event_id"))
    }),

    "q41_token_packing" -> ((s, dir) =>
      // fixed-token-budget sharding (sequence packing) via the
      // scalable prefix-sum form; the oracle is the naive global
      // running-sum window the implementation must equal exactly
      graft.ops.Packing.packByBudget(s.read.parquet(p(dir, "documents")),
          budgetTokens = 500L, graft.ops.Packing.wordTokens(col("text")))
        .orderBy(col("doc_id"))),

    "q42_stratified_sample" -> ((s, dir) =>
      // exact per-language quota sampling by deterministic md5 rank
      // (two-phase skew-safe top-k); the oracle is the plain
      // per-stratum row_number window
      graft.ops.Sampling.stratifiedSample(
          s.read.parquet(p(dir, "documents")), "lang", k = 25)
        .orderBy(col("lang"), col("rn"))),

    "q47_neardup_components" -> ((s, dir) => {
      // transitive near-dup clustering: connected components over the
      // x04 MinHash pair graph (min-label propagation); singleton
      // docs keep their own id. The oracle recomputes components from
      // Verify's x04 dump with a recursive CTE.
      val docs = s.read.parquet(p(dir, "documents"))
      val pairs = graft.ops.Dedup.minhashLsh(docs, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
      graft.ops.Dedup.connectedComponents(pairs, docs.select(col("doc_id")))
        .orderBy(col("doc_id"))
    }),

    "q93_cluster_keeper" -> ((s, dir) => {
      // the production dedup survivor rule: per q47 near-dup
      // component keep the doc maximizing (token count, lowest id on
      // ties) — CCNet's keep-the-longest, quality-pluggable
      val docs = s.read.parquet(p(dir, "documents"))
      val pairs = graft.ops.Dedup.minhashLsh(docs, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
      val comps = graft.ops.Dedup.connectedComponents(
        pairs, docs.select(col("doc_id")))
      val t = graft.functions.GraftFunctions.tokenizeWords(col("text"))
      graft.ops.Dedup.keepBestPerCluster(comps,
          docs.select(col("doc_id"), size(t).cast("long").as("score")))
        .orderBy(col("doc_id"))
    }),

    "q46_lm_cross_entropy" -> ((s, dir) => {
      // CCNet's LM-quality leg: unigram cross-entropy under a
      // Laplace-smoothed model trained on a deterministic reference
      // slice (doc_id % 3 == 0)
      val docs = s.read.parquet(p(dir, "documents"))
      graft.ops.LmScore.unigramCrossEntropy(docs,
          docs.filter(pmod(col("doc_id"), lit(3)) === 0))
        .orderBy(col("doc_id"))
    }),

    "q44_decontaminate" -> ((s, dir) => {
      // benchmark-overlap decontamination: the eval set is a
      // deterministic corpus slice (doc_id % 97 == 0), so every slice
      // doc must self-flag and overlap-by-8-gram is exactly checkable
      val docs = s.read.parquet(p(dir, "documents"))
      graft.ops.Dedup.decontaminate(docs,
          docs.filter(pmod(col("doc_id"), lit(97)) === 0), n = 8)
        .orderBy(col("doc_id"))
    }),

    "q45_paragraph_dedup" -> ((s, dir) => {
      // CCNet-style cross-corpus paragraph dedup over 10-token
      // "paragraphs" (the x13 chunking), with planted duplicate docs
      // (doc_id % 50 copies at id+10000) whose paragraphs must all
      // lose to their originals
      val docs = s.read.parquet(p(dir, "documents")).select(col("doc_id"), col("text"))
      val planted = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      val paras = chunks10(docs.unionByName(planted))
        .withColumnRenamed("chunk", "para")
      graft.ops.Dedup.paragraphDedup(paras)
        .orderBy(col("doc_id"), col("idx"))
    }),

    "q43_curation_pipeline" -> ((s, dir) => {
      // the END-TO-END training-data pipeline, composed and checked as
      // ONE query: curation verdict (exact-dup keeper x quality x
      // language x Gopher x MinHash near-dup losers) -> exact
      // per-language quota sample (deterministic md5 rank) ->
      // token-budget packing of the survivors. Every stage is
      // individually oracled (q34/x25, q42, q41); this oracles the
      // COMPOSITION — the query a real curation run actually ships.
      val docs = s.read.parquet(p(dir, "documents"))
      val kept = graft.ops.Curation.verdictFull(docs, nearDupThreshold = 0.2)
        .filter(col("keep"))
        .select(col("doc_id"), col("predicted_lang"))
      // pin the sample: it feeds BOTH packByBudget and the final join,
      // and its lineage contains the MinHash-LSH self-join — without
      // the pin the whole near-dup pass runs twice
      val samp = graft.ops.Sampling.stratifiedSample(kept, "predicted_lang", k = 20)
        .transform(Pin.once)
      val packed = graft.ops.Packing.packByBudget(
        samp.join(docs.select(col("doc_id"), col("text")), Seq("doc_id")),
        budgetTokens = 400L, graft.ops.Packing.wordTokens(col("text")))
      samp.join(packed, Seq("doc_id"))
        .select(col("doc_id"), col("predicted_lang"), col("rn"),
          col("n_tokens"), col("shard"))
        .orderBy(col("doc_id"))
    }),

    "q48_substring_dedup" -> ((s, dir) =>
      // corpus-wide exact-substring dedup (Lee et al. windowed form):
      // every duplicated 8-token window is removed from all but its
      // global first occurrence; kept_text re-joins the survivors
      graft.ops.ExactSubstr.dedupSubstrings(
          s.read.parquet(p(dir, "documents")), k = 8)
        .orderBy(col("doc_id"))),

    "q49_bloom_semi_join" -> ((s, dir) => {
      // bloom-prefiltered exact semi-join (lineitem against high-value
      // orders): the bloom only cuts shuffle volume — the result must
      // equal the plain IN-subquery, which IS the oracle
      val li = s.read.parquet(p(dir, "lineitem"))
      val hi = s.read.parquet(p(dir, "orders"))
        .filter(col("o_totalprice") > 150000.0)
      graft.ops.Joins.bloomSemiJoin(li, hi, "l_orderkey", "o_orderkey",
          expectedKeys = 100000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    "q50_url_canonicalize" -> ((s, dir) => {
      // URL canonicalization + host/registered-domain extraction over
      // raw URLs synthesized deterministically from the documents
      // table (same derivation in the oracle): mixed-case scheme/host,
      // www., default port, tracking params, fragment — all of which
      // the canonical form must strip while preserving path/query case
      val docs = s.read.parquet(p(dir, "documents"))
      val raw = concat(
        lit("HTTPS://"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit(".Example."),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("co.uk")).otherwise(lit("com")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(":443")).otherwise(lit("")),
        lit("/Pg/"), col("doc_id"),
        lit("?id="), col("doc_id"),
        lit("&utm_source=feed&utm_campaign=x"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("&gclid=abc")).otherwise(lit("")),
        lit("&lang="), col("lang"), lit("#frag"))
      val canon = graft.ops.Web.canonicalizeUrl(raw)
      val host = graft.ops.Web.hostOf(canon)
      docs.select(col("doc_id"), canon.as("canon_url"), host.as("host"),
          graft.ops.Web.registeredDomainOf(host).as("domain"))
        .orderBy(col("doc_id"))
    }),

    "q51_det_shuffle" -> ((s, dir) =>
      // deterministic global training-order shuffle + round-robin
      // sharding via the parallel-prefix rank; the oracle is the naive
      // global row_number window the prefix form must equal exactly
      graft.ops.Shuffling.deterministicShuffle(
          s.read.parquet(p(dir, "documents")), shards = 8)
        .orderBy(col("doc_id"))),

    "q52_line_dedup" -> ((s, dir) => {
      // intra-doc repeated-line removal over the 10-token "lines",
      // with planted repeats: doc_id%4==0 docs get their first line
      // appended again — every plant must drop, nothing else changes
      val lines = chunks10(s.read.parquet(p(dir, "documents")))
        .withColumnRenamed("chunk", "line")
      val maxIdx = lines.groupBy(col("doc_id")).agg(max(col("idx")).as("__mx"))
      val planted = lines
        .filter(col("idx") === 0 && pmod(col("doc_id"), lit(4)) === 0)
        .join(maxIdx, Seq("doc_id"))
        .select(col("doc_id"), (col("__mx") + 1).as("idx"), col("line"))
      graft.ops.Dedup.dedupLinesWithin(lines.unionByName(planted))
        .orderBy(col("doc_id"), col("idx"))
    }),

    "q53_clean_text" -> ((s, dir) => {
      // canonical text cleanup (NFC + control strip + whitespace
      // discipline) over deterministically dirtied text: decomposed
      // accents, BEL, CRLF + blank-line runs, ragged spaces. The
      // oracle runs the identical RE2 chain on DuckDB's nfc_normalize
      // (JDK/utf8proc NFC parity verified on reorder + exclusion cases).
      val docs = s.read.parquet(p(dir, "documents"))
      val messy = concat(
        // decomposed accent + BEL via explicit escapes: byte-identical
        // to the oracle's 'Cafe' || chr(769) || '  ' || chr(7) derivation
        // (n_before counts RAW code points; the dirt must match exactly)
        lit("Cafe\u0301  \u0007"),
        col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(" A\u030A")).otherwise(lit("")),
        lit("\r\n\n\n end "))
      docs.select(col("doc_id"),
          length(messy).as("n_before"),
          graft.ops.TextAnalysis.cleanText(messy).as("cleaned"))
        .withColumn("n_after", length(col("cleaned")))
        .orderBy(col("doc_id"))
    }),

    "q54_bigram_lm" -> ((s, dir) => {
      // bigram refinement of q46: Laplace-smoothed conditional
      // cross-entropy p(w2|w1) under a model trained on the
      // doc_id % 3 == 0 reference slice; bigrams form map-side
      // (zip_with against the token tail), docs with < 2 tokens drop
      val docs = s.read.parquet(p(dir, "documents"))
      graft.ops.LmScore.bigramCrossEntropy(docs,
          docs.filter(pmod(col("doc_id"), lit(3)) === 0))
        .orderBy(col("doc_id"))
    }),

    "q55_domain_cap" -> ((s, dir) => {
      // RefinedWeb's host-level quota: canonical registered domain
      // from raw crawl URLs (the q50 chain: lowercase, www-strip,
      // PSL-lite), then an exact per-domain cap of 5 via the
      // two-phase skew-safe deterministic sample
      val docs = s.read.parquet(p(dir, "documents"))
      val raw = concat(lit("https://WWW."), col("source"),
        pmod(col("doc_id"), lit(3)), lit(".COM/p/"), col("doc_id"))
      val host = graft.ops.Web.hostOf(graft.ops.Web.canonicalizeUrl(raw))
      val keyed = docs.select(col("doc_id"),
        graft.ops.Web.registeredDomainOf(host).as("domain"))
      graft.ops.Sampling.stratifiedSample(keyed, "domain", k = 5)
        .orderBy(col("domain"), col("rn"))
    }),

    "q56_mixture_sample" -> ((s, dir) => {
      // DoReMi-style mixture reweighting: per-language keep rate
      // (ascii(lang)%5+1)/10 of the docs — EXACTLY ceil(rate*n) by
      // deterministic rank, via the contiguous-range rank form (no
      // per-stratum window, whale-stratum safe)
      val docs = s.read.parquet(p(dir, "documents"))
      graft.ops.Sampling.proportionalSample(docs, "lang",
          (pmod(ascii(col("lang")), lit(5)) + 1).cast("double") / 10.0)
        .orderBy(col("lang"), col("rn"))
    }),

    "q61_winnow_fingerprints" -> ((s, dir) =>
      // MOSS-style winnowing sketch: min md5 per 4-window of 5-gram
      // hashes, distinct per doc; any shared 8-token run guarantees
      // a shared fingerprint
      graft.ops.Dedup.winnowFingerprints(
          s.read.parquet(p(dir, "documents")), k = 5, w = 4)
        .orderBy(col("doc_id"), col("fp"))),

    "q58_nb_classifier" -> ((s, dir) => {
      // fastText-classifier leg in its counts-only NB form: train on
      // the doc_id % 3 == 0 slice labeled by length (n_chars >= 300),
      // score EVERY doc with Laplace-smoothed log-odds
      val docs = s.read.parquet(p(dir, "documents"))
      val train = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .withColumn("label", col("n_chars") >= 300)
      graft.ops.Classifier.naiveBayesScore(docs, train, "label")
        .orderBy(col("doc_id"))
    }),

    "q59_slice_kl" -> ((s, dir) =>
      // per-source distribution drift: KL(P_source || Q_corpus) over
      // unigrams — exact, no smoothing needed (slice support is a
      // subset of corpus support)
      graft.ops.Distrib.sliceKlDivergence(
          s.read.parquet(p(dir, "documents")), "source")
        .orderBy(col("source"))),

    "q60_bm25" -> ((s, dir) =>
      // lexical retrieval probe: Okapi BM25 top-25 for a fixed
      // 3-term query; map-side term filter, O(probe) scalars,
      // TakeOrdered top-k
      graft.ops.Retrieval.bm25TopK(
          s.read.parquet(p(dir, "documents")),
          Seq("spark", "join", "window"), k = 25)
        .orderBy(col("score").desc, col("doc_id"))),

    "q62_pairwise_jsd" -> ((s, dir) =>
      // mixture-design audit: Jensen-Shannon divergence between every
      // two sources' unigram distributions — shared-vocab inner join
      // + closed-form unshared mass, pairs frame from totals x totals
      graft.ops.Distrib.pairwiseJsd(
          s.read.parquet(p(dir, "documents")), "source")
        .orderBy(col("source_a"), col("source_b"))),

    "q63_pmi_colloc" -> ((s, dir) =>
      // collocation probe: top-50 adjacent bigrams by PMI with a
      // count>=5 floor; two map-side-combine aggs, model-sized joins,
      // TakeOrdered on the ROUNDED pmi
      graft.ops.Colloc.pmiCollocations(
          s.read.parquet(p(dir, "documents")), minCount = 5, k = 50)),

    "q65_token_budget_plan" -> ((s, dir) => {
      // mixture realization: binary-exact design weights (sum 1.0 in
      // IEEE) over the 20 sources + one corpus-absent audit row;
      // 1M-token budget -> per-source target/rate/epochs
      val w = (0 to 11).map(i => s"src$i" -> 0.0625) ++
        (12 to 19).map(i => s"src$i" -> 0.03125) :+ ("srcx" -> 0.0)
      graft.ops.Mixture.tokenBudgetPlan(
          s.read.parquet(p(dir, "documents")), w, budget = 1000000L)
        .orderBy(col("source"))
    }),

    "q66_exact_quantiles" -> ((s, dir) => {
      // exact per-source token-count percentiles as a value-domain
      // histogram + integer ceil-rank pick — the 10^12-row shape for
      // quantiles of a bounded-domain metric (no global sort; the
      // cumulative walk runs over distinct values, not rows)
      val d = s.read.parquet(p(dir, "documents"))
        .select(col("source"),
          size(graft.functions.GraftFunctions.tokenizeWords(col("text")))
            .cast("long").as("n_tokens"))
      graft.ops.Quantiles.exactIntQuantiles(d, "n_tokens",
          Seq(100, 250, 500, 750, 900, 990), keys = Seq("source"))
        .orderBy(col("source"), col("permille"))
    }),

    "q64_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights toward the lang='en' slice: hashed-
      // bigram models (B=65536 buckets — fixed-size, broadcast by
      // construction), smoothed log-ratio, doc-keyed sum
      val docs = s.read.parquet(p(dir, "documents"))
      graft.ops.Dsir.importanceWeights(
          docs, docs.filter(col("lang") === "en"), buckets = 65536)
        .orderBy(col("doc_id"))
    }),

    "q67_vocab_jaccard" -> ((s, dir) =>
      // mixture-design audit, set-overlap leg: exact pairwise
      // vocabulary Jaccard between sources — distinct (slice, word)
      // inverted index self-joined on word (fan-out bounded by slice
      // count), totals-frame pairs so no-overlap pairs still appear
      graft.ops.Distrib.vocabJaccard(
          s.read.parquet(p(dir, "documents")), "source")
        .orderBy(col("source_a"), col("source_b"))),

    "q68_zipf_heaps" -> ((s, dir) =>
      // corpus power-law health: Zipf ln-ln slope over the top-1000
      // words (TakeOrdered head, never a vocab-wide sort) + one-point
      // Heaps exponent ln(vocab)/ln(tokens)
      graft.ops.Distrib.zipfHeaps(
          s.read.parquet(p(dir, "documents")), topN = 1000)),

    "q69_priority_sample" -> ((s, dir) =>
      // weighted sampling without replacement (A-ES): top-200 by
      // ln(u)/w with u a deterministic md5 uniform and w = n_chars —
      // map-side score + TakeOrdered, no corpus window
      graft.ops.Sampling.prioritySample(
          s.read.parquet(p(dir, "documents")),
          col("n_chars"), k = 200)
        .orderBy(col("rn"))),

    "q70_mad_outliers" -> ((s, dir) =>
      // robust per-source outlier audit: percentile_disc median + MAD
      // of n_chars, strict |x-med| > 3*MAD count — integer-exact
      // throughout (outlier_ppm by integer DIV)
      graft.ops.Quantiles.madOutliers(
          s.read.parquet(p(dir, "documents")), "n_chars", "source")
        .orderBy(col("source"))),

    "q73_pagerank" -> ((s, dir) => {
      // link-graph authority over a deterministic synthetic web: docs
      // with doc_id % 7 == 0 emit no links (dangling hubs), the rest
      // link to (id+17) % N and (3*id+5) % N; 3 power iterations,
      // per-round round(10) — the fixed-iteration production form
      val docs = s.read.parquet(p(dir, "documents")).select(col("doc_id"))
      val n = docs.count()
      val linkers = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val edges = linkers
        .select(col("doc_id").as("src"),
          pmod(col("doc_id") + 17L, lit(n)).as("dst"))
        .unionByName(linkers.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 3L + 5L, lit(n)).as("dst")))
      graft.ops.Graph.pageRank(edges, iters = 3)
        .orderBy(col("node"))
    }),

    "q71_doremi_weights" -> ((s, dir) => {
      // DoReMi exponentiated-gradient mixture step: slices the
      // reference LM finds surprising get upweighted; reference =
      // the q46 slice (doc_id % 3 == 0), eta = 2
      val docs = s.read.parquet(p(dir, "documents"))
      graft.ops.Mixture.doremiWeights(docs,
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), eta = 2.0)
        .orderBy(col("source"))
    }),

    "q72_calibration_curve" -> ((s, dir) => {
      // reliability diagram of the q58 NB quality classifier: exact
      // decile bands of log_odds vs observed positive rate
      val docs = s.read.parquet(p(dir, "documents"))
      val train = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .withColumn("label", col("n_chars") >= 300)
      val scored = graft.ops.Classifier.naiveBayesScore(docs, train, "label")
        .join(docs.select(col("doc_id"), (col("n_chars") >= 300).as("y")),
          Seq("doc_id"))
      graft.ops.Classifier.calibrationCurve(scored, "y", bands = 10)
        .orderBy(col("band"))
    }),

    "q74_c4_line_filter" -> ((s, dir) => {
      // C4 line-level page cleaning over deterministically dirtied
      // "lines" (the 10-token chunks): idx%5==2 lines get a curly-brace
      // suffix (brace kill), else idx%3==0 a '.', else idx%7==1 a '?'
      // (kept if >=5 words), else no terminal punct (kill); doc_id%11==0
      // docs get a planted javascript line (line kill), doc_id%13==5 a
      // lorem-ipsum line that PASSES line rules but kills the page
      val lines = chunks10(s.read.parquet(p(dir, "documents")))
        .select(col("doc_id"), col("idx"),
          when(pmod(col("idx"), lit(5)) === 2, concat(col("chunk"), lit(" {x}.")))
            .when(pmod(col("idx"), lit(3)) === 0, concat(col("chunk"), lit(".")))
            .when(pmod(col("idx"), lit(7)) === 1, concat(col("chunk"), lit("?")))
            .otherwise(col("chunk")).as("line"))
      val mx = lines.groupBy(col("doc_id")).agg(max(col("idx")).as("__mx"))
      val js = mx.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select(col("doc_id"), (col("__mx") + 1).as("idx"),
          lit("please enable javascript to view the dynamic content today.").as("line"))
      val lorem = mx.filter(pmod(col("doc_id"), lit(13)) === 5)
        .select(col("doc_id"), (col("__mx") + 2).as("idx"),
          lit("lorem ipsum dolor sit amet consectetur adipiscing elit tempor incididunt.").as("line"))
      graft.ops.LineRules.c4LineFilter(lines.unionByName(js).unionByName(lorem))
        .orderBy(col("doc_id"))
    }),

    "q75_blocklist_tag" -> ((s, dir) =>
      // Aho-Corasick blocklist tagging; nested phrases ("scan" inside
      // "table scan") must BOTH report, "foo bar" never occurs
      graft.ops.Blocklist.tagMatches(
          s.read.parquet(p(dir, "documents")), BlocklistPhrases)
        .orderBy(col("doc_id"))),

    "q76_hash_split" -> ((s, dir) =>
      // deterministic 80/10/10 train/valid/test assignment — pure
      // function of (doc_id, salt), map-side, engine-portable md5
      graft.ops.Splits.hashSplit(s.read.parquet(p(dir, "documents")),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))),

    "q77_split_leakage" -> ((s, dir) => {
      // the contamination bookend: every x04 near-dup pair annotated
      // with both sides' q76 splits; leak = the pair straddles splits.
      // Oracle reads the x04 dump (the x25/q43 __VERIFY_OUT__ pattern)
      // and recomputes the same md5 ladder.
      val docs = s.read.parquet(p(dir, "documents"))
      val assign = graft.ops.Splits.hashSplit(docs,
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      val pairs = Dedup.minhashLsh(docs, threshold = 0.2)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      graft.ops.Splits.splitLeakage(pairs, assign)
        .orderBy(col("a"), col("b"))
    }),

    "q78_snapshot_diff" -> ((s, dir) => {
      // incremental-refresh diff against a deterministic "previous
      // snapshot": doc_id%17==3 absent from prev (added), %19==4 had
      // old text (changed), prev-only ids doc_id+100000 for %23==1
      // (removed), everything else unchanged
      val docs = s.read.parquet(p(dir, "documents"))
        .select(col("doc_id"), col("text"))
      val prevBase = docs.filter(pmod(col("doc_id"), lit(17)) =!= 3)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(19)) === 4, concat(col("text"), lit(" OLD")))
            .otherwise(col("text")).as("text"))
      val prevExtra = docs.filter(pmod(col("doc_id"), lit(23)) === 1)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      graft.ops.Snapshot.diff(docs, prevBase.unionByName(prevExtra))
        .orderBy(col("doc_id"))
    }),

    "q79_char_entropy" -> ((s, dir) => {
      // character-entropy spam filter; doc_id%29==7 docs are replaced
      // by a 6-char-alphabet template run -> entropy ln 6 ~ 1.79 nats, the
      // ONLY docs below the 2.0-nat threshold
      val docs = s.read.parquet(p(dir, "documents"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(29)) === 7, repeat(lit("spark "), 40))
            .otherwise(col("text")).as("text"))
      graft.ops.TextAnalysis.charEntropy(docs)
        .orderBy(col("doc_id"))
    }),

    "q80_temperature_mixture" -> ((s, dir) =>
      // alpha-temperature mixture smoothing (the XLM-R p^alpha rule)
      // at alpha = 0.5: one token agg, slice-sized normalization;
      // share is round(6)-pinned before pow so both engines
      // exponentiate an agreed value
      graft.ops.Mixture.temperatureWeights(
          s.read.parquet(p(dir, "documents")), alpha = 0.5)
        .orderBy(col("source"))),

    "q81_lsh_recall_audit" -> ((s, dir) => {
      // banded-LSH expected-recall audit: the MMDS S-curve
      // P(detect) = 1-(1-j^r)^b evaluated at each VERIFIED pair's
      // exact n-gram Jaccard (x08's deterministic pair set), under
      // the banding config x04 actually ships (k=32, bands=8 ->
      // r=4). Answers "what would the shipped banding miss among
      // known near-dups?" BEFORE re-running a 10^12-doc dedup with
      // new parameters — the parameter-space companion to the
      // lshOversizedBuckets runtime audit. jaccard is round(4)-pinned
      // and p_detect round(6)-pinned, so the DuckDB oracle (which
      // reads Verify's own x08 dump) exponentiates engine-agreed
      // values (the q80 pinned-pow contract).
      val docs = s.read.parquet(p(dir, "documents"))
      val ids = docs.select(col("doc_id"))
      val pairs = ids
        .filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 250).as("id_b"))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      graft.ops.Dedup.ngramJaccard(docs, pairs)
        .withColumn("p_detect",
          graft.ops.Dedup.lshDetectionProb(col("jaccard"), bands = 8, rowsPerBand = 4))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q82_filter_agreement" -> ((s, dir) => {
      // filter-swap audit: confusion counts + precision/recall/F1 +
      // Cohen's kappa between the heuristic quality gate (q11's
      // quality_score >= 0.5) and the char-entropy spam filter (q79's
      // NOT low_entropy, same planted-spam corpus) — the measurement
      // a curation run makes BEFORE replacing one filter with a
      // cheaper one at 10^12 docs. One corpus scan per filter leg,
      // five BIGINT counters cross the final shuffle; the DuckDB
      // oracle composes Verify's own (hash-verified) q11/q79 dumps
      // with the same pinned arithmetic.
      val docs = s.read.parquet(p(dir, "documents"))
      val a = TextAnalysis.qualityFeatures(docs)
        .select(col("doc_id"), (col("quality_score") >= 0.5).as("pass_a"))
      val planted = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(29)) === 7, repeat(lit("spark "), 40))
          .otherwise(col("text")).as("text"))
      val b = graft.ops.TextAnalysis.charEntropy(planted)
        .select(col("doc_id"), (!col("low_entropy")).as("pass_b"))
      graft.ops.Classifier.filterAgreement(
        a.join(b, Seq("doc_id")), col("pass_a"), col("pass_b"))
    }),

    "q83_distinct_ngrams" -> ((s, dir) =>
      // distinct-n corpus diversity per source (Li et al. 2016): low
      // distinct-2/3 marks cross-document repetition (template farms)
      // that per-doc gates miss. ONE scan for all three orders, one
      // (source, n, gram) aggregation; exact countDistinct here IS
      // the oracle (swap for KMV at 10^12 — scaladoc note)
      graft.ops.TextAnalysis.distinctNgrams(
          s.read.parquet(p(dir, "documents")), ns = Seq(1, 2, 3))
        .orderBy(col("source"), col("n"))),

    "q84_chunk_sliding" -> ((s, dir) =>
      // context-window sharding: overlapping 32-token windows every
      // 24 tokens (the eval-perplexity stride setting). Pure map-side
      // — zero shuffles at any corpus size; trailing partial windows
      // kept (n_tok < 32 marks them)
      graft.ops.Chunking.slidingChunks(
          s.read.parquet(p(dir, "documents")), window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    "q85_ols_gram" -> ((s, dir) => {
      // per-source two-regressor least squares (n_chars ~ tokens +
      // long-token count) as ONE codegen'd aggregation + closed-form
      // Cramer solve — the fixed-dimension model-fit shape for 10^12
      // rows: sufficient statistics are mergeable moments, the solve
      // is per-GROUP scalar math
      val t = graft.functions.GraftFunctions.tokenizeWords(col("text"))
      val d = s.read.parquet(p(dir, "documents")).select(
        col("source"), col("n_chars"),
        size(t).cast("double").as("n_tok"),
        // long tokens (> 5 chars) == maximal \w runs of length >= 6 in
        // the LOWERCASED text (the tokenizer lowercases first, and for
        // characters like U+212A whose lowercase crosses into ASCII \w
        // the run structure differs — counting on the raw text would
        // silently diverge from the oracle): one codegen regexp_count,
        // no per-token lambda
        regexp_count(lower(col("text")), lit("\\w{6,}")).cast("double").as("n_long"))
      graft.ops.Regression.olsTwoFeature(
          d, col("n_chars"), col("n_tok"), col("n_long"), keys = Seq("source"))
        .orderBy(col("source"))
    }),

    "q86_ks_drift" -> ((s, dir) => {
      // exact two-sample KS between every source pair on the token-
      // count distribution — the shape-drift audit beside the KL/JSD
      // content legs; D is integer-exact over the pooled value grid
      val t = graft.functions.GraftFunctions.tokenizeWords(col("text"))
      graft.ops.Distrib.ksTwoSample(
          s.read.parquet(p(dir, "documents"))
            .select(col("source"), size(t).cast("long").as("n_tok")),
          "n_tok", "source")
        .orderBy(col("slice_a"), col("slice_b"))
    }),

    "q87_upsert_latest_wins" -> ((s, dir) => {
      // MERGE INTO semantics engine-side: delta batch (updates, stale
      // replays, ties, inserts — all derived deterministically from
      // the corpus) applied latest-wins; keeper is a max_by AGGREGATE,
      // no window — a whale id collapses map-side
      val docs = s.read.parquet(p(dir, "documents"))
      val base = docs.select(col("doc_id"),
        (lit(1) + pmod(col("doc_id"), lit(3))).cast("long").as("version"),
        col("source"), col("text"))
      val changed = docs
        .filter(pmod(col("doc_id"), lit(7)) === 0 ||
          pmod(col("doc_id"), lit(11)) === 0 ||
          pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
              lit(2) + pmod(col("doc_id"), lit(3)))
            .when(pmod(col("doc_id"), lit(11)) === 0, lit(0))
            .otherwise(lit(1) + pmod(col("doc_id"), lit(3)))
            .cast("long").as("version"),
          col("source"),
          concat(
            when(pmod(col("doc_id"), lit(7)) === 0, lit("UPDATED "))
              .when(pmod(col("doc_id"), lit(11)) === 0, lit("STALE "))
              .otherwise(lit("TIED ")),
            col("text")).as("text"))
      val added = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit(1L).as("version"), lit("newsrc").as("source"),
          concat(lit("NEW DOC "), col("doc_id").cast("string")).as("text"))
      graft.ops.Snapshot.upsertLatestWins(base, changed.unionByName(added))
        .orderBy(col("doc_id"))
    }),

    "q88_span_integrity" -> ((s, dir) => {
      // the north-rule output contract (kind, text, media_ref, order)
      // as a checkable invariant: deterministic span corpus with four
      // planted violation classes (offset gap %13, duplicate offset
      // %17, media without ref %19, text with stray ref %23), audited
      // by ONE doc-keyed conditional aggregation
      val docs = s.read.parquet(p(dir, "documents"))
      val toks = graft.functions.GraftFunctions.tokenizeWords(col("text"))
      val withT = docs.select(col("doc_id"), toks.as("toks"))
      val textSpans = withT.filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          explode(sequence(lit(0),
            floor((size(col("toks")) - 1) / lit(10)).cast("int"))).as("i"),
          col("toks"))
        .select(col("doc_id"), lit("text").as("kind"),
          array_join(slice(col("toks"), col("i") * 10 + 1, lit(10)), " ").as("text"),
          when(pmod(col("doc_id"), lit(23)) === 0 && col("i") === 0, lit("stray"))
            .otherwise(lit("")).as("media_ref"),
          col("i").cast("int").as("offset"))
        .filter(!(pmod(col("doc_id"), lit(13)) === 0 && col("offset") === 1))
      val dupSpans = textSpans
        .filter(pmod(col("doc_id"), lit(17)) === 0 && col("offset") === 0)
      val mediaSpans = withT.select(col("doc_id"),
        lit("media").as("kind"), lit("").as("text"),
        when(pmod(col("doc_id"), lit(19)) === 0, lit(""))
          .otherwise(concat(lit("m://"), col("doc_id").cast("string")))
          .as("media_ref"),
        when(size(col("toks")) === 0, lit(0))
          .otherwise(floor((size(col("toks")) - 1) / lit(10)).cast("int") + 1)
          .cast("int").as("offset"))
      graft.pipe.SpanAudit.audit(
          textSpans.unionByName(dupSpans).unionByName(mediaSpans))
        .orderBy(col("doc_id"))
    }),

    "q89_langid_confusion" -> ((s, dir) => {
      // the labeler-evaluation leg: q12's language ID judged against
      // the corpus ground truth as a full multiclass confusion matrix
      // — cells bounded by classes^2, marginals re-aggregate the
      // CELLS, ratios integer-operand round(6)
      val d = s.read.parquet(p(dir, "documents")).select(col("lang"),
        TextAnalysis.predictedLang(col("text")).as("predicted_lang"))
      graft.ops.Classifier.confusionMulticlass(d, "lang", "predicted_lang")
        .orderBy(col("actual"), col("predicted"))
    }),

    "q90_trimmed_mean" -> ((s, dir) => {
      // robust per-source location: exact 10%-trimmed mean of the
      // token count over the q66 value-domain histogram — integer
      // numerator, one division, never a global row sort
      val t = graft.functions.GraftFunctions.tokenizeWords(col("text"))
      graft.ops.Quantiles.trimmedMean(
          s.read.parquet(p(dir, "documents"))
            .select(col("source"), size(t).cast("long").as("n_tok")),
          "n_tok", keys = Seq("source"), trimPermille = 100)
        .orderBy(col("source"))
    }),

    "q91_temporal_tvd" -> ((s, dir) =>
      // day-over-day ingest drift: total variation distance of the
      // event-type distribution per consecutive-day pair — the q86
      // integer-exact trick over a model-sized (day x category) grid
      graft.ops.Distrib.temporalTvd(
          s.read.parquet(p(dir, "events")), "ts", "event_type")
        .orderBy(col("day_a"))),

    "q92_source_balance" -> ((s, dir) =>
      // corpus balance: Shannon entropy / effective-source count /
      // Gini of the source mixture — one input-sized count agg, then
      // slice-count-sized arithmetic
      graft.ops.Distrib.balanceIndex(
          s.read.parquet(p(dir, "documents")), "source")),

    "q94_embedding_dispersion" -> ((s, dir) =>
      // per-label embedding-cloud tightness: exact relational centroid
      // + cosine-to-centroid stats — the oracled audit beside the
      // approximate (fixture-covered) ANN family
      graft.ops.Similarity.groupDispersion(
          s.read.parquet(p(dir, "embeddings")), "label")
        .orderBy(col("label"))),

    "q95_domain_boilerplate" -> ((s, dir) => {
      // cross-page template detection per source: chunk-lines + a
      // planted per-source footer on doc_id%5 — the detector table a
      // strip pass would broadcast-anti-join against the corpus
      val docs = s.read.parquet(p(dir, "documents"))
      val toks = graft.functions.GraftFunctions.tokenizeWords(col("text"))
      val chunkLines = docs.select(col("source"), col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("source"), col("doc_id"),
          explode(sequence(lit(0),
            floor((size(col("toks")) - 1) / lit(10)).cast("int"))).as("i"),
          col("toks"))
        .select(col("source"), col("doc_id"),
          array_join(slice(col("toks"), col("i") * 10 + 1, lit(10)), " ").as("line"))
      val footer = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("source"), col("doc_id"),
          concat(lit("copyright "), col("source"),
            lit(" all rights reserved")).as("line"))
      graft.ops.Web.domainBoilerplate(
          chunkLines.unionByName(footer), "source", "doc_id", "line")
        .orderBy(col("domain"), col("line"))
    }),

    "q96_dup_flow" -> ((s, dir) => {
      // WHERE does duplication live: near-dup pair counts per
      // unordered source pair — intra-source = template farms,
      // cross-source = the mixture feeds the same text twice
      val docs = s.read.parquet(p(dir, "documents"))
      val pairs = graft.ops.Dedup.minhashLsh(docs, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
      graft.ops.Dedup.dupFlowMatrix(pairs, docs)
        .orderBy(col("source_a"), col("source_b"))
    }),

    "q97_rbo_scorers" -> ((s, dir) => {
      // scorer-swap audit: rank-biased overlap between the n_chars
      // ranking and the token-count ranking at k=50, p=0.9 —
      // top-weighted agreement, corpus never feeds a global window
      val docs = s.read.parquet(p(dir, "documents"))
      val t = graft.functions.GraftFunctions.tokenizeWords(col("text"))
      graft.ops.Retrieval.rankBiasedOverlap(
        docs.select(col("doc_id"), col("n_chars").cast("double").as("score")),
        docs.select(col("doc_id"), size(t).cast("double").as("score")),
        k = 50, p = 0.9)
    }),

    "q98_good_turing" -> ((s, dir) =>
      // vocabulary completeness per source: Good-Turing unseen mass
      // N1/N + bias-corrected Chao1 richness from the frequency
      // spectrum — one (slice, word) agg, model-sized downstream
      graft.ops.Distrib.goodTuring(
          s.read.parquet(p(dir, "documents")), "source")
        .orderBy(col("slice"))),

    "q99_padding_waste" -> ((s, dir) => {
      // batching-systems audit: padding waste under the 32/64/128/
      // 256/512 bucket ladder — integer min-cap join (no float log2),
      // docs above the top cap truncate there as a counted fact
      val t = graft.functions.GraftFunctions.tokenizeWords(col("text"))
      graft.ops.Packing.paddingWaste(
          s.read.parquet(p(dir, "documents"))
            .select(col("doc_id"), col("text")),
          size(t), caps = Seq(32L, 64L, 128L, 256L, 512L))
        .orderBy(col("bucket"))
    }),

    "q100_link_graph" -> ((s, dir) => {
      // link-graph extraction (north_rule web surface): every doc gets
      // a deterministic page carrying two messy absolute anchors
      // (mixed-case scheme/host, www., :443, tracking params,
      // fragment) plus one relative anchor that must be dropped; the
      // operator chain regex-extracts hrefs, canonicalizes, parses the
      // target doc id, and audits in/out-degree + distinct dst hosts.
      // The oracle recomputes the expected edges ARITHMETICALLY from
      // doc_id — ground truth, not mirrored regexes.
      val docs = s.read.parquet(p(dir, "documents"))
      val n = docs.agg(count(lit(1)).as("__n"))
      val pages = docs.crossJoin(broadcast(n))
        .withColumn("__d1", pmod(col("doc_id") * 31 + 7, col("__n")))
        .withColumn("__d2", pmod(col("doc_id") * 31 + 14, col("__n")))
        .select(col("doc_id"),
          concat(
            lit("<html><body><p>"), col("text"), lit("</p>"),
            lit("<a HREF=\"HTTPS://WWW.src"), pmod(col("__d1"), lit(20L)),
            lit(".Example.com:443/doc/"), col("__d1"),
            lit("?utm_source=feed&id="), col("__d1"), lit("#top\">a</a>"),
            lit("<a href=\"https://src"), pmod(col("__d2"), lit(20L)),
            lit(".example.com/doc/"), col("__d2"), lit("\">b</a>"),
            lit("<a href=\"/about\">rel</a></body></html>")).as("html"))
      val edges = graft.ops.Web.linkEdges(pages, col("html"), col("doc_id"))
        .withColumn("dst_id",
          regexp_extract(col("url"), "/doc/([0-9]+)", 1).cast("long"))
      val out = edges.groupBy(col("src_id").as("doc_id"))
        .agg(count(lit(1)).as("out_degree"),
          countDistinct(col("dst_host")).as("n_dst_hosts"))
      val in = edges.groupBy(col("dst_id").as("doc_id"))
        .agg(count(lit(1)).as("in_degree"))
      docs.select(col("doc_id"))
        .join(out, Seq("doc_id"), "left")
        .join(in, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("out_degree"), lit(0L)).as("out_degree"),
          coalesce(col("in_degree"), lit(0L)).as("in_degree"),
          coalesce(col("n_dst_hosts"), lit(0L)).as("n_dst_hosts"))
        .orderBy(col("doc_id"))
    }),

    "q101_script_mix" -> ((s, dir) => {
      // Unicode-script mix audit: deterministic non-Latin suffixes
      // planted by doc_id class (Cyrillic / Han / Arabic), identical
      // plant in the oracle, which recomputes the per-script counts
      // with RE2 script classes (Java \p{IsX} == RE2 \p{X} here)
      val docs = s.read.parquet(p(dir, "documents"))
      val mixed = docs.select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(4)) === 1, lit(" привет мир данные модель"))
            .when(pmod(col("doc_id"), lit(4)) === 2, lit(" 数据 清洗 模型 语料"))
            .when(pmod(col("doc_id"), lit(4)) === 3, lit(" بيانات نموذج تدريب"))
            .otherwise(lit(""))).as("text"))
      graft.ops.TextAnalysis.scriptProfile(mixed)
        .select(col("doc_id"),
          col("n_latin").cast("long").as("n_latin"),
          col("n_cyrillic").cast("long").as("n_cyrillic"),
          col("n_han").cast("long").as("n_han"),
          col("n_arabic").cast("long").as("n_arabic"),
          col("n_digit").cast("long").as("n_digit"),
          col("non_latin_frac"), col("dominant_script"))
        .orderBy(col("doc_id"))
    }),

    "q102_shingle_containment" -> ((s, dir) => {
      // asymmetric near-dup verifier: exact shingle containment over
      // the SAME candidate pairs x04 emits (identical minhashLsh
      // call); the oracle reads Verify's x04 dump and recomputes both
      // containment directions exactly in SQL
      val docs = s.read.parquet(p(dir, "documents"))
      val pairs = Dedup.minhashLsh(docs, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
      Dedup.shingleContainment(docs, pairs, n = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q103_incremental_dedup" -> ((s, dir) => {
      // crawl-refresh dedup: OLD = doc_id%10 in [0,8), NEW = the rest;
      // every NEW doc gets a verdict against the frozen OLD hash index
      // plus within-batch first-seen resolution
      val docs = s.read.parquet(p(dir, "documents"))
      val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
      val newDocs = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
      Dedup.incrementalDedup(oldDocs, newDocs)
        .orderBy(col("doc_id"))
    }),

    "q104_hll_distinct" -> ((s, dir) => {
      // HyperLogLog (relational form, p=10) vs exact distinct per
      // source — registers, estimate, and correction all recomputed
      // independently by the oracle from the same md5-derived 56-bit
      // hash (integer register mass, so no float-summation-order gap)
      val docs = s.read.parquet(p(dir, "documents"))
      val est = graft.ops.Sketches.hllDistinct(docs, "text", "source", p = 10)
      val exact = docs.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("exact_distinct"))
      est.join(exact, Seq("source"))
        .withColumn("rel_err",
          round(abs(col("hll_estimate") - col("exact_distinct").cast("double")) /
            greatest(col("exact_distinct"), lit(1L)).cast("double"), 4))
        .select(col("source"), col("m"), col("nonzero_buckets"),
          col("hll_estimate"), col("exact_distinct"), col("rel_err"))
        .orderBy(col("source"))
    }),

    "q105_edit_verify" -> ((s, dir) => {
      // exact edit-distance confirm stage over a deterministic pair
      // set (id, id+1 | id % 3 == 0): length pre-gate + banded
      // thresholded Levenshtein; the oracle recomputes the full
      // distance and applies the same threshold rule in SQL.
      // ASCII precondition, ENFORCED not assumed (round-4 advice):
      // DuckDB's levenshtein counts BYTES while Spark's counts
      // codepoints, so the oracle is ground truth only over byte-pure
      // ASCII text. Both engines gate pair membership on
      // octet_length == char_length (true iff pure ASCII) so a
      // non-ASCII document landing in the corpus drops the pair on
      // BOTH sides instead of silently diverging the distance.
      val docs = s.read.parquet(p(dir, "documents"))
        .filter(octet_length(col("text")) === length(col("text")))
      val ids = docs.select(col("doc_id"))
      val pairs = ids
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      Dedup.editDistVerify(docs, pairs, maxDist = 120)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q57_quality_deciles" -> ((s, dir) =>
      // exact decile banding by (n_chars, doc_id) global rank — the
      // scalable ntile: range-partition prefix rank + integer DIV,
      // band sizes differ by at most one
      graft.ops.Sampling.rankBands(
          s.read.parquet(p(dir, "documents")).select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars"), col("doc_id")), bands = 10)
        .select(col("doc_id"), col("n_chars"), col("pos"), col("band"))
        .orderBy(col("doc_id"))),

    "q39_sessionize_skew" -> ((s, dir) =>
      // the skew-proof two-phase sessionize MUST equal the plain form
      // — same DuckDB oracle as q35. bucketUs = 1 hour (only 2x the
      // 30-min gap) forces heavy bucket-edge splitting + phase-2
      // stitching, the hardest setting for the equivalence.
      graft.ops.Sessions.sessionizeSkewAware(
          s.read.parquet(p(dir, "events")), bucketUs = 3600L * 1000000L)
        .orderBy(col("user_id"), col("session_idx"))),

    "q40_asof_skew" -> ((s, dir) => {
      // the skew-proof bucketed as-of MUST equal the union-window form
      // — same DuckDB native-ASOF oracle as q36. 1-hour buckets force
      // most matches through the carry path.
      val ev = s.read.parquet(p(dir, "events"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_event_id"))
      graft.ops.Joins.asofJoinSkewAware(purchases, clicks, "user_id", "ts", "ts",
          Seq("click_event_id"), bucketUs = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("purchase_us"),
          col("asof_time_us").as("click_us"),
          col("asof_click_event_id").as("click_event_id"))
        .withColumn("gap_us", col("purchase_us") - col("click_us"))
        .orderBy(col("event_id"))
    }),

    "q37_range_join" -> ((s, dir) => {
      // range join (bucketed interval form — equi-join on (key,
      // bucket), every pair exactly once): purchases inside each
      // signup's 1-hour window, zero-count signups preserved
      val ev = s.read.parquet(p(dir, "events"))
      val hourUs = 3600000000L
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("signup_us"))
        .withColumn("end_us", col("signup_us") + hourUs)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("p_us"))
      val pairs = graft.ops.Joins.rangeJoin(purchases, signups, "user_id",
        "p_us", "signup_us", "end_us", bucketUs = hourUs)
      signups
        .join(pairs.groupBy(col("signup_id")).agg(count(lit(1)).as("n")),
          Seq("signup_id"), "left")
        .select(col("signup_id"), col("user_id"), col("signup_us"),
          coalesce(col("n"), lit(0L)).as("n_purchases"))
        .orderBy(col("signup_id"))
    }),

    "q38_heavy_hitters" -> ((s, dir) => {
      // two-pass sketch heavy hitters: Misra-Gries candidates (O(k)
      // state, guaranteed superset of everything above n/(k+1)) ->
      // exact recount of candidates only -> threshold. Output is
      // provably equal to the plain group-count-HAVING query, which
      // is the DuckDB oracle — the sketch guarantee, checked.
      val words = s.read.parquet(p(dir, "documents"))
        .select(explode(
          graft.functions.GraftFunctions.tokenizeWords(col("text"))).as("word"))
      graft.ops.Sketches.heavyHitters(words, k = 64)
        .orderBy(col("word"))
    }),

    "q24_window_frames" -> ((s, dir) => {
      // lag/lead + running aggregate window frames (SURVEY §2.8)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      s.read.parquet(p(dir, "orders"))
        .filter(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderkey"),
          round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
          round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---------------- pipeline / kernel (rows-only checks) ----------------
    "x01_extract_spans" -> ((s, dir) => {
      // the flagship extraction, graded against GENERATOR ground truth
      // (round-4 verdict item 2): Verify dumps gen.Corpus.truthSpans
      // beside the query results, and the oracle reads that dump — so
      // the all-three-green row IS the north rule's span-sequence
      // equality (kind, text, media_ref, order) on the driver's
      // corpus. Confidence is engine-internal (not part of the
      // north-rule tuple) and stays covered by PipelineSpec/x02.
      val docs = Corpus.documents(s, dir).toDF()
      val media = Corpus.media(s, dir).toDF()
      ExtractJob.extractSpans(s, docs, media)
        .select(col("doc_id"), col("kind"), col("text"), col("media_ref"), col("offset"))
        .orderBy(col("doc_id"), col("offset"))
    }),

    "x02_extract_docs" -> ((s, dir) => {
      val docs = Corpus.documents(s, dir).toDF()
      val media = Corpus.media(s, dir).toDF()
      ExtractJob.run(s, docs, media)
        .select(col("doc_id"), col("text"), round(col("confidence"), 4).as("confidence"),
          col("media_count"), col("summary"), round(col("compression_ratio"), 4).as("compression_ratio"))
        .orderBy(col("doc_id"))
    }),

    "x03_structure" -> ((s, dir) => {
      StructureJob.run(s, Corpus.media(s, dir).toDF())
        .select(col("media_ref"),
          col("structure.total_paragraphs").as("total_paragraphs"),
          col("structure.total_columns").as("total_columns"),
          size(col("structure.suggested_actions")).as("n_actions"))
        .orderBy(col("media_ref"))
    }),

    "x04_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLsh(s.read.parquet(p(dir, "documents")), threshold = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x05_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(s.read.parquet(p(dir, "documents")), maxDist = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x06_ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(p(dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 5)
      // planes sized to corpus: ~2^planes buckets; small corpora need
      // coarse buckets for recall (at 10^12 scale this would be 20+)
      Similarity.annTopK(emb, queries, dim = embDim(s, dir), k = 5, planes = 6)
        .orderBy(col("qid"), col("rn"))
    }),

    "x07_summarize_kernel" -> ((s, dir) => {
      // the exact reference summarizer (lookbehind split + full stopword
      // set) as a kernel, DuckDB-oracled against the q17 SQL chain:
      // kernel==SQL sentence SELECTION is the check. The corpus texts
      // carry no [.!?] (one "sentence" each — the kernel's n<=3 guard
      // would return them verbatim), so multi-sentence texts are
      // SYNTHESIZED deterministically (the x13 pattern): 8-token chunks
      // joined ". " — every sentence boundary is a constructed dot, so
      // the kernel's lookbehind split and the SQL's consuming split see
      // identical sentences (modulo the kept trailing dot, normalized
      // away on both sides), and docs with >24 tokens have >3 sentences
      // so the kernel genuinely summarizes.
      // Eligibility: docs whose sentence scores have NO near-ties
      // (adjacent sorted-score gap > 1e-9, computed with the q17
      // SQL-parity arithmetic on BOTH sides). The kernel accumulates
      // freq/maxFreq term-by-term while the SQL twin sums integers
      // exactly, so an exact rational tie can differ by ~1 ulp in the
      // kernel and flip the tie-break — while genuinely distinct
      // scores here differ by >= 1/(8*7*4) ~ 0.004 (n_words <= 8,
      // bonus 5/4), so the 1e-9 cut separates the two regimes
      // deterministically and kernel==SQL ranking is exact on every
      // eligible doc. The eligibility rule runs as ONE per-row UDF
      // (integer frequency sums -> a single division -> a single
      // multiply, each an order-free exact-or-once-rounded IEEE op,
      // so JVM == DuckDB bit-for-bit) — the relational form of the
      // same rule cost 6 shuffles and ~12 s of plan/codegen for a
      // per-row decision.
      val eligUdf = tieEligUdf
      val sentsArr = transform(
        sequence(lit(0), floor((size(col("toks")) - 1) / lit(8)).cast("int")),
        i => array_join(slice(col("toks"), i * 8 + 1, lit(8)), " "))
      s.read.parquet(p(dir, "documents"))
        .select(col("doc_id"),
          filter(split(col("text"), "\\W+"), t => t =!= "").as("toks"))
        .filter(size(col("toks")) > 24)
        .select(col("doc_id"), sentsArr.as("sents"))
        .filter(length(concat(array_join(col("sents"), ". "), lit("."))) >= 100)
        .filter(eligUdf(col("sents")))
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(
            graft.functions.GraftFunctions.summarize(
              concat(array_join(col("sents"), ". "), lit("."))),
            "[.!?]", ""), "\\s+", " ")).as("summary"))
      // no trailing orderBy: a global sort range-samples its child,
      // evaluating the kernel-summarizer chain TWICE; the driver's
      // compare sorts by all columns itself
    }),

    "x08_ngram_jaccard" -> ((s, dir) => {
      // deterministic pair set (id, id+250 | id % 4 == 0): the exact
      // n-gram Jaccard verifier gets a full DuckDB oracle; candidate
      // GENERATION is covered by x05 + the planted-pair specs
      val docs = s.read.parquet(p(dir, "documents"))
      val ids = docs.select(col("doc_id"))
      val pairs = ids
        .filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 250).as("id_b"))
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      Dedup.ngramJaccard(docs, pairs)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x09_mm_metadata" -> ((s, dir) => {
      Multimodal.metadata(s, synthMedia(s)).toDF()
        .orderBy(col("media_ref"))
    }),

    "x10_mm_frames" -> ((s, dir) => {
      Multimodal.frameSampleTable(s, synthMedia(s), stride = 2).toDF()
        .groupBy(col("media_ref"))
        .agg(count(lit(1)).as("n_sampled"), min(col("frame_idx")).as("first_frame"),
          max(col("frame_idx")).as("last_frame"))
        .orderBy(col("media_ref"))
    }),

    "x11_mm_image_features" -> ((s, dir) => {
      // decode+feature vs ENCODE-side truth (converted from rows-only,
      // round-4 verdict item 4): geometry recomputed from the layout
      // math (not the header the decoder parses), mean intensity
      // averaged over the rendered bytes — dumped by Verify as
      // media_truth, read by the oracle
      Multimodal.imageFeatureTable(s, Corpus.media(s, dir).toDF()).toDF()
        .select(col("media_ref"), col("width"), col("height"),
          round(col("mean_intensity"), 2).as("mean_intensity"))
        .orderBy(col("media_ref"))
    }),

    "x23_mm_audio_features" -> ((s, dir) => {
      // audio feature extraction (duration / RMS energy / zero-crossing
      // count) over the GAUD containers — rows-only: the synth wave's
      // Det jitter is not SQL-recomputable (duration is; covered by the
      // x09 metadata oracle on the same containers)
      Multimodal.audioFeatureTable(s, synthMedia(s)).toDF()
        .select(col("media_ref"), round(col("duration_ms"), 2).as("duration_ms"),
          col("rms"), col("zero_crossings"))
        .orderBy(col("media_ref"))
    }),

    "x12_scope_column_summary" -> ((s, dir) => {
      // T9 column scope (app.py:1996-2005) over a DETERMINISTIC
      // structure corpus (the x13/x18 pattern) so the scope operator
      // gets a DuckDB oracle: each document's text becomes 10-token
      // "paragraphs", grouped 3-per-"column"; columnScope must join
      // each column's paragraph texts "\n\n" in paragraph-id order.
      // The OCR-structure path stays covered by x03/x15 + ScopeSpec;
      // the kernel summary is x07's oracle, dropped here like x13.
      val chunks = chunks10(s.read.parquet(p(dir, "documents")))
      val structures = chunks
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("idx"), col("chunk")))).as("sp"))
        .select(col("doc_id").as("media_ref"), struct(
          transform(col("sp"), x =>
            struct(x("idx").as("id"), x("chunk").as("text"))).as("paragraphs"),
          transform(
            sequence(lit(0), floor((size(col("sp")) - 1) / lit(3)).cast("int")), g =>
              struct(g.as("id"),
                filter(transform(col("sp"), x => x("idx")),
                  i => floor(i / lit(3)).cast("int") === g).as("paragraphs")))
            .as("columns")).as("structure"))
      graft.pipe.Scope.columnScope(structures)
        .drop("summary")
        .orderBy(col("media_ref"), col("column_id"))
    }),

    "x13_scope_page" -> ((s, dir) => {
      // page-scope assembly over a DETERMINISTIC extracted-shaped input
      // (each document's text split into 10-token pages) so the scope
      // operator gets a DuckDB oracle; the OCR-content page scope stays
      // covered by x14 + the PipelineSpec north-rule fixtures.
      // span structs collected in FINAL field order behind a numeric
      // sort key (the x18 pattern — no per-element rebuild lambda)
      val chunks = chunks10(s.read.parquet(p(dir, "documents")))
      val assembled = chunks
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("idx"),
          struct(lit("text").as("kind"), col("chunk").as("text"),
            lit("").as("media_ref"), col("idx").as("offset"),
            lit(90.0).as("confidence")).as("s")))).as("sp"))
        .select(col("doc_id"), col("sp.s").as("spans"))
      graft.pipe.Scope.pageScope(assembled)
        .drop("summary")
        .orderBy(col("doc_id"), col("page"))
    }),

    "x17_ivf_ann" -> ((s, dir) => {
      // trained-codebook ANN over the embeddings table (rows-only: the
      // index is approximate by contract; exactness vs brute force is
      // spec-covered on planted clusters)
      val emb = s.read.parquet(p(dir, "embeddings"))
      val dim = embDim(s, dir)
      val codebook = Similarity.trainIvf(emb, dim, nCentroids = 16, iters = 2)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), dim, codebook,
        k = 5, nProbe = 2)
        .orderBy(col("qid"), col("rn"))
    }),

    "x18_extract_text_spans" -> ((s, dir) => {
      // the TEXT branch of the flagship extraction (S7 direct-text
      // bypass: whitespace-collapse cleanup + the >50-chars=>90/else-70
      // confidence rule, app.py:636-649) over a deterministic
      // text-spans-only corpus — pure SQL, so the flagship pipeline's
      // text slice gets a DuckDB oracle (the x13 pattern). Chunks are
      // double-space-joined with pad spaces so the cleanup is
      // observable, not an identity.
      val docs = s.read.parquet(p(dir, "documents"))
      // lambda-free fixture builder (the chunks10 pattern): native
      // case-preserving tokens, chunk built row-wise after an index
      // explode, and the span structs collected in FINAL field order
      // with a separate numeric sort key (array_sort(keys) is a
      // native ordering; the former transform-over-collect rebuilt
      // every struct through an interpreted lambda)
      val toksN = graft.functions.GraftFunctions.tokenizeRaw(col("text"))
      val chunks = docs
        .select(col("doc_id"), toksN.as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          explode(sequence(lit(0),
            floor((size(col("toks")) - 1) / lit(10)).cast("int"))).as("offset"),
          col("toks"))
        .select(col("doc_id"), col("offset"),
          concat(lit(" "),
            array_join(slice(col("toks"), col("offset") * 10 + 1, lit(10)), "  "),
            lit(" ")).as("raw"))
      val spanDocs = chunks.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("offset"),
          struct(lit("text").as("kind"), col("raw").as("text"),
            lit("").as("media_ref"), col("offset").as("offset")).as("s")))).as("sp"))
        .select(col("doc_id"), col("sp.s").as("spans"))
      val emptyMedia = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("media_ref",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("bytes",
            org.apache.spark.sql.types.BinaryType))))
      ExtractJob.extractSpans(s, spanDocs, emptyMedia)
        .orderBy(col("doc_id"), col("offset"))
    }),

    "x19_language_grid" -> ((s, dir) => {
      // the language axis through the full extraction pipeline (the
      // reference's `-l {language}`, app.py:579): pages rendered in
      // each language decode EXACTLY under the matching engine
      // (exact_match=true rows) and misread under a foreign table
      // (exact_match=false rows) — deterministic, rows-only.
      // grid cost discipline (round-4 verdict item 5): the engine
      // language is a per-PIPELINE config (the reference's `-l`), so
      // the |languages|² grid needs |languages| pipeline plans — one
      // per engineLang over ONE union'd frame carrying every pageLang
      // as data (page_lang parsed back from doc_id) — not a pipeline
      // per CELL. The former per-cell form planned 4 full extraction
      // pipelines; fixed scheduling overhead, not data cost.
      import s.implicits._
      val texts = (0 until 6).map(i =>
        s"language grid sample $i with words ${i * 7} and ${i * 13}")
      val gt = texts.map(graft.codec.SynthRaster.groundTruth)
      val langs = graft.codec.Glyphs.languages
      val media = s.createDataset(for (pl <- langs; i <- texts.indices) yield
        (s"lg-$pl-$i", graft.codec.SynthRaster.render(
          texts(i), seed = 500L + i, language = pl))).toDF("media_ref", "bytes")
      val docs = s.createDataset(for (pl <- langs; i <- texts.indices) yield
        graft.gen.InDoc(s"lgdoc-$pl-$i",
          Seq(graft.gen.InSpan("media", "", s"lg-$pl-$i", 0)))).toDF()
      val truth = s.createDataset(for (pl <- langs; i <- texts.indices) yield
        (s"lgdoc-$pl-$i", gt(i))).toDF("doc_id", "truth")
      langs.map { engineLang =>
        ExtractJob.extractSpans(s, docs, media,
            ExtractJob.Config(language = engineLang))
          .join(truth, Seq("doc_id"))
          .select(
            substring_index(substring_index(col("doc_id"), "-", 2), "-", -1)
              .as("page_lang"),
            lit(engineLang).as("engine_lang"),
            col("doc_id"), (col("text") === col("truth")).as("exact_match"))
      }.reduce(_ unionByName _)
        .orderBy(col("page_lang"), col("engine_lang"), col("doc_id"))
    }),

    "x20_embed_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup pairs, DuckDB-oracled on the
      // planted-copy contract (the x29 rationale): exact copies of
      // the 10 smallest vec_ids at id+1000000 are the ONLY pairs at
      // cos >= 0.99 (max natural pairwise cosine ~0.51 in this
      // corpus), identical vectors agree on every RP band hash so
      // banding can never miss them, and round(cos,4) pins their
      // cosine to exactly 1.0. Recall on merely-NEAR (non-identical)
      // duplicates stays approximate-by-contract (DedupSpec).
      val emb = s.read.parquet(p(dir, "embeddings")).select(col("vec_id"), col("embedding"))
      val dim = embDim(s, dir)
      val planted = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.embeddingNearDups(emb.unionByName(planted), dim, threshold = 0.99)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x21_health" -> ((s, dir) => {
      // S10 health probe: engine + pdf capability row, plus live
      // manifest counters over a tiny committed run (rows-only; the
      // status/languages/pdf_ok fields are deterministic)
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-health").toString
      val docs = s.createDataset((0 until 8).map(i =>
        graft.gen.InDoc(f"h-$i%02d", Seq(graft.gen.InSpan("text", s"health doc $i", "", 0))))).toDF()
      val media = s.createDataset(Seq.empty[(String, Array[Byte])]).toDF("media_ref", "bytes")
      graft.pipe.ExtractJob.runResumable(s, docs, media, tmp,
        graft.pipe.ExtractJob.Config(outputBuckets = 4))
      graft.pipe.Health.check(s, s"$tmp/manifest")
        .select($"status", $"message", $"engine_version", $"languages", $"pdf_ok",
          $"committed_buckets", $"committed_docs")
    }),

    "x22_streaming_extract" -> ((s, dir) => {
      // streaming form of the flagship extraction (stream-static media
      // join, append-mode stateless; StreamingSpec asserts row-equality
      // with batch). Bounded file source -> memory sink, rows-only.
      val docs = Corpus.documents(s, dir).toDF()
        .filter(xxhash64(col("doc_id")) % 10 === 0)
      val media = Corpus.media(s, dir).toDF()
      val tmp = java.nio.file.Files.createTempDirectory("graft-x22").toString
      docs.write.mode("overwrite").parquet(s"$tmp/in")
      val name = s"x22sx_${System.nanoTime()}"
      val q = graft.streaming.StreamingJobs
        .extractSpansStreaming(s, s"$tmp/in", docs.schema, media)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
      q.processAllAvailable()
      q.stop()
      s.table(name).orderBy(col("doc_id"), col("offset"))
    }),

    "x27_profile" -> ((s, dir) =>
      // one-pass schema-dynamic corpus profile, DuckDB-oracled on the
      // KMV exactness-below-k guarantee (the x26 pattern): k=8192
      // exceeds every per-column distinct count in the oracle corpora,
      // so approx_distinct IS the exact count (+1 for null-as-a-value
      // when nulls exist) and the whole row is SQL-recomputable. The
      // above-k error/invariance behavior stays ProfileSpec/
      // SketchesSpec-asserted.
      graft.ops.Profile.columns(
          s.read.parquet(p(dir, "documents")), kmvK = 8192)
        .orderBy(col("column"))),

    "x30_bpe_merges" -> ((s, dir) => {
      // BPE merge training (rows-only: the merge loop is a driver-side
      // kernel over the capped word-type head; the sequence law is
      // BpeSpec-asserted on the Sennrich worked example). ONE corpus
      // aggregation (word counts), everything else model-sized.
      graft.ops.Bpe.trainBpe(
          s.read.parquet(p(dir, "documents")),
          merges = 50, vocabCap = 5000, minPair = 2L)
        .orderBy(col("rank"))
    }),

    "x31_count_min" -> ((s, dir) => {
      // Count-Min point-frequency estimates, DuckDB-oracled on the
      // sketch's GUARANTEE (the q38/x26/x28 pattern): est never
      // under-counts, and est <= exact + ceil(e*N/width) — the
      // depth=4 Markov bound, deterministic here (seeded MurmurHash3,
      // fixed corpus), so the oracle is the all-true probe frame. The
      // hash layout itself is not SQL-expressible; exactness at
      // width >> distinct, merge laws, and partitioning invariance
      // stay SketchesSpec-asserted. ONE hash aggregation builds the
      // depth*width sketch (probes answered from control-plane
      // state); the exact twin + token total N come from one more
      // scan whose group key collapses every non-probe word to null —
      // the agg result is <= probes+1 rows, never vocabulary-sized.
      val probes = Seq("the", "spark", "data", "quick", "zzz_absent")
      val depth = 4; val width = 16384
      val words = s.read.parquet(p(dir, "documents"))
        .select(explode(graft.functions.GraftFunctions.tokenizeWords(
          col("text"))).as("word"))
      val est = graft.ops.Sketches.cmsEstimates(words, probes, depth, width)
      val byProbe = words
        .groupBy(when(col("word").isin(probes: _*), col("word")).as("word"))
        .agg(count(lit(1)).as("exact"))
      val n = byProbe.agg(coalesce(sum(col("exact")), lit(0L))).head().getLong(0)
      val bound = math.ceil(math.E * n / width).toLong
      est.join(byProbe, Seq("word"), "left")
        .na.fill(0L, Seq("exact"))
        .select(col("word"),
          (col("est") >= col("exact")).as("never_under"),
          (col("est") <= col("exact") + lit(bound)).as("within_bound"))
        .orderBy(col("word"))
    }),

    "x29_semantic_dedup" -> ((s, dir) => {
      // SemDeDup pairs, DuckDB-oracled on the planted-copy contract:
      // exact copies of the 10 smallest vec_ids at id+1000000 are the
      // ONLY pairs at cos >= 0.99 in this corpus (measured max
      // natural pairwise cosine ~0.51 at every oracle SF), identical
      // vectors share a nearest centroid under ANY codebook
      // (deterministic assignment), and round(cos,4) pins identical-
      // vector cosine to exactly 1.0 — so the full output frame is
      // SQL-recomputable. Cluster QUALITY on non-identical neighbors
      // stays approximate-by-contract (DedupSpec planted clusters);
      // the cluster-id column is diagnostic, not part of the
      // contract, and stays out of the driver projection.
      val emb = s.read.parquet(p(dir, "embeddings"))
        .select(col("vec_id"), col("embedding"))
      val dim = embDim(s, dir)
      val planted = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.semanticDedup(emb.unionByName(planted), dim,
          nClusters = 8, threshold = 0.99)
        .select(col("id_a"), col("id_b"), col("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x28_dd_quantiles" -> ((s, dir) => {
      // DDSketch-style log-bucket quantile sketch per source, oracled
      // on its GUARANTEE (the q38/x26 pattern): every estimate must
      // sit within alpha relative error of the exact quantile (exact
      // twin computed by q66's histogram machinery in the same job),
      // so the oracle is the all-true (source, permille) frame. Merge/
      // invariance laws stay QuantilesSpec-asserted.
      val alpha = 0.02
      val docs = s.read.parquet(p(dir, "documents"))
      val dd = udaf(new graft.ops.Quantiles.DdHistogram(alpha),
        org.apache.spark.sql.Encoders.scalaDouble)
      val sk = docs.groupBy(col("source"))
        .agg(dd(col("n_chars").cast("double")).as("sk"))
      val est = udf((m: Map[Int, Long], pm: Int) =>
        graft.ops.Quantiles.ddQuantile(m, alpha, pm))
      val pms = Seq(500, 900, 990)
      val ex = graft.ops.Quantiles.exactIntQuantiles(
        docs.select(col("source"), col("n_chars")), "n_chars", pms,
        keys = Seq("source"))
      import s.implicits._
      sk.crossJoin(broadcast(pms.toDF("permille")))
        .withColumn("est", est(col("sk"), col("permille")))
        .join(ex, Seq("source", "permille"))
        .select(col("source"), col("permille"),
          (abs(col("est") - col("value").cast("double")) <=
            lit(alpha) * col("value").cast("double")).as("within_bound"))
        .orderBy(col("source"), col("permille"))
    }),

    "x26_kmv_distinct" -> ((s, dir) => {
      // KMV distinct-count sketch per source, DuckDB-oracled on the
      // sketch's exactness-below-k GUARANTEE: with k=4096 > any
      // per-source distinct count in this corpus, the sketch holds
      // every distinct hash and its estimate IS the exact count, so
      // the oracle is COUNT(DISTINCT text) with abs_err 0. The
      // error-bound and partitioning-invariance behavior ABOVE k
      // stays SketchesSpec-asserted (k=256 there).
      val kmv = udaf(new graft.ops.Sketches.KmvDistinct(4096),
        org.apache.spark.sql.Encoders.scalaLong)
      s.read.parquet(p(dir, "documents"))
        .groupBy(col("source"))
        .agg(kmv(xxhash64(col("text"))).as("est_distinct"),
          countDistinct(col("text")).as("exact_distinct"))
        .withColumn("abs_err", abs(col("est_distinct") - col("exact_distinct")))
        .orderBy(col("source"))
    }),

    "x25_curation_full" -> ((s, dir) =>
      // the full curation verdict including MinHash near-dup losers.
      // DuckDB-oracled via the x04 pair fixture: nearDupThreshold=0.2
      // makes the internal minhashLsh call byte-identical to x04's
      // (deterministic seeded hashes, same corpus), so the oracle
      // reads Verify's own x04 dump as the pair set and independently
      // recomputes the loser rule (higher id_b of each pair drops) +
      // the q34 verdict composition in SQL. Pair DETECTION stays
      // approximate-by-contract (x04 rows-only + planted-pair specs);
      // what this oracles is the composition.
      graft.ops.Curation.verdictFull(s.read.parquet(p(dir, "documents")),
          nearDupThreshold = 0.2)
        .orderBy(col("doc_id"))),

    "x24_ivfpq_ann" -> ((s, dir) => {
      // IVF-PQ with exact re-rank (rows-only: approximate by contract;
      // recall is spec-asserted on planted clusters). The 10^12-vector
      // candidate-traffic shape: candidates cross the probe join as
      // m-byte PQ codes instead of dim floats, ADC-ranked, and only the
      // top-`rerank` re-fetch exact vectors for cosine re-ranking.
      // one Lloyd round each: the driver query is the plumbing
      // showcase — iteration count is an index-quality knob exercised
      // at iters=2 by the DedupSpec recall tests
      val emb = s.read.parquet(p(dir, "embeddings"))
      val dim = embDim(s, dir)
      val coarse = Similarity.trainIvf(emb, dim, nCentroids = 16, iters = 1)
      val pq = Similarity.trainPq(emb, dim, m = 8, codes = 16, iters = 1)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), dim, coarse, pq,
        k = 5, nProbe = 2, rerank = 20)
        .orderBy(col("qid"), col("rn"))
    }),

    "x16_pdf_extract" -> ((s, dir) => {
      // S4/S5/S6 — multi-page pdf-analog containers through the full
      // pipeline. Converted from rows-only (round-4 verdict item 4):
      // the page texts are literal ("page P of doc I", identity under
      // groundTruth — all-lowercase renderable short strings), so the
      // expected multi-page "\n\n" concat is PURE SQL over range();
      // the oracle recomputes it without touching the engine.
      // Confidence is engine-internal — covered by MultimodalSpec.
      import s.implicits._
      val media = s.range(8).map { i =>
        (f"pdf-$i%04d", Multimodal.synthPdf(
          (0 to i.toInt % 3 + 1).map(p => s"page $p of doc $i"),
          graft.util.Det.mix64(0x9dfL, i)))
      }.toDF("media_ref", "bytes")
      val docs = s.range(8).map(i => graft.gen.InDoc(f"pd-$i%04d",
        Seq(graft.gen.InSpan("media", "", f"pdf-$i%04d", 0)))).toDF()
      ExtractJob.run(s, docs, media)
        .select(col("doc_id"), col("text"), col("media_count"))
        .orderBy(col("doc_id"))
    }),

    "x15_structure_viz" -> ((s, dir) => {
      // L9 visualization (rows-only: JPEG bytes are not SQL-recomputable);
      // emit decoded shape + size so regressions are visible in rows
      import s.implicits._
      graft.pipe.StructureJob.visualizations(s, Corpus.media(s, dir).toDF().limit(25))
        .as[(String, Array[Byte])]
        .map { case (ref, jpg) =>
          val (w, h, _) = graft.img.ImageCodec.decode(jpg)
          (ref, jpg.length, w, h)
        }
        .toDF("media_ref", "jpeg_bytes", "width", "height")
        .orderBy(col("media_ref"))
    }),

    "x14_scope_page_summary_ocr" -> ((s, dir) => {
      // the OCR-content composition, CONVERTED from rows-only (round-4
      // verdict item 4): full pipeline -> page scope -> kernel
      // summarizer per span, graded against the q17 SQL chain run over
      // the GENERATOR's truth spans (the x07 pattern, keyed by
      // (doc_id, page)). Works because every span text's sentence
      // boundaries are ". " constructions (media: mediaTextFor's
      // seeded sentences through groundTruth; text: source sentences
      // joined " ") — the kernel's lookbehind split and the SQL's
      // consuming split see the same sentences modulo the kept
      // trailing dot, normalized away on both sides. Same x07 guards:
      // >= 100 chars, > 3 sentences (so the kernel genuinely
      // summarizes) and the near-tie eligibility cut on both engines.
      val docs = Corpus.documents(s, dir).toDF()
      val media = Corpus.media(s, dir).toDF()
      val pages = graft.pipe.Scope.pageScope(ExtractJob.run(s, docs, media))
      pages
        .withColumn("__sents",
          graft.functions.GraftFunctions.sentencesSql(col("scope_text")))
        .filter(size(col("__sents")) > 3 && length(col("scope_text")) >= 100)
        .filter(tieEligUdf(col("__sents")))
        .select(col("doc_id"), col("page"), col("scope_text"),
          trim(regexp_replace(regexp_replace(col("summary"), "[.!?]", ""),
            "\\s+", " ")).as("summary"))
      // no trailing orderBy (the x07 note: a global sort range-samples
      // its child and would run the kernel-summarizer chain twice);
      // the driver's compare sorts by all columns itself
    })
  )

  /** The shared 10-token chunking (x12/x13/q45 and their oracles'
    * LATERAL twin): (doc_id, idx, chunk) — non-empty \\W+ tokens in
    * runs of 10 joined by single spaces. Change it in one place or
    * three DuckDB oracles desynchronize.
    */
  /** q75 blocklist: corpus-vocabulary phrases (so matches occur), with
    * nesting ("scan" inside "table scan" — both must report) and one
    * never-occurring probe. Shared verbatim by the Spark query and the
    * DuckDB oracle's VALUES list.
    */
  private val BlocklistPhrases: Seq[String] = Seq(
    "scan", "table scan", "key order sort", "hash join",
    "merge sort", "slow query", "window", "foo bar")

  private def chunks10(docs: DataFrame): DataFrame = {
    // lambda-free chunker (round-4 verdict item 6's last holdout):
    // native case-preserving tokenizer, then explode the chunk INDEX
    // and build each chunk row-wise — slice/array_join outside any
    // lambda stay in whole-stage codegen (the former
    // transform(sequence(...)) built every chunk interpreted)
    val toks = graft.functions.GraftFunctions.tokenizeRaw(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0),
          floor((size(col("toks")) - 1) / lit(10)).cast("int"))).as("idx"),
        col("toks"))
      .select(col("doc_id"), col("idx"),
        array_join(slice(col("toks"), col("idx") * 10 + 1, lit(10)), " ").as("chunk"))
  }

  /** Synthetic video/audio containers with CLOSED-FORM parameters
    * (n_frames = i%6+3, n_samples = 4000 + i*37 mod 8000): the x09/x10
    * DuckDB oracles recompute the expected metadata as pure arithmetic
    * over `range()`. Det-seeded containers (and image rasters) remain
    * covered by MultimodalSpec + x11.
    */
  private def synthMedia(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(20).map { i =>
      if (i % 2 == 0) (f"vid-$i%04d", Multimodal.synthVideo(i.toInt, nFrames = (i % 6 + 3).toInt))
      else (f"aud-$i%04d", Multimodal.synthAudio(i.toInt, nSamples = (4000 + i * 37 % 8000).toInt))
    }.toDF("media_ref", "bytes")
  }

  /** Deterministic synthetic page wrapping a document's text (q29/q30):
    * head with style+script bodies, a comment, a link-dense nav (drops
    * by the link rule: 7 words, 3 links), the document text + a fixed
    * closing paragraph as the two content blocks, and a short link
    * footer (drops by the min-words rule). Only double quotes inside,
    * so the identical bytes embed as single-quoted literals in the
    * DuckDB oracle.
    */
  private[graft] val pageHead: String =
    "<html><head><title>Doc</title><style>p { color: red; }</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script></head><body>" +
      "<!-- chrome --><nav><a href=\"/\">home</a> <a href=\"/a\">about</a> " +
      "<a href=\"/c\">contact</a> menu links</nav>" +
      "<div id=\"main\"><p>Fish &amp; chips &lt;b&gt; today: "
  private[graft] val pageMid: String =
    "</p><p>This closing paragraph carries enough plain words to stay.</p></div>"
  private[graft] val pageTail: String =
    "<div class=\"footer\"><a href=\"/t\">terms</a> &copy; 2026</div></body></html>"

  private def synthPage(text: Column): Column =
    concat(lit(pageHead), text, lit(pageMid + pageTail))

  /** DuckDB twin of [[graft.ops.Html.stripHtml]] over a SQL expression
    * (same regexes — RE2-compatible by construction — same entity
    * order, same whitespace collapse).
    */
  private def duckStrip(e: String): String =
    s"""trim(regexp_replace(replace(replace(replace(replace(replace(replace(
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace($e,
       |      '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
       |      '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
       |      '(?s)<!--.*?-->', ' ', 'g'),
       |      '<[^>]*>', ' ', 'g'),
       |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |    '&#39;', ''''), '&amp;', '&'),
       |  '\\s+', ' ', 'g'))""".stripMargin

  /** DuckDB CTE chain computing [[graft.ops.TextAnalysis.gopherQuality]]
    * over `documents`, ending in `gq2` (all columns + gopher_keep).
    * Shared by the q32 and q34 oracles. Plain (non-interpolated)
    * literal so the regex backslashes stay single.
    */
  private val duckGopherCtes: String =
    """toks0 AS (
      |  SELECT doc_id, t.p - 1 AS p, t.w FROM documents,
      |    LATERAL (SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS w,
      |             generate_subscripts(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> ''), 1) AS p) t),
      |gr AS (
      |  SELECT doc_id, p, w,
      |    lead(w, 1) OVER (PARTITION BY doc_id ORDER BY p) AS w1,
      |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY p) AS w2
      |  FROM toks0),
      |bi AS (
      |  SELECT doc_id, max(c)::BIGINT AS max_bi, sum(c)::BIGINT AS tot_bi FROM (
      |    SELECT doc_id, w || ' ' || w1 AS gkey, count(*) AS c
      |    FROM gr WHERE w1 IS NOT NULL GROUP BY 1, 2) bq GROUP BY 1),
      |tri AS (
      |  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dup_tri,
      |         sum(c)::BIGINT AS tot_tri FROM (
      |    SELECT doc_id, w || ' ' || w1 || ' ' || w2 AS gkey, count(*) AS c
      |    FROM gr WHERE w2 IS NOT NULL GROUP BY 1, 2) tq GROUP BY 1),
      |wstats AS (
      |  SELECT doc_id, count(*) AS n_words, avg(length(w)) AS mwl,
      |    sum(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END)::BIGINT AS alpha_words,
      |    sum(CASE WHEN w IN ('the','be','to','of','and','that','have','with')
      |             THEN 1 ELSE 0 END)::BIGINT AS req_stop_hits
      |  FROM toks0 GROUP BY 1),
      |sym AS (
      |  SELECT doc_id, (len(regexp_extract_all(text, '#'))
      |    + len(regexp_extract_all(text, '\.\.\.')))::BIGINT AS n_symbols
      |  FROM documents),
      |gq AS (
      |  SELECT sym.doc_id,
      |    coalesce(n_words, 0) AS n_words,
      |    round(coalesce(mwl, 0.0), 4) AS mean_word_len,
      |    round(n_symbols::DOUBLE / greatest(coalesce(n_words, 0), 1), 4) AS symbol_word_ratio,
      |    round(coalesce(alpha_words, 0)::DOUBLE / greatest(coalesce(n_words, 0), 1), 4) AS frac_alpha_words,
      |    coalesce(req_stop_hits, 0) AS req_stop_hits,
      |    round(coalesce(max_bi, 0)::DOUBLE / greatest(coalesce(tot_bi, 0), 1), 4) AS top_bigram_frac,
      |    round(coalesce(dup_tri, 0)::DOUBLE / greatest(coalesce(tot_tri, 0), 1), 4) AS dup_trigram_frac
      |  FROM sym LEFT JOIN wstats ON sym.doc_id = wstats.doc_id
      |    LEFT JOIN bi ON sym.doc_id = bi.doc_id
      |    LEFT JOIN tri ON sym.doc_id = tri.doc_id),
      |gq2 AS (
      |  SELECT *, (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
      |    AND symbol_word_ratio <= 0.1 AND frac_alpha_words >= 0.8 AND req_stop_hits >= 2
      |    AND top_bigram_frac <= 0.2 AND dup_trigram_frac <= 0.3) AS gopher_keep
      |  FROM gq)""".stripMargin

  /** DuckDB CTE for the q11 composite quality score (same formula as
    * the q11 oracle) — `qual(doc_id, quality_score)`.
    */
  private val duckQualCte: String =
    """qual AS (
      |  SELECT doc_id,
      |    round(least(1.0, len(toksq)::DOUBLE / 100.0)
      |      * (CASE WHEN round(list_sum(list_transform(toksq, x -> length(x)))::DOUBLE
      |               / greatest(len(toksq), 1), 4) BETWEEN 3.0 AND 10.0
      |              THEN 1.0 ELSE 0.5 END)
      |      * (1.0 - least(round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))::DOUBLE
      |               / greatest(length(text), 1), 4) * 4, 0.5)), 4) AS quality_score
      |  FROM (SELECT doc_id, text,
      |          list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toksq
      |        FROM documents) tqq)""".stripMargin

  /** DuckDB CTE for the q12 marker-heuristic language —
    * `lang(doc_id, predicted_lang)`.
    */
  private val duckLangCte: String = {
    val en = TextAnalysis.enMarkers.map(m => s"'$m'").mkString(",")
    val id = TextAnalysis.idMarkers.map(m => s"'$m'").mkString(",")
    s"""lang AS (
       |  SELECT doc_id,
       |    CASE WHEN en_hits > id_hits THEN 'en'
       |         WHEN id_hits > en_hits THEN 'id'
       |         WHEN en_hits > 0 THEN 'en' ELSE 'und' END AS predicted_lang
       |  FROM (SELECT doc_id,
       |          len(list_filter(toksl, x -> x IN ($en))) AS en_hits,
       |          len(list_filter(toksl, x -> x IN ($id))) AS id_hits
       |        FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'),
       |                                         x -> x <> '') AS toksl
       |              FROM documents) tl) tl2)""".stripMargin
  }

  private def embDim(s: SparkSession, dir: String): Int =
    s.read.parquet(p(dir, "embeddings")).select(size(col("embedding"))).head().getInt(0)

  /** SQL-parity summarizer (q17): same selection logic as the kernel
    * summarizer but with the SQL-expressible sentence/token split
    * (no lookbehind) and integer-exact scoring — rank by
    * (sum of freqs / token count) with the x1.25 edge bonus, which
    * orders identically to the normalized form since max_freq is a
    * per-document constant. See oracleSql for the DuckDB twin.
    */
  private def summarizeSqlSpark(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(p(dir, "documents")).select(col("doc_id"), col("text"))
    // pinned ONCE (round-6): sents feeds three DAG branches (n_sent,
    // the token explode, the final join) and the token counts feed two
    // (freq, per-sentence sums) — unpinned, the sentence split ran 4x
    // and the tokenize 2x over the corpus. tokCnt collapses the token
    // explode to (doc, idx, word, c) so the occurrence arithmetic
    // below is exact long math on an aggregate: freq(word) = Σ c over
    // sentences, score_sum = Σ f·c over a sentence's distinct words
    // (= Σ f per occurrence, the round-5 form), n_words = Σ c.
    val sents = docs
      .select(col("doc_id"), posexplode(
        graft.functions.GraftFunctions.sentencesSql(col("text"))))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "sentence")
      .transform(Pin.once)
    val n = sents.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sent"))
    val tokCnt = sents.select(col("doc_id"), col("idx"),
        explode(graft.functions.GraftFunctions.tokenizeWords(col("sentence"))).as("word"))
      .groupBy(col("doc_id"), col("idx"), col("word")).agg(count(lit(1)).as("c"))
      .transform(Pin.once)
    val stop = graft.text.Stopwords.set.toSeq
    val freq = tokCnt.filter(!col("word").isin(stop.map(lit): _*))
      .groupBy(col("doc_id"), col("word")).agg(sum(col("c")).as("f"))
    val sentTok = tokCnt.join(freq, Seq("doc_id", "word"), "left")
      .groupBy(col("doc_id"), col("idx"))
      .agg(sum(coalesce(col("f"), lit(0L)) * col("c")).as("score_sum"),
        sum(col("c")).as("n_words"))
    val scored = sents.join(sentTok, Seq("doc_id", "idx"), "left")
      .join(n, Seq("doc_id"))
      .withColumn("base",
        coalesce(col("score_sum").cast("double") / col("n_words"), lit(0.0)))
      .withColumn("score",
        when(col("idx") < col("n_sent") * 0.2 || col("idx") > col("n_sent") * 0.8,
          col("base") * 1.25).otherwise(col("base")))
    val k = greatest(lit(1), floor(col("n_sent") * 0.3)).cast("int")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("idx"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("doc_id"))
      .agg(array_join(
        sort_array(collect_list(struct(col("idx"), col("sentence"))))
          .getField("sentence"), " ").as("summary"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracles — same table names as the parquet files in the sf
    * dir. Only SQL-expressible queries appear; kernel queries (x*) get
    * rows-only checks.
    */
  def oracleSql: Map[String, String] = {
    val base = baseOracleSql
    // the skew-proof variants must be bit-equal to their plain twins:
    // same oracle text, the strongest equivalence the driver can check
    base +
      ("q39_sessionize_skew" -> base("q35_sessionize")) +
      ("q40_asof_skew" -> base("q36_asof_join"))
  }

  private def baseOracleSql: Map[String, String] = Map(
    "q01_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q02_join_revenue_by_priority" ->
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q03_window_topk_orders" ->
      """SELECT o_custkey, o_orderkey, price, rn FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q04_events_hourly" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q05_semi_anti_join" ->
      """WITH w AS (
        |  SELECT c_mktsegment, count(*) AS with_orders FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY 1),
        |wo AS (
        |  SELECT c_mktsegment, count(*) AS without_orders FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY 1)
        |SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
        |  coalesce(with_orders, 0) AS with_orders,
        |  coalesce(without_orders, 0) AS without_orders
        |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment
        |ORDER BY 1""".stripMargin,

    "q06_broadcast_star_join" ->
      """SELECT r_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_bal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q07_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\W+'), x -> x <> '')) AS n_tokens,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q08_word_freq" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                            x -> x <> '')) AS word
        |  FROM documents) t
        |GROUP BY 1 ORDER BY n DESC, word LIMIT 100""".stripMargin,

    "q09_exact_dedup" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
        |  count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,

    "q10_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q11_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(toks) AS n_words,
        |  round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |        / greatest(len(toks), 1), 4) AS mean_word_len,
        |  round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))::DOUBLE
        |        / greatest(length(text), 1), 4) AS punct_ratio,
        |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
        |        / greatest(length(text), 1), 4) AS digit_ratio,
        |  round(least(1.0, len(toks)::DOUBLE / 100.0)
        |        * (CASE WHEN round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |                 / greatest(len(toks), 1), 4) BETWEEN 3.0 AND 10.0
        |                THEN 1.0 ELSE 0.5 END)
        |        * (1.0 - least(round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))::DOUBLE
        |                 / greatest(length(text), 1), 4) * 4, 0.5)), 4) AS quality_score
        |FROM t ORDER BY doc_id""".stripMargin,

    "q12_langid" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
         |  FROM documents)
         |SELECT doc_id,
         |  len(list_filter(toks, x -> x IN (${TextAnalysis.enMarkers.map(m => s"'$m'").mkString(",")}))) AS en_hits,
         |  len(list_filter(toks, x -> x IN (${TextAnalysis.idMarkers.map(m => s"'$m'").mkString(",")}))) AS id_hits,
         |  CASE
         |    WHEN len(list_filter(toks, x -> x IN (${TextAnalysis.enMarkers.map(m => s"'$m'").mkString(",")})))
         |       > len(list_filter(toks, x -> x IN (${TextAnalysis.idMarkers.map(m => s"'$m'").mkString(",")}))) THEN 'en'
         |    WHEN len(list_filter(toks, x -> x IN (${TextAnalysis.idMarkers.map(m => s"'$m'").mkString(",")})))
         |       > len(list_filter(toks, x -> x IN (${TextAnalysis.enMarkers.map(m => s"'$m'").mkString(",")}))) THEN 'id'
         |    WHEN len(list_filter(toks, x -> x IN (${TextAnalysis.enMarkers.map(m => s"'$m'").mkString(",")}))) > 0 THEN 'en'
         |    ELSE 'und' END AS predicted_lang
         |FROM t ORDER BY doc_id""".stripMargin,

    "q13_clamp_nav" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(list_transform(string_split_regex(text, '[.!?]\s+'),
        |        x -> trim(x)), x -> x <> '')) AS total
        |  FROM documents)
        |SELECT doc_id, total,
        |  least((doc_id % total) + 1, total - 1) AS next_pos,
        |  greatest((doc_id % total) - 1, 0) AS prev_pos,
        |  greatest(0, least((doc_id % 97) - 5, total - 1)) AS goto_pos
        |FROM t WHERE total > 0 ORDER BY doc_id""".stripMargin,

    "q14_scope_concat" ->
      """SELECT lang, count(*) AS n_docs,
        |  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_stopword_ratio" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
         |  FROM documents)
         |SELECT doc_id,
         |  len(list_filter(toks, x -> x IN (${(TextAnalysis.enMarkers ++ TextAnalysis.idMarkers).map(m => s"'$m'").mkString(",")}))) AS marker_tokens,
         |  len(toks) AS total_tokens,
         |  round(len(list_filter(toks, x -> x IN (${(TextAnalysis.enMarkers ++ TextAnalysis.idMarkers).map(m => s"'$m'").mkString(",")})))::DOUBLE
         |        / greatest(len(toks), 1), 4) AS marker_ratio
         |FROM t ORDER BY doc_id""".stripMargin,

    "q16_embed_topk" ->
      """SELECT vec_id,
        |  round(list_dot_product(embedding, q)
        |    / (sqrt(list_dot_product(embedding, embedding))
        |       * sqrt(list_dot_product(q, q))), 4) AS sim
        |FROM embeddings,
        |  (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
        |WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "q18_set_ops" ->
      """WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
        |u AS (SELECT o_custkey FROM hi UNION SELECT o_custkey FROM orders
        |      WHERE o_orderpriority = '1-URGENT'),
        |i AS (SELECT o_custkey FROM hi INTERSECT SELECT o_custkey FROM orders
        |      WHERE o_orderpriority = '1-URGENT'),
        |e AS (SELECT o_custkey FROM hi EXCEPT SELECT o_custkey FROM orders
        |      WHERE o_orderpriority = '1-URGENT')
        |SELECT op, count(*) AS n, sum(o_custkey)::BIGINT AS key_sum FROM (
        |  SELECT 'union' AS op, o_custkey FROM u
        |  UNION ALL SELECT 'intersect', o_custkey FROM i
        |  UNION ALL SELECT 'except', o_custkey FROM e) t
        |GROUP BY op ORDER BY op""".stripMargin,

    "q19_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS cnt, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,

    "q20_date_parts" ->
      """SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q21_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q22_pivot" ->
      """SELECT year(o_orderdate) AS y,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS "1-URGENT",
        |  round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS "2-HIGH",
        |  round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS "3-MEDIUM",
        |  round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS "4-NOT SPECIFIED",
        |  round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS "5-LOW"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q23_stats_agg" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q25_cube_grouping" ->
      """SELECT grouping_id(o_orderstatus, o_orderpriority) AS gid,
        |  o_orderstatus, o_orderpriority,
        |  count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_custkey <= 100
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,

    "q26_conditional_agg" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        |  round(sum(CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0.0 END), 2)
        |    AS taxed_value,
        |  bool_or(l_quantity > 49) AS any_bulk,
        |  bool_and(l_quantity > 0) AS all_positive
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q27_string_funcs" ->
      """SELECT c_custkey,
        |  regexp_extract(c_name, '([0-9]+)$', 1) AS name_num,
        |  substring(c_mktsegment, 1, 3) AS seg3,
        |  instr(c_name, '00') AS zz_pos,
        |  lpad(c_custkey::VARCHAR, 8, '0') AS padded,
        |  concat_ws('|', c_mktsegment, c_name) AS joined
        |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin,

    "q28_window_ranks" ->
      """SELECT o_orderpriority, o_orderkey,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 4) AS pr,
        |  round(cume_dist() OVER w, 4) AS cd,
        |  round(first_value(o_totalprice) OVER w, 2) AS cheapest
        |FROM orders WHERE o_custkey <= 120
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q29_html_strip" ->
      s"""WITH pg AS (
         |  SELECT doc_id, '$pageHead' || text || '${pageMid + pageTail}' AS html
         |  FROM documents),
         |st AS (
         |  SELECT doc_id, ${duckStrip("html")} AS visible_text FROM pg)
         |SELECT doc_id, visible_text, length(visible_text) AS n_chars
         |FROM st ORDER BY doc_id""".stripMargin,

    "q30_html_main_content" ->
      s"""WITH pg AS (
         |  SELECT doc_id, '$pageHead' || text || '${pageMid + pageTail}' AS html
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, s.idx - 1 AS block_pos, s.block AS block_html FROM pg,
         |    LATERAL (SELECT unnest(string_split_regex(html, '${graft.ops.Html.blockSplitRe}')) AS block,
         |                    generate_subscripts(string_split_regex(html, '${graft.ops.Html.blockSplitRe}'), 1) AS idx) s),
         |t AS (
         |  SELECT doc_id, block_pos,
         |    ${duckStrip("block_html")} AS block_text,
         |    len(regexp_extract_all(block_html, '(?i)<a[\\s>]')) AS n_links
         |  FROM b),
         |sc AS (
         |  SELECT doc_id, block_pos, block_text, n_links,
         |    CASE WHEN block_text = '' THEN 0
         |         ELSE len(string_split(block_text, ' ')) END AS n_words
         |  FROM t),
         |k AS (
         |  SELECT *, (n_words >= 5 AND n_links * 5 <= n_words) AS keep FROM sc)
         |SELECT doc_id, count(*) AS n_blocks,
         |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  coalesce(string_agg(CASE WHEN keep THEN block_text END,
         |                      chr(10) || chr(10) ORDER BY block_pos), '') AS main_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q31_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                                    x -> x <> '')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
        |    round(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dfq.df + 1)) + 1), 4) AS tfidf
        |  FROM tf JOIN dfq USING (word), n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY tfidf DESC, word) AS rn
        |  FROM scored)
        |SELECT doc_id, word, tf, df, tfidf, rn FROM ranked
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "q32_gopher_quality" ->
      s"""WITH $duckGopherCtes
         |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
         |  frac_alpha_words, req_stop_hits, top_bigram_frac,
         |  dup_trigram_frac, gopher_keep
         |FROM gq2 ORDER BY doc_id""".stripMargin,

    "q33_pii_scrub" ->
      """WITH pii AS (
        |  SELECT doc_id, text || ' contact user' || doc_id::VARCHAR
        |    || '@example.com or +62-555-'
        |    || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
        |    || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |    || ' via https://ex.org/d/' || doc_id::VARCHAR || ' now' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, 'https?://[^\s]+'))::BIGINT AS n_urls,
        |  len(regexp_extract_all(regexp_replace(t, 'https?://[^\s]+', ' ', 'g'),
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(regexp_replace(t, 'https?://[^\s]+', ' ', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        |FROM pii ORDER BY doc_id""".stripMargin,

    "q34_curation_verdict" ->
      s"""WITH $duckGopherCtes,
         |$duckQualCte,
         |$duckLangCte,
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
         |SELECT d.doc_id,
         |  (k.doc_id IS NOT NULL) AS is_exact_keeper,
         |  qual.quality_score,
         |  lang.predicted_lang,
         |  gq2.gopher_keep,
         |  (k.doc_id IS NOT NULL AND qual.quality_score >= 0.3
         |   AND lang.predicted_lang IN ('en', 'id') AND gq2.gopher_keep) AS keep
         |FROM documents d
         |LEFT JOIN keepers k ON d.doc_id = k.doc_id
         |JOIN qual ON d.doc_id = qual.doc_id
         |JOIN lang ON d.doc_id = lang.doc_id
         |JOIN gq2 ON d.doc_id = gq2.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q35_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sflag AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_idx
        |  FROM f)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(us) AS session_start_us, max(us) AS session_end_us,
        |  round(sum(value), 2) AS total_value
        |FROM sflag GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,

    "q36_asof_join" ->
      """WITH pch AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS purchase_us
        |  FROM events WHERE event_type = 'purchase'),
        |clk AS (
        |  SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_event_id
        |  FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.purchase_us,
        |  c.click_us, c.click_event_id,
        |  p.purchase_us - c.click_us AS gap_us
        |FROM pch p ASOF LEFT JOIN clk c
        |  ON p.user_id = c.user_id AND p.purchase_us >= c.click_us
        |ORDER BY p.event_id""".stripMargin,

    "q37_range_join" ->
      """WITH s AS (
        |  SELECT event_id AS signup_id, user_id, epoch_us(ts) AS signup_us
        |  FROM events WHERE event_type = 'signup'),
        |pch AS (
        |  SELECT user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT s.signup_id, s.user_id, s.signup_us,
        |  count(pch.p_us) AS n_purchases
        |FROM s LEFT JOIN pch ON s.user_id = pch.user_id
        |  AND pch.p_us >= s.signup_us AND pch.p_us < s.signup_us + 3600000000
        |GROUP BY 1, 2, 3 ORDER BY signup_id""".stripMargin,

    "q38_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                            x -> x <> '')) AS word
        |  FROM documents),
        |n AS (SELECT count(*) AS total FROM toks),
        |c AS (SELECT word, count(*) AS n FROM toks GROUP BY 1)
        |SELECT c.word, c.n FROM c, n
        |WHERE c.n > n.total / 65.0 ORDER BY c.word""".stripMargin,

    "q24_window_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders WHERE o_custkey <= 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "x08_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE [array_to_string(toks, ' ')] END) AS sh
        |  FROM t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 250
        |WHERE a.doc_id % 4 = 0
        |ORDER BY 1, 2""".stripMargin,

    "x09_mm_metadata" ->
      """SELECT media_ref, kind, width, height, n_frames, sample_rate, n_samples, n_bytes FROM (
        |  SELECT 'vid-' || lpad(i::VARCHAR, 4, '0') AS media_ref, 'video' AS kind,
        |         324 AS width, 14 AS height, i % 6 + 3 AS n_frames,
        |         0 AS sample_rate, 0 AS n_samples, 8 + (i % 6 + 3) * 4548 AS n_bytes
        |  FROM range(0, 20, 2) t(i)
        |  UNION ALL
        |  SELECT 'aud-' || lpad(i::VARCHAR, 4, '0'), 'audio', 0, 0, 0, 8000,
        |         4000 + i * 37 % 8000, 12 + 4000 + i * 37 % 8000
        |  FROM range(1, 20, 2) t(i)) u
        |ORDER BY media_ref""".stripMargin,

    "x10_mm_frames" ->
      """SELECT 'vid-' || lpad(i::VARCHAR, 4, '0') AS media_ref,
        |  (i % 6 + 3 + 1) // 2 AS n_sampled, 0 AS first_frame,
        |  ((i % 6 + 3 - 1) // 2) * 2 AS last_frame
        |FROM range(0, 20, 2) t(i) ORDER BY media_ref""".stripMargin,

    "x13_scope_page" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, u.i AS page,
        |         array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS scope_text
        |  FROM t, LATERAL unnest(generate_series(0, (len(toks)-1)//10)) u(i)
        |  WHERE len(toks) > 0)
        |SELECT doc_id, page, scope_text FROM c ORDER BY doc_id, page""".stripMargin,

    "x18_extract_text_spans" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, u.i AS "offset",
        |         ' ' || array_to_string(toks[u.i*10+1 : u.i*10+10], '  ') || ' ' AS raw
        |  FROM t, LATERAL unnest(generate_series(0, (len(toks)-1)//10)) u(i)
        |  WHERE len(toks) > 0)
        |SELECT doc_id, 'text' AS kind,
        |       trim(regexp_replace(raw, '\s+', ' ', 'g')) AS text,
        |       '' AS media_ref, "offset",
        |       CASE WHEN len(trim(raw)) > 50 THEN 90.0::DOUBLE ELSE 70.0::DOUBLE END
        |         AS confidence
        |FROM c ORDER BY doc_id, "offset"""".stripMargin,

    "q17_summarize_sql" ->
      s"""WITH ${duckSummarizerCtes("documents")}
         |SELECT doc_id,
         |  string_agg(sentence, ' ' ORDER BY idx) AS summary
         |FROM ranked
         |WHERE rn <= greatest(1, floor(n_sent * 0.3)::INT)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // x07's Spark side is the KERNEL summarizer (lookbehind split)
    // over the synthesized multi-sentence texts, punct-normalized;
    // this oracle rebuilds the same texts and runs the q17 SQL chain
    // identically normalized — kernel==SQL selection equality.
    // the flagship span-equality check (north rule: kind, text,
    // media_ref, order): the oracle IS the generator's golden span
    // table, dumped by Verify from gen.Corpus.truthSpans — engine
    // output on the left, generator truth on the right, hash-equal or
    // the round fails. Confidence (engine-internal) is not in the
    // north-rule tuple and not in the projection.
    "x01_extract_spans" ->
      """SELECT doc_id, kind, text, media_ref, "offset"
        |FROM '__VERIFY_OUT__/truth_spans/*.parquet'
        |ORDER BY doc_id, "offset"""".stripMargin,

    // decode+feature vs encode-side truth (media_truth dump): layout
    // geometry + byte-mean intensity with the query's exact rounding
    "x11_mm_image_features" ->
      """SELECT media_ref, width, height, mean_intensity
        |FROM '__VERIFY_OUT__/media_truth/*.parquet'
        |ORDER BY media_ref""".stripMargin,

    // multi-page pdf concat: page texts are literal and identity under
    // groundTruth (lowercase renderable, shorter than the wrap width),
    // so the expected "\n\n" join is pure SQL over range()
    "x16_pdf_extract" ->
      """SELECT printf('pd-%04d', i) AS doc_id,
        |  string_agg('page ' || p::VARCHAR || ' of doc ' || i::VARCHAR,
        |             chr(10) || chr(10) ORDER BY p) AS text,
        |  1::INTEGER AS media_count
        |FROM generate_series(0, 7) AS g(i)
        |JOIN generate_series(0, 3) AS t(p) ON p <= i % 3 + 1
        |GROUP BY i
        |ORDER BY doc_id""".stripMargin,

    // S10 health: every field is a pinned deterministic capability
    // (engine probe decodes the smoke page in every language, pdf path
    // page-counts a synthed container, manifest counters over the
    // fixed 8-doc/4-bucket committed run — the x28/x31 "oracle the
    // guarantee as constants" pattern). A broken engine/pdf/manifest
    // path flips status/counters and the hash mismatches.
    "x21_health" ->
      """SELECT 'success' AS status, 'OCR engine is healthy' AS message,
        |  'graft-glyph-matrix/40' AS engine_version,
        |  'eng,ind' AS languages, true AS pdf_ok,
        |  4::BIGINT AS committed_buckets, 8::BIGINT AS committed_docs""".stripMargin,

    "x07_summarize_kernel" ->
      s"""WITH tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\W+'), x -> x <> '') AS toks
         |  FROM documents WHERE len(list_filter(string_split_regex(text, '\\W+'), x -> x <> '')) > 24),
         |ch AS (
         |  SELECT doc_id, u.i AS cidx,
         |         array_to_string(toks[u.i*8+1 : u.i*8+8], ' ') AS chunk
         |  FROM tk, LATERAL unnest(generate_series(0, (len(toks)-1)//8)) u(i)),
         |synth AS (
         |  SELECT doc_id, string_agg(chunk, '. ' ORDER BY cidx) || '.' AS text
         |  FROM ch GROUP BY 1
         |  HAVING length(string_agg(chunk, '. ' ORDER BY cidx) || '.') >= 100),
         |${duckSummarizerCtes("synth")},
         |gaps AS (
         |  SELECT doc_id, score - lag(score) OVER (PARTITION BY doc_id ORDER BY score) AS gap
         |  FROM scored),
         |elig AS (SELECT doc_id FROM gaps GROUP BY 1 HAVING min(gap) > 1e-9)
         |SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(
         |    string_agg(sentence, ' ' ORDER BY idx),
         |    '[.!?]', '', 'g'), '\\s+', ' ', 'g')) AS summary
         |FROM ranked JOIN elig USING (doc_id)
         |WHERE rn <= greatest(1, floor(n_sent * 0.3)::INT)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the OCR-content composition vs GENERATOR truth: the q17 SQL
    // summarize chain over truth_spans (span text == pipeline OCR
    // output, independently asserted by x01), keyed per (doc, page)
    // through a composite key; same guards + near-tie eligibility as
    // x07 on both engines
    "x14_scope_page_summary_ocr" ->
      s"""WITH ts AS (
         |  SELECT doc_id AS did, "offset" AS page, text
         |  FROM '__VERIFY_OUT__/truth_spans/*.parquet'),
         |synth AS (
         |  SELECT did || '#' || page::VARCHAR AS doc_id, text
         |  FROM ts WHERE length(text) >= 100),
         |${duckSummarizerCtes("synth")},
         |gaps AS (
         |  SELECT doc_id, score - lag(score) OVER (PARTITION BY doc_id ORDER BY score) AS gap
         |  FROM scored),
         |elig AS (SELECT doc_id FROM gaps GROUP BY 1 HAVING min(gap) > 1e-9),
         |n4 AS (SELECT doc_id FROM n WHERE n_sent > 3)
         |SELECT split_part(r.doc_id, '#', 1) AS doc_id,
         |  split_part(r.doc_id, '#', 2)::INTEGER AS page,
         |  s2.text AS scope_text,
         |  trim(regexp_replace(regexp_replace(
         |    string_agg(sentence, ' ' ORDER BY idx),
         |    '[.!?]', '', 'g'), '\\s+', ' ', 'g')) AS summary
         |FROM ranked r
         |JOIN elig USING (doc_id) JOIN n4 USING (doc_id)
         |JOIN synth s2 ON s2.doc_id = r.doc_id
         |WHERE rn <= greatest(1, floor(n_sent * 0.3)::INT)
         |GROUP BY r.doc_id, s2.text
         |ORDER BY doc_id, page""".stripMargin,

    "x12_scope_column_summary" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, u.i AS idx,
        |         array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS chunk
        |  FROM t, LATERAL unnest(generate_series(0, (len(toks)-1)//10)) u(i)
        |  WHERE len(toks) > 0)
        |SELECT doc_id AS media_ref, (idx // 3)::INT AS column_id,
        |       string_agg(chunk, chr(10) || chr(10) ORDER BY idx) AS scope_text
        |FROM c GROUP BY 1, 2 ORDER BY media_ref, column_id""".stripMargin,

    // NOTE: the recursive term enumerates (node, reachable-node) pairs
    // — quadratic per component, fine at the pinned verify corpora
    // (components here are <= a few docs); the Spark side is the
    // linear-per-round propagation and is what runs at scale.
    "q47_neardup_components" ->
      """WITH RECURSIVE p AS (
        |  SELECT id_a, id_b FROM read_parquet('__VERIFY_OUT__/x04_minhash_lsh/*.parquet')),
        |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |r(n, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM e JOIN r ON e.b = r.n)
        |SELECT n AS doc_id, min(m)::BIGINT AS component
        |FROM r GROUP BY n ORDER BY n""".stripMargin,

    "q93_cluster_keeper" ->
      """WITH RECURSIVE p AS (
        |  SELECT id_a, id_b FROM read_parquet('__VERIFY_OUT__/x04_minhash_lsh/*.parquet')),
        |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        |r(n, m) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.a, r.m FROM e JOIN r ON e.b = r.n),
        |comp AS (SELECT n AS doc_id, min(m)::BIGINT AS component FROM r GROUP BY n),
        |sc AS (
        |  SELECT doc_id, len(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> ''))::BIGINT AS score
        |  FROM documents),
        |j AS (
        |  SELECT comp.doc_id, comp.component, sc.score
        |  FROM comp JOIN sc USING (doc_id)),
        |k AS (
        |  SELECT component, doc_id AS survivor FROM j
        |  QUALIFY row_number() OVER (
        |    PARTITION BY component ORDER BY score DESC, doc_id ASC) = 1)
        |SELECT j.doc_id, j.component, j.score,
        |  (j.doc_id = k.survivor) AS keep
        |FROM j JOIN k USING (component) ORDER BY j.doc_id""".stripMargin,

    "q46_lm_cross_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
        |  FROM documents),
        |refc AS (
        |  SELECT word, count(*) AS c FROM tok WHERE doc_id % 3 = 0 GROUP BY 1),
        |consts AS (
        |  SELECT coalesce(sum(c), 0) + count(*) AS denom FROM refc)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  round(avg(-ln((coalesce(r.c, 0) + 1) / greatest(consts.denom, 1)::DOUBLE)), 4)
        |    AS cross_entropy
        |FROM tok t LEFT JOIN refc r ON t.word = r.word, consts
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "q44_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(toks) >= 8 THEN array_to_string(toks[u.i+1 : u.i+8], ' ')
        |         ELSE array_to_string(toks, ' ') END AS gram
        |  FROM tk, LATERAL unnest(generate_series(0, greatest(len(toks) - 8, 0))) u(i)
        |  WHERE len(toks) >= 8 OR u.i = 0),
        |hits AS (
        |  SELECT d.doc_id, count(DISTINCT d.gram) AS n_hits
        |  FROM g d
        |  WHERE d.gram IN (SELECT gram FROM g WHERE doc_id % 97 = 0)
        |  GROUP BY 1)
        |SELECT t.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
        |  coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM tk t LEFT JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q45_paragraph_dedup" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 50 = 0),
        |t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\W+'), x -> x <> '') AS toks
        |  FROM src WHERE len(list_filter(string_split_regex(text, '\W+'), x -> x <> '')) > 0),
        |c AS (
        |  SELECT doc_id, u.i AS idx,
        |         array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS para
        |  FROM t, LATERAL unnest(generate_series(0, (len(toks)-1)//10)) u(i)),
        |keyed AS (
        |  SELECT doc_id, idx, para,
        |    md5(trim(regexp_replace(lower(para), '\s+', ' ', 'g'))) AS h
        |  FROM c),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
        |  FROM keyed)
        |SELECT doc_id, idx, para FROM rk WHERE rn = 1
        |ORDER BY doc_id, idx""".stripMargin,

    // The windowed exact-substring rule is a pure function of
    // (gram -> occurrence order); the oracle keeps gram TEXT as the
    // group key (Spark groups the 16-byte md5 — same grouping, no
    // text shuffle) and mirrors the fixed-k as-of coverage window.
    "q48_substring_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, u.i AS pos, toks[u.i+1] AS tok
        |  FROM tk, LATERAL unnest(generate_series(0, len(toks)-1)) u(i)
        |  WHERE len(toks) > 0),
        |g AS (
        |  SELECT doc_id, u.i AS pos, array_to_string(toks[u.i+1 : u.i+8], ' ') AS gram
        |  FROM tk, LATERAL unnest(generate_series(0, len(toks)-8)) u(i)
        |  WHERE len(toks) >= 8),
        |rk AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
        |         count(*) OVER (PARTITION BY gram) AS n
        |  FROM g),
        |dup AS (SELECT doc_id, pos FROM rk WHERE n > 1 AND rn > 1),
        |ev AS (
        |  SELECT doc_id, pos, 1 AS side, tok FROM tok
        |  UNION ALL
        |  SELECT doc_id, pos, 0 AS side, NULL AS tok FROM dup),
        |cov AS (
        |  SELECT doc_id, pos, side, tok,
        |    max(CASE WHEN side = 0 THEN pos END) OVER (
        |      PARTITION BY doc_id ORDER BY pos, side
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_dup
        |  FROM ev),
        |m AS (
        |  SELECT doc_id, pos, tok,
        |    (last_dup IS NOT NULL AND pos - last_dup < 8) AS covered
        |  FROM cov WHERE side = 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         sum(CASE WHEN covered THEN 1 ELSE 0 END) AS n_removed,
        |         coalesce(string_agg(CASE WHEN NOT covered THEN tok END, ' ' ORDER BY pos), '')
        |           AS kept_text
        |  FROM m GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
        |       coalesce(a.n_removed, 0)::BIGINT AS n_removed,
        |       coalesce(a.kept_text, '') AS kept_text
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q49_bloom_semi_join" ->
      """SELECT l_returnflag, count(*)::BIGINT AS cnt,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q50_url_canonicalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
        |    source || '.Example.' ||
        |    CASE WHEN doc_id % 5 = 0 THEN 'co.uk' ELSE 'com' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
        |    '/Pg/' || doc_id::VARCHAR ||
        |    '?id=' || doc_id::VARCHAR ||
        |    '&utm_source=feed&utm_campaign=x' ||
        |    CASE WHEN doc_id % 2 = 0 THEN '&gclid=abc' ELSE '' END ||
        |    '&lang=' || lang || '#frag' AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u),
        |s2 AS (SELECT doc_id,
        |         lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) ||
        |         regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS u
        |       FROM s1),
        |s3 AS (SELECT doc_id,
        |         regexp_replace(regexp_replace(u,
        |           '^(https://[^/:?#]*):443([/?#].*)?$', '\1\2'),
        |           '^(http://[^/:?#]*):80([/?#].*)?$', '\1\2') AS u
        |       FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(u, '^(https?://)www\.', '\1') AS u FROM s3),
        |s5 AS (SELECT doc_id,
        |         regexp_replace(u,
        |           '([?&])((?:utm_[a-zA-Z0-9_]+|gclid|fbclid|msclkid|ref)=[^&#]*&?)+',
        |           '\1', 'g') AS u
        |       FROM s4),
        |s6 AS (SELECT doc_id, regexp_replace(u, '[?&]+$', '') AS canon_url FROM s5),
        |h AS (SELECT doc_id, canon_url,
        |        regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
        |      FROM s6)
        |SELECT doc_id, canon_url, host,
        |  coalesce(
        |    nullif(regexp_extract(host, '([^.]+\.(?:co|com|org|net|ac|gov)\.[a-z][a-z])$', 1), ''),
        |    nullif(regexp_extract(host, '([^.]+\.[^.]+)$', 1), ''),
        |    host) AS domain
        |FROM h ORDER BY doc_id""".stripMargin,

    "q51_det_shuffle" ->
      """SELECT doc_id, pos, (pos % 8)::INT AS shard FROM (
        |  SELECT doc_id,
        |    (row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) - 1)::BIGINT AS pos
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q52_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\W+'), x -> x <> '') AS toks
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(text, '\W+'), x -> x <> '')) > 0),
        |c AS (
        |  SELECT doc_id, u.i AS idx,
        |         array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS line
        |  FROM t, LATERAL unnest(generate_series(0, (len(toks)-1)//10)) u(i)),
        |mx AS (SELECT doc_id, max(idx) AS m FROM c GROUP BY 1),
        |pl AS (
        |  SELECT c.doc_id, (mx.m + 1) AS idx, c.line
        |  FROM c JOIN mx USING (doc_id) WHERE c.idx = 0 AND c.doc_id % 4 = 0),
        |allr AS (SELECT * FROM c UNION ALL SELECT * FROM pl),
        |rk AS (
        |  SELECT doc_id, idx, line,
        |    row_number() OVER (
        |      PARTITION BY doc_id, md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g')))
        |      ORDER BY idx) AS rn
        |  FROM allr)
        |SELECT doc_id, idx, line FROM rk WHERE rn = 1
        |ORDER BY doc_id, idx""".stripMargin,

    "q53_clean_text" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    'Cafe' || chr(769) || '  ' || chr(7) || text ||
        |    CASE WHEN doc_id % 2 = 0 THEN ' A' || chr(778) ELSE '' END ||
        |    chr(13) || chr(10) || chr(10) || chr(10) || ' end ' AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, length(t) AS n_before,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      nfc_normalize(t),
        |      '\r\n?', chr(10), 'g'),
        |      '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
        |      '[^\S\n]+', ' ', 'g'),
        |      ' ?\n ?', chr(10), 'g'),
        |      '\n{3,}', chr(10) || chr(10), 'g'),
        |      '^\s+|\s+$', '', 'g') AS cleaned
        |  FROM m)
        |SELECT doc_id, n_before::BIGINT AS n_before, cleaned,
        |       length(cleaned)::BIGINT AS n_after
        |FROM c ORDER BY doc_id""".stripMargin,

    // Bigram Laplace: p(w2|w1) = (c2+1)/(ctx(w1)+V), ctx = the
    // context's total bigram count (a model re-agg), V = distinct
    // reference words; the round(4) absorbs libm ulps as in q46.
    "q54_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, toks[u.i+1] AS w1, toks[u.i+2] AS w2
        |  FROM tk, LATERAL unnest(generate_series(0, len(toks)-2)) u(i)
        |  WHERE len(toks) >= 2),
        |c2 AS (
        |  SELECT w1, w2, count(*) AS c FROM bg WHERE doc_id % 3 = 0 GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c) AS cc FROM c2 GROUP BY 1),
        |v AS (
        |  SELECT greatest(count(DISTINCT u.w), 1) AS vv
        |  FROM tk, LATERAL unnest(toks) u(w) WHERE doc_id % 3 = 0)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |  round(avg(-ln((coalesce(p.c, 0) + 1)::DOUBLE /
        |                (coalesce(x.cc, 0) + v.vv)::DOUBLE)), 4) AS cross_entropy
        |FROM bg b
        |LEFT JOIN c2 p ON b.w1 = p.w1 AND b.w2 = p.w2
        |LEFT JOIN c1 x ON b.w1 = x.w1, v
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "q55_domain_cap" ->
      """WITH d AS (
        |  SELECT doc_id, source || (doc_id % 3)::VARCHAR || '.com' AS domain
        |  FROM documents),
        |rk AS (
        |  SELECT domain, doc_id,
        |    row_number() OVER (PARTITION BY domain
        |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM d)
        |SELECT domain, doc_id, rn FROM rk WHERE rn <= 5
        |ORDER BY domain, rn""".stripMargin,

    "q56_mixture_sample" ->
      """WITH q AS (
        |  -- DOUBLE arithmetic in Spark's exact order (rate first,
        |  -- then * n): a DECIMAL ceil could differ by 1 when rate*n
        |  -- grazes an integer
        |  SELECT lang,
        |    ceil(((ascii(lang) % 5 + 1)::DOUBLE / 10.0) * count(*)) AS quota
        |  FROM documents GROUP BY 1),
        |rk AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents)
        |SELECT rk.lang, doc_id, rn FROM rk JOIN q USING (lang)
        |WHERE rn <= q.quota ORDER BY lang, rn""".stripMargin,

    // Winnowing selects by STRING min over md5 hex — identical bytes
    // in both engines, so the chosen fingerprints match exactly.
    "q61_winnow_fingerprints" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, len(toks) - 4 AS ng, u.i AS gpos,
        |         md5(array_to_string(toks[u.i+1 : u.i+5], ' ')) AS h
        |  FROM tk, LATERAL unnest(generate_series(0, len(toks)-5)) u(i)
        |  WHERE len(toks) >= 5),
        |wm AS (
        |  SELECT doc_id, ng, gpos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY gpos
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM g)
        |SELECT DISTINCT doc_id, fp FROM wm
        |WHERE gpos >= least(4, ng) - 1
        |ORDER BY doc_id, fp""".stripMargin,

    // Counts-only NB: the oracle trains the SAME model. pred comes
    // from the ROUNDED log-odds in both engines; the round(4)
    // absorbs float sum-order differences as in q46/q54.
    "q58_nb_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
        |  FROM documents),
        |lab AS (
        |  SELECT doc_id, n_chars >= 300 AS y FROM documents WHERE doc_id % 3 = 0),
        |m AS (
        |  SELECT word,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS cp,
        |    sum(CASE WHEN y THEN 0 ELSE 1 END) AS cn
        |  FROM tok JOIN lab USING (doc_id) GROUP BY 1),
        |tot AS (
        |  SELECT coalesce(sum(cp), 0) AS tp, coalesce(sum(cn), 0) AS tn,
        |         greatest(count(*), 1) AS v
        |  FROM m),
        |pri AS (
        |  SELECT greatest(sum(CASE WHEN y THEN 1 ELSE 0 END), 1) AS np,
        |         greatest(sum(CASE WHEN y THEN 0 ELSE 1 END), 1) AS nn
        |  FROM lab),
        |sc AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |    round(ln(pri.np::DOUBLE / pri.nn::DOUBLE) +
        |      sum(ln((coalesce(m.cp, 0) + 1)::DOUBLE / (tot.tp + tot.v)::DOUBLE)
        |        - ln((coalesce(m.cn, 0) + 1)::DOUBLE / (tot.tn + tot.v)::DOUBLE)),
        |      4) AS log_odds
        |  FROM tok t LEFT JOIN m USING (word), tot, pri
        |  GROUP BY t.doc_id, pri.np, pri.nn, tot.tp, tot.tn, tot.v)
        |SELECT doc_id, n_tokens, log_odds, log_odds > 0 AS pred
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q59_slice_kl" ->
      """WITH sw AS (
        |  SELECT source, word, count(*) AS csw FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
        |    FROM documents) GROUP BY 1, 2),
        |cw AS (SELECT word, sum(csw) AS cw FROM sw GROUP BY 1),
        |ns AS (SELECT source, sum(csw) AS ns FROM sw GROUP BY 1),
        |n AS (SELECT greatest(coalesce(sum(cw), 0), 1)::DOUBLE AS n FROM cw)
        |SELECT s.source, max(x.ns)::BIGINT AS n_tokens,
        |  round(sum((csw::DOUBLE / x.ns::DOUBLE) *
        |    ln((csw::DOUBLE / x.ns::DOUBLE) / (c.cw::DOUBLE / n.n))), 4) AS kl
        |FROM sw s JOIN cw c USING (word) JOIN ns x USING (source), n
        |GROUP BY s.source ORDER BY s.source""".stripMargin,

    // JSD via the same shared-vocab + closed-form-unshared-mass split;
    // n_shared is an exact integer cross-check, jsd rounds to 4
    "q62_pairwise_jsd" ->
      """WITH sw AS (
        |  SELECT source, word, count(*) AS c FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
        |    FROM documents) GROUP BY 1, 2),
        |ns AS (SELECT source, sum(c) AS ns FROM sw GROUP BY 1),
        |p AS (
        |  SELECT s.source, s.word, s.c::DOUBLE / n.ns::DOUBLE AS p
        |  FROM sw s JOIN ns n USING (source)),
        |sh AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    sum(0.5 * (a.p * ln(2 * a.p / (a.p + b.p)) +
        |               b.p * ln(2 * b.p / (a.p + b.p)))) AS st,
        |    sum(a.p) AS sp, sum(b.p) AS sq, count(*) AS n_shared
        |  FROM p a JOIN p b USING (word)
        |  WHERE a.source < b.source GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.source AS source_a, b.source AS source_b
        |  FROM ns a JOIN ns b ON a.source < b.source)
        |SELECT pr.source_a, pr.source_b,
        |  coalesce(n_shared, 0) AS n_shared,
        |  round(coalesce(st, 0) +
        |    0.5 * (1 - coalesce(sp, 0)) * ln(2) +
        |    0.5 * (1 - coalesce(sq, 0)) * ln(2), 4) AS jsd
        |FROM pr LEFT JOIN sh USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin,

    // the design weights are binary-exact (sums of 2^-4 and 2^-5) so
    // the Scala-side sum and the SQL literal 1.0 are the SAME double;
    // floor/round arithmetic then agrees bit-for-bit
    "q65_token_budget_plan" ->
      """WITH av AS (
        |  SELECT source, sum(len(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> ''))) AS avail
        |  FROM documents GROUP BY 1),
        |w(source, weight) AS (VALUES
        |  ('src0', 0.0625), ('src1', 0.0625), ('src2', 0.0625),
        |  ('src3', 0.0625), ('src4', 0.0625), ('src5', 0.0625),
        |  ('src6', 0.0625), ('src7', 0.0625), ('src8', 0.0625),
        |  ('src9', 0.0625), ('src10', 0.0625), ('src11', 0.0625),
        |  ('src12', 0.03125), ('src13', 0.03125), ('src14', 0.03125),
        |  ('src15', 0.03125), ('src16', 0.03125), ('src17', 0.03125),
        |  ('src18', 0.03125), ('src19', 0.03125), ('srcx', 0.0)),
        |j AS (
        |  SELECT coalesce(av.source, w.source) AS source,
        |         coalesce(w.weight, 0.0)::DOUBLE AS weight,
        |         coalesce(av.avail, 0)::BIGINT AS avail_tokens
        |  FROM av FULL OUTER JOIN w ON av.source = w.source),
        |t AS (
        |  SELECT source, weight, avail_tokens,
        |    floor(1000000.0 * weight / 1.0)::BIGINT AS target_tokens
        |  FROM j),
        |r AS (
        |  SELECT *, CASE WHEN avail_tokens > 0
        |    THEN round(target_tokens::DOUBLE / avail_tokens::DOUBLE, 6)
        |    ELSE 0.0 END AS rate
        |  FROM t)
        |SELECT source, weight, avail_tokens, target_tokens, rate,
        |  ceil(rate)::BIGINT AS epochs
        |FROM r ORDER BY source""".stripMargin,

    // integer ceil-rank (pm*n + 999) // 1000 on both sides — no
    // floating-point percentile boundary for the engines to disagree on
    "q66_exact_quantiles" ->
      """WITH v AS (
        |  SELECT source, len(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> ''))::BIGINT AS v
        |  FROM documents),
        |h AS (SELECT source, v, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, v,
        |    sum(c) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum,
        |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
        |  FROM h),
        |p(permille) AS (VALUES (100), (250), (500), (750), (900), (990))
        |SELECT source, permille,
        |  ((permille * n + 999) // 1000)::BIGINT AS rank,
        |  min(v) AS value
        |FROM cum CROSS JOIN p
        |WHERE cum >= (permille * n + 999) // 1000
        |GROUP BY 1, 2, 3 ORDER BY source, permille""".stripMargin,

    // the banded-RP-LSH planted-copy contract, checked exactly (the
    // x29 rationale: copies are the only threshold pairs, banding
    // cannot miss identical vectors, round(cos,4) pins 1.0)
    "x20_embed_neardup" ->
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
        |  CAST(1.0 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY id_a""".stripMargin,

    // the SemDeDup planted-copy contract, checked exactly: the 10
    // planted copies are the only pairs at the threshold (max natural
    // pairwise cosine ~0.51 in this corpus) and identical vectors pin
    // round(cos,4) to 1.0
    "x29_semantic_dedup" ->
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
        |  CAST(1.0 AS DOUBLE) AS cos
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY id_a""".stripMargin,

    // the Count-Min guarantee, checked: never under, over by at most
    // ceil(e*N/width) — the all-true probe frame (q38/x26/x28 pattern)
    "x31_count_min" ->
      """SELECT word, TRUE AS never_under, TRUE AS within_bound
        |FROM (VALUES ('data'), ('quick'), ('spark'), ('the'),
        |             ('zzz_absent')) t(word)
        |ORDER BY word""".stripMargin,

    // the DDSketch alpha-relative-error guarantee, checked: the oracle
    // is the all-true (source, permille) frame (q38/x26 pattern)
    "x28_dd_quantiles" ->
      """SELECT source, permille, TRUE AS within_bound
        |FROM (SELECT DISTINCT source FROM documents)
        |CROSS JOIN (VALUES (500), (900), (990)) p(permille)
        |ORDER BY source, permille""".stripMargin,

    // exact set sizes divide once at the end; round(6) tames only the
    // final division's ulp (the operands are integers in both engines)
    "q67_vocab_jaccard" ->
      """WITH sv AS (
        |  SELECT DISTINCT source, word FROM (
        |    SELECT source, unnest(list_filter(
        |      string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
        |    FROM documents)),
        |nv AS (SELECT source, count(*)::BIGINT AS nv FROM sv GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*)::BIGINT AS n_inter
        |  FROM sv a JOIN sv b USING (word)
        |  WHERE a.source < b.source GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    a.nv AS vocab_a, b.nv AS vocab_b
        |  FROM nv a JOIN nv b ON a.source < b.source)
        |SELECT source_a, source_b, vocab_a, vocab_b,
        |  coalesce(n_inter, 0)::BIGINT AS n_inter,
        |  round(coalesce(n_inter, 0)::DOUBLE /
        |    (vocab_a + vocab_b - coalesce(n_inter, 0))::DOUBLE, 6) AS jaccard
        |FROM pairs LEFT JOIN inter USING (source_a, source_b)
        |ORDER BY source_a, source_b""".stripMargin,

    // three unrolled power iterations, per-round round(10) re-agrees
    // the engines before float drift can compound
    "q73_pagerank" ->
      """WITH nc AS (SELECT count(*)::BIGINT AS nc FROM documents),
        |e AS (
        |  SELECT doc_id AS src, (doc_id + 17) % nc.nc AS dst
        |  FROM documents, nc WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 3 + 5) % nc.nc
        |  FROM documents, nc WHERE doc_id % 7 <> 0),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |od AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
        |nn AS (SELECT count(*)::DOUBLE AS nn FROM nodes),
        |r0 AS (SELECT node, round(1.0 / nn.nn, 10) AS r FROM nodes, nn),
        |d0 AS (SELECT coalesce(sum(r), 0) AS dm FROM r0
        |       LEFT JOIN od ON r0.node = od.src WHERE outdeg IS NULL),
        |c0 AS (SELECT e.dst AS node, sum(r0.r / od.outdeg) AS cin
        |       FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
        |       GROUP BY 1),
        |r1 AS (SELECT nodes.node, round(0.15 / nn.nn +
        |         0.85 * (coalesce(c0.cin, 0) + d0.dm / nn.nn), 10) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN d0
        |       LEFT JOIN c0 ON nodes.node = c0.node),
        |d1 AS (SELECT coalesce(sum(r), 0) AS dm FROM r1
        |       LEFT JOIN od ON r1.node = od.src WHERE outdeg IS NULL),
        |c1 AS (SELECT e.dst AS node, sum(r1.r / od.outdeg) AS cin
        |       FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
        |       GROUP BY 1),
        |r2 AS (SELECT nodes.node, round(0.15 / nn.nn +
        |         0.85 * (coalesce(c1.cin, 0) + d1.dm / nn.nn), 10) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN d1
        |       LEFT JOIN c1 ON nodes.node = c1.node),
        |d2 AS (SELECT coalesce(sum(r), 0) AS dm FROM r2
        |       LEFT JOIN od ON r2.node = od.src WHERE outdeg IS NULL),
        |c2 AS (SELECT e.dst AS node, sum(r2.r / od.outdeg) AS cin
        |       FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
        |       GROUP BY 1),
        |r3 AS (SELECT nodes.node, round(0.15 / nn.nn +
        |         0.85 * (coalesce(c2.cin, 0) + d2.dm / nn.nn), 10) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN d2
        |       LEFT JOIN c2 ON nodes.node = c2.node)
        |SELECT node, round(r, 8) AS rank FROM r3 ORDER BY node""".stripMargin,

    // per-doc cross-entropies arrive rounded(4) (the q46 contract);
    // slice means round(6) BEFORE the exponential, weights round(6)
    "q71_doremi_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
        |  FROM documents),
        |refc AS (
        |  SELECT word, count(*) AS c FROM tok WHERE doc_id % 3 = 0 GROUP BY 1),
        |consts AS (
        |  SELECT coalesce(sum(c), 0) + count(*) AS denom FROM refc),
        |ce AS (
        |  SELECT t.doc_id,
        |    round(avg(-ln((coalesce(r.c, 0) + 1) /
        |      greatest(consts.denom, 1)::DOUBLE)), 4) AS cross_entropy
        |  FROM tok t LEFT JOIN refc r ON t.word = r.word, consts
        |  GROUP BY t.doc_id),
        |byslice AS (
        |  SELECT d.source, count(*)::BIGINT AS n_docs,
        |    round(avg(ce.cross_entropy), 6) AS ce
        |  FROM documents d JOIN ce USING (doc_id) GROUP BY 1),
        |base AS (
        |  SELECT round(avg(ce.cross_entropy), 6) AS ce0
        |  FROM documents d JOIN ce USING (doc_id)),
        |ex AS (
        |  SELECT source, n_docs, ce,
        |    round(greatest(ce - base.ce0, 0.0), 6) AS excess
        |  FROM byslice, base)
        |SELECT source, n_docs, ce, excess,
        |  round(exp(2.0 * excess) / sum(exp(2.0 * excess)) OVER (), 6) AS weight
        |FROM ex ORDER BY source""".stripMargin,

    // the q58 scorer verbatim, then pos = rank-1 over (log_odds,
    // doc_id), band = pos*10 DIV n + 1 (the rankBands rule), and the
    // per-band means; frac_pos is one integer-operand division
    "q72_calibration_curve" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
        |  FROM documents),
        |lab AS (
        |  SELECT doc_id, n_chars >= 300 AS y FROM documents WHERE doc_id % 3 = 0),
        |m AS (
        |  SELECT word,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS cp,
        |    sum(CASE WHEN y THEN 0 ELSE 1 END) AS cn
        |  FROM tok JOIN lab USING (doc_id) GROUP BY 1),
        |tot AS (
        |  SELECT coalesce(sum(cp), 0) AS tp, coalesce(sum(cn), 0) AS tn,
        |         greatest(count(*), 1) AS v
        |  FROM m),
        |pri AS (
        |  SELECT greatest(sum(CASE WHEN y THEN 1 ELSE 0 END), 1) AS np,
        |         greatest(sum(CASE WHEN y THEN 0 ELSE 1 END), 1) AS nn
        |  FROM lab),
        |sc AS (
        |  SELECT t.doc_id, round(ln(pri.np::DOUBLE / pri.nn::DOUBLE) +
        |      sum(ln((coalesce(m.cp, 0) + 1)::DOUBLE / (tot.tp + tot.v)::DOUBLE)
        |        - ln((coalesce(m.cn, 0) + 1)::DOUBLE / (tot.tn + tot.v)::DOUBLE)),
        |      4) AS log_odds
        |  FROM tok t LEFT JOIN m USING (word), tot, pri
        |  GROUP BY t.doc_id, pri.np, pri.nn, tot.tp, tot.tn, tot.v),
        |ranked AS (
        |  SELECT s.doc_id, s.log_odds, d.n_chars >= 300 AS y,
        |    (row_number() OVER (ORDER BY s.log_odds, s.doc_id) - 1)::BIGINT AS pos,
        |    count(*) OVER () AS n
        |  FROM sc s JOIN documents d USING (doc_id))
        |SELECT (pos * 10 // n + 1)::INT AS band, count(*)::BIGINT AS n,
        |  sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |  round(avg(1.0 / (1.0 + exp(-log_odds))), 6) AS mean_prob,
        |  round(sum(CASE WHEN y THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS frac_pos
        |FROM ranked GROUP BY 1 ORDER BY band""".stripMargin,

    // C4 rules over the same chunk-and-dirty derivation; page verdict
    // = n_kept >= 3 AND no lorem-ipsum line anywhere on the page
    "q74_c4_line_filter" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\W+'), x -> x <> '') AS toks
        |  FROM documents
        |  WHERE len(list_filter(string_split_regex(text, '\W+'), x -> x <> '')) > 0),
        |c AS (
        |  SELECT doc_id, u.i AS idx,
        |         array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS chunk
        |  FROM t, LATERAL unnest(generate_series(0, (len(toks)-1)//10)) u(i)),
        |d AS (
        |  SELECT doc_id, idx,
        |    CASE WHEN idx % 5 = 2 THEN chunk || ' {x}.'
        |         WHEN idx % 3 = 0 THEN chunk || '.'
        |         WHEN idx % 7 = 1 THEN chunk || '?'
        |         ELSE chunk END AS line
        |  FROM c),
        |mx AS (SELECT doc_id, max(idx) AS m FROM d GROUP BY 1),
        |pj AS (SELECT doc_id, m + 1 AS idx,
        |         'please enable javascript to view the dynamic content today.' AS line
        |       FROM mx WHERE doc_id % 11 = 0),
        |pl AS (SELECT doc_id, m + 2 AS idx,
        |         'lorem ipsum dolor sit amet consectetur adipiscing elit tempor incididunt.' AS line
        |       FROM mx WHERE doc_id % 13 = 5),
        |allr AS (SELECT * FROM d UNION ALL SELECT * FROM pj UNION ALL SELECT * FROM pl),
        |f AS (
        |  SELECT doc_id, idx, line,
        |    (regexp_matches(line, '[.!?"]$')
        |     AND len(list_filter(string_split_regex(line, '\W+'), x -> x <> '')) >= 5
        |     AND NOT contains(lower(line), 'javascript')
        |     AND NOT regexp_matches(line, '[{}]')) AS keep,
        |    contains(lower(line), 'lorem ipsum') AS lorem
        |  FROM allr)
        |SELECT doc_id, count(*)::BIGINT AS n_lines,
        |       count(*) FILTER (WHERE keep)::BIGINT AS n_kept,
        |       coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE keep), '') AS kept_text,
        |       (count(*) FILTER (WHERE keep) >= 3 AND NOT bool_or(lorem)) AS doc_kept
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // token-boundary containment is the Aho-Corasick match semantics:
    // pad the token stream with spaces, probe ' phrase ' per phrase
    "q75_blocklist_tag" ->
      s"""WITH ph AS (SELECT * FROM (VALUES ${BlocklistPhrases
            .map(ph => s"('$ph')").mkString(", ")}) p(phrase)),
        |tk AS (
        |  SELECT doc_id, ' ' || array_to_string(list_filter(
        |    string_split_regex(lower(text), '\\W+'), x -> x <> ''), ' ') || ' ' AS s
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, phrase FROM tk, ph
        |  WHERE contains(s, ' ' || phrase || ' ')),
        |g AS (SELECT doc_id, list_sort(list(phrase)) AS ml FROM m GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(array_to_string(g.ml, ','), '') AS matched,
        |  coalesce(len(g.ml), 0)::BIGINT AS n_matches,
        |  g.ml IS NOT NULL AS blocked
        |FROM documents d LEFT JOIN g USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // same md5-hex-head uniform as the Spark side (the q69/q64
    // convention); ladder thresholds are the normalized cumulative
    // weights, identical double literals in both engines
    "q76_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train'
        |       WHEN u < 0.9 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 8))::BIGINT
        |          / 4294967296.0 AS u
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q77_split_leakage" ->
      """WITH assign AS (
        |  SELECT doc_id,
        |    CASE WHEN u < 0.8 THEN 'train'
        |         WHEN u < 0.9 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |          ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 8))::BIGINT
        |            / 4294967296.0 AS u
        |        FROM documents)),
        |pr AS (SELECT id_a AS a, id_b AS b
        |       FROM read_parquet('__VERIFY_OUT__/x04_minhash_lsh/*.parquet'))
        |SELECT pr.a, pr.b, sa.split AS split_a, sb.split AS split_b,
        |       sa.split <> sb.split AS leak
        |FROM pr
        |JOIN assign sa ON pr.a = sa.doc_id
        |JOIN assign sb ON pr.b = sb.doc_id
        |ORDER BY a, b""".stripMargin,

    // md5-of-text compare, same bytes both engines (the q43 keeper
    // convention); presence markers, not hash nullity, decide add/remove
    "q78_snapshot_diff" ->
      """WITH cur AS (SELECT doc_id, md5(text) AS h FROM documents),
        |prev AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 19 = 4 THEN text || ' OLD' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 100000, md5(text) FROM documents WHERE doc_id % 23 = 1)
        |SELECT coalesce(cur.doc_id, prev.doc_id) AS doc_id,
        |  CASE WHEN prev.doc_id IS NULL THEN 'added'
        |       WHEN cur.doc_id IS NULL THEN 'removed'
        |       WHEN cur.h IS DISTINCT FROM prev.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM cur FULL OUTER JOIN prev ON cur.doc_id = prev.doc_id
        |ORDER BY doc_id""".stripMargin,

    // H = ln n - sum(c ln c)/n over per-char counts; round(6) absorbs
    // libm ulps; the %29==7 template docs are the only low_entropy rows
    "q79_char_entropy" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 29 = 7 THEN repeat('spark ', 40) ELSE text END AS t
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, substr(t, u.i, 1) AS ch
        |  FROM d, LATERAL unnest(generate_series(1, length(t))) u(i)),
        |cc AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY 1, 2),
        |e AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n,
        |    round(ln(sum(c)::DOUBLE) - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c)::DOUBLE, 6)
        |      AS entropy
        |  FROM cc GROUP BY 1)
        |SELECT d.doc_id, coalesce(e.n, 0)::BIGINT AS n,
        |  coalesce(e.entropy, 0.0) AS entropy,
        |  coalesce(e.entropy, 0.0) < 2.0 AS low_entropy
        |FROM d LEFT JOIN e USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the q65 token count; share is round(6)-pinned BEFORE pow and
    // boost divides the already-round(6) weight by the pinned share,
    // so every transcendental runs on engine-agreed inputs
    "q80_temperature_mixture" ->
      """WITH tok AS (
        |  SELECT source, sum(len(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '')))::BIGINT
        |    AS n_tokens
        |  FROM documents GROUP BY 1),
        |sh AS (
        |  SELECT source, n_tokens,
        |    round(n_tokens::DOUBLE / sum(n_tokens::DOUBLE) OVER (), 6) AS share
        |  FROM tok),
        |q AS (SELECT *, pow(share, 0.5) AS qq FROM sh),
        |wgt AS (
        |  SELECT source, n_tokens, share,
        |    round(qq / sum(qq) OVER (), 6) AS weight
        |  FROM q)
        |SELECT source, n_tokens, share, weight,
        |  CASE WHEN share > 0 THEN round(weight / share, 6) ELSE 0.0 END AS boost
        |FROM wgt ORDER BY source""".stripMargin,

    // distinct-n diversity: same tokenizer pair as q07, same n-gram
    // slice form as q44; ratio divides BIGINT counts and rounds(6)
    "q83_distinct_ngrams" ->
      """WITH tk AS (
        |  SELECT source, list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT source, n.n AS n,
        |    array_to_string(toks[u.i+1 : u.i+n.n], ' ') AS gram
        |  FROM tk, (VALUES (1), (2), (3)) n(n),
        |    LATERAL unnest(generate_series(0, len(toks) - n.n)) u(i)
        |  WHERE len(toks) >= n.n)
        |SELECT source, n, count(*)::BIGINT AS n_total,
        |  count(DISTINCT gram)::BIGINT AS n_distinct,
        |  round(count(DISTINCT gram)::DOUBLE
        |        / greatest(count(*), 1)::DOUBLE, 6) AS ratio
        |FROM g GROUP BY 1, 2 ORDER BY source, n""".stripMargin,

    "q84_chunk_sliding" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, u.i AS k
        |  FROM tk, LATERAL unnest(generate_series(0, (len(toks)-1)//24)) u(i)
        |  WHERE len(toks) > 0)
        |SELECT doc_id, k::INT AS chunk_idx, (k*24)::BIGINT AS tok_start,
        |  least(32, len(toks) - k*24)::BIGINT AS n_tok,
        |  array_to_string(toks[k*24+1 : k*24+32], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // identical population moments on both engines (var_pop /
    // covar_pop / avg), identical Cramer expressions over them, so
    // the closed-form fit round-trips at 4 dp; the relative det
    // guard is computed from the same moments on both sides
    "q85_ols_gram" ->
      """WITH f AS (
        |  SELECT source, n_chars::DOUBLE AS y,
        |    len(list_filter(string_split_regex(lower(text), '\W+'),
        |        x -> x <> ''))::DOUBLE AS x1,
        |    len(list_filter(list_filter(string_split_regex(lower(text), '\W+'),
        |        x -> x <> ''), w -> length(w) > 5))::DOUBLE AS x2
        |  FROM documents),
        |a AS (
        |  SELECT source, count(*)::BIGINT AS n,
        |    avg(y) AS my, avg(x1) AS m1, avg(x2) AS m2,
        |    var_pop(x1) AS v11, covar_pop(x1, x2) AS v12, var_pop(x2) AS v22,
        |    covar_pop(x1, y) AS c1, covar_pop(x2, y) AS c2, var_pop(y) AS vy
        |  FROM f GROUP BY 1),
        |s AS (
        |  SELECT *,
        |    (abs(v11*v22 - v12*v12) > 1e-12*v11*v22 AND vy > 0) AS ok,
        |    (v22*c1 - v12*c2)/(v11*v22 - v12*v12) AS b1r,
        |    (v11*c2 - v12*c1)/(v11*v22 - v12*v12) AS b2r
        |  FROM a)
        |SELECT source, n,
        |  round(CASE WHEN ok THEN my - b1r*m1 - b2r*m2 END, 4) AS b0,
        |  round(CASE WHEN ok THEN b1r END, 4) AS b1,
        |  round(CASE WHEN ok THEN b2r END, 4) AS b2,
        |  round(CASE WHEN ok THEN (b1r*c1 + b2r*c2)/vy END, 4) AS r2
        |FROM s ORDER BY source""".stripMargin,

    // D is max |cum_a*n_b - cum_b*n_a| over the pooled grid — integer
    // arithmetic on both engines, divided once; the only float is the
    // final ratio + the critical-value constant, both round(6)
    "q86_ks_drift" ->
      """WITH vals AS (
        |  SELECT source AS s, len(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> ''))::BIGINT AS v
        |  FROM documents),
        |counts AS (SELECT s, v, count(*)::BIGINT AS c FROM vals GROUP BY 1, 2),
        |grid AS (
        |  SELECT sl.s, dv.v, coalesce(c.c, 0) AS c
        |  FROM (SELECT DISTINCT v FROM counts) dv
        |  CROSS JOIN (SELECT DISTINCT s FROM counts) sl
        |  LEFT JOIN counts c ON c.s = sl.s AND c.v = dv.v),
        |ecdf AS (
        |  SELECT s, v, sum(c) OVER (PARTITION BY s ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY s) AS n
        |  FROM grid),
        |pairs AS (
        |  SELECT a.s AS slice_a, b.s AS slice_b,
        |    max(a.n)::BIGINT AS n_a, max(b.n)::BIGINT AS n_b,
        |    max(abs(a.cum*b.n - b.cum*a.n))::BIGINT AS m
        |  FROM ecdf a JOIN ecdf b ON a.v = b.v AND a.s < b.s
        |  GROUP BY 1, 2)
        |SELECT slice_a, slice_b, n_a, n_b,
        |  round(m::DOUBLE / (n_a*n_b)::DOUBLE, 6) AS ks_stat,
        |  round(sqrt(-ln(0.025)/2) *
        |    sqrt((n_a+n_b)::DOUBLE/(n_a*n_b)::DOUBLE), 6) AS crit_05,
        |  round(m::DOUBLE / (n_a*n_b)::DOUBLE, 6) >
        |    round(sqrt(-ln(0.025)/2) *
        |      sqrt((n_a+n_b)::DOUBLE/(n_a*n_b)::DOUBLE), 6) AS drifted
        |FROM pairs ORDER BY slice_a, slice_b""".stripMargin,

    "q87_upsert_latest_wins" ->
      """WITH base AS (
        |  SELECT doc_id, (1 + doc_id % 3)::BIGINT AS version, source, text
        |  FROM documents),
        |delta AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 7 = 0 THEN 2 + doc_id % 3
        |          WHEN doc_id % 11 = 0 THEN 0
        |          ELSE 1 + doc_id % 3 END)::BIGINT AS version,
        |    source,
        |    (CASE WHEN doc_id % 7 = 0 THEN 'UPDATED '
        |          WHEN doc_id % 11 = 0 THEN 'STALE '
        |          ELSE 'TIED ' END) || text AS text
        |  FROM documents
        |  WHERE doc_id % 7 = 0 OR doc_id % 11 = 0 OR doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 1::BIGINT, 'newsrc',
        |    'NEW DOC ' || doc_id::VARCHAR
        |  FROM documents WHERE doc_id % 13 = 0),
        |u AS (
        |  SELECT *, 0 AS src FROM base
        |  UNION ALL
        |  SELECT *, 1 AS src FROM delta)
        |SELECT doc_id, version, source, text FROM u
        |QUALIFY row_number() OVER (
        |  PARTITION BY doc_id ORDER BY version DESC, src DESC) = 1
        |ORDER BY doc_id""".stripMargin,

    "q88_span_integrity" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |ts0 AS (
        |  SELECT doc_id, 'text' AS kind,
        |    array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS text,
        |    CASE WHEN doc_id % 23 = 0 AND u.i = 0 THEN 'stray' ELSE '' END
        |      AS media_ref,
        |    u.i::INT AS "offset"
        |  FROM t, LATERAL unnest(generate_series(0, (len(toks)-1)//10)) u(i)
        |  WHERE len(toks) > 0),
        |ts AS (SELECT * FROM ts0 WHERE NOT (doc_id % 13 = 0 AND "offset" = 1)),
        |dup AS (SELECT * FROM ts WHERE doc_id % 17 = 0 AND "offset" = 0),
        |med AS (
        |  SELECT doc_id, 'media' AS kind, '' AS text,
        |    CASE WHEN doc_id % 19 = 0 THEN ''
        |         ELSE 'm://' || doc_id::VARCHAR END AS media_ref,
        |    (CASE WHEN len(toks) = 0 THEN 0
        |          ELSE (len(toks)-1)//10 + 1 END)::INT AS "offset"
        |  FROM t),
        |sp AS (
        |  SELECT * FROM ts UNION ALL SELECT * FROM dup
        |  UNION ALL SELECT * FROM med),
        |agg AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_spans,
        |    (count(*) - count(DISTINCT "offset"))::BIGINT AS n_dup_offsets,
        |    (max("offset") + 1 - count(DISTINCT "offset"))::BIGINT AS n_missing,
        |    min("offset")::BIGINT AS first_offset,
        |    sum(CASE WHEN (kind = 'media' AND media_ref = '')
        |              OR (kind = 'text' AND media_ref <> '')
        |             THEN 1 ELSE 0 END)::BIGINT AS n_bad_media,
        |    sum(CASE WHEN kind NOT IN ('text', 'media')
        |             THEN 1 ELSE 0 END)::BIGINT AS n_bad_kind
        |  FROM sp GROUP BY 1)
        |SELECT *, (n_dup_offsets = 0 AND n_missing = 0 AND first_offset = 0
        |           AND n_bad_media = 0 AND n_bad_kind = 0) AS is_clean
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q89_langid_confusion" ->
      s"""WITH t AS (
         |  SELECT lang,
         |    list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS toks
         |  FROM documents),
         |p AS (
         |  SELECT lang AS actual,
         |    CASE
         |      WHEN len(list_filter(toks, x -> x IN (${TextAnalysis.enMarkers.map(m => s"'$m'").mkString(",")})))
         |         > len(list_filter(toks, x -> x IN (${TextAnalysis.idMarkers.map(m => s"'$m'").mkString(",")}))) THEN 'en'
         |      WHEN len(list_filter(toks, x -> x IN (${TextAnalysis.idMarkers.map(m => s"'$m'").mkString(",")})))
         |         > len(list_filter(toks, x -> x IN (${TextAnalysis.enMarkers.map(m => s"'$m'").mkString(",")}))) THEN 'id'
         |      WHEN len(list_filter(toks, x -> x IN (${TextAnalysis.enMarkers.map(m => s"'$m'").mkString(",")}))) > 0 THEN 'en'
         |      ELSE 'und' END AS predicted
         |  FROM t),
         |cells AS (
         |  SELECT actual, predicted, count(*)::BIGINT AS n
         |  FROM p GROUP BY 1, 2)
         |SELECT actual, predicted, n,
         |  round(n::DOUBLE /
         |    (sum(n) OVER (PARTITION BY actual))::DOUBLE, 6) AS recall,
         |  round(n::DOUBLE /
         |    (sum(n) OVER (PARTITION BY predicted))::DOUBLE, 6) AS precision
         |FROM cells ORDER BY actual, predicted""".stripMargin,

    "q90_trimmed_mean" ->
      """WITH vals AS (
        |  SELECT source, len(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> ''))::BIGINT AS v
        |  FROM documents),
        |h AS (SELECT source, v, count(*)::BIGINT AS c FROM vals GROUP BY 1, 2),
        |cw AS (
        |  SELECT source, v, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n
        |  FROM h),
        |kept AS (
        |  SELECT source, n::BIGINT AS n, ((n * 100) // 1000)::BIGINT AS k_trimmed,
        |    greatest(least(cum, n - (n * 100) // 1000)
        |             - greatest(cum - c, (n * 100) // 1000), 0)::BIGINT AS kc,
        |    v
        |  FROM cw)
        |SELECT source, n, k_trimmed,
        |  round(CASE WHEN n - 2*k_trimmed > 0
        |    THEN sum(v * kc)::DOUBLE / (n - 2*k_trimmed)::DOUBLE END, 6)
        |    AS trimmed_mean
        |FROM kept GROUP BY 1, 2, 3 ORDER BY source""".stripMargin,

    "q91_temporal_tvd" ->
      """WITH e AS (SELECT ts::DATE AS day, event_type AS cat FROM events),
        |cnt AS (SELECT day, cat, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.day, k.cat, coalesce(c.c, 0) AS c
        |  FROM (SELECT DISTINCT day FROM cnt) d
        |  CROSS JOIN (SELECT DISTINCT cat FROM cnt) k
        |  LEFT JOIN cnt c ON c.day = d.day AND c.cat = k.cat),
        |tot AS (SELECT day, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
        |g AS (SELECT grid.day, grid.cat, grid.c, tot.n
        |      FROM grid JOIN tot USING (day)),
        |p AS (
        |  SELECT a.day AS day_a, b.day AS day_b,
        |    max(a.n)::BIGINT AS n_a, max(b.n)::BIGINT AS n_b,
        |    sum(abs(a.c*b.n - b.c*a.n))::BIGINT AS m
        |  FROM g a JOIN g b ON b.day = a.day + 1 AND a.cat = b.cat
        |  GROUP BY 1, 2)
        |SELECT day_a, day_b, n_a, n_b,
        |  round(m::DOUBLE / (2.0*(n_a*n_b)::DOUBLE), 6) AS tvd
        |FROM p ORDER BY day_a""".stripMargin,

    "q92_source_balance" ->
      """WITH c AS (
        |  SELECT source AS s, count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1),
        |r AS (SELECT s, c, row_number() OVER (ORDER BY c, s) AS r FROM c),
        |a AS (
        |  SELECT count(*)::BIGINT AS n_slices, sum(c)::BIGINT AS n_rows,
        |    sum(c::DOUBLE * ln(c::DOUBLE)) AS clc, sum(r*c)::BIGINT AS rc
        |  FROM r)
        |SELECT n_slices, n_rows,
        |  round(ln(n_rows::DOUBLE) - clc/n_rows::DOUBLE, 6) AS entropy,
        |  round(CASE WHEN n_slices > 1
        |    THEN (ln(n_rows::DOUBLE) - clc/n_rows::DOUBLE)/ln(n_slices::DOUBLE)
        |    ELSE 0 END, 6) AS norm_entropy,
        |  round(exp(ln(n_rows::DOUBLE) - clc/n_rows::DOUBLE), 4)
        |    AS effective_slices,
        |  round(2*rc::DOUBLE/(n_slices*n_rows)::DOUBLE
        |    - (n_slices+1)::DOUBLE/n_slices::DOUBLE, 6) AS gini
        |FROM a""".stripMargin,

    "q94_embedding_dispersion" ->
      """WITH ex AS (
        |  SELECT label AS g, vec_id AS id, u.v::DOUBLE AS v, u.i AS d
        |  FROM embeddings, LATERAL (
        |    SELECT unnest(embedding) AS v,
        |           generate_subscripts(embedding, 1) AS i) u),
        |c AS (SELECT g, d, avg(v) AS c FROM ex GROUP BY 1, 2),
        |pv AS (
        |  SELECT ex.g, ex.id,
        |    sum(ex.v * c.c) AS vc, sum(ex.v * ex.v) AS vv,
        |    sum(c.c * c.c) AS cc
        |  FROM ex JOIN c ON ex.g = c.g AND ex.d = c.d
        |  GROUP BY 1, 2),
        |cosd AS (
        |  SELECT g, id,
        |    CASE WHEN vv > 0 AND cc > 0 THEN vc / (sqrt(vv)*sqrt(cc))
        |         ELSE 0.0 END AS cs
        |  FROM pv),
        |cn AS (SELECT g, sqrt(sum(c*c)) AS cnorm FROM c GROUP BY 1)
        |SELECT cosd.g AS label, count(*)::BIGINT AS n_vecs,
        |  round(max(cn.cnorm), 4) AS centroid_norm,
        |  round(avg(cs), 4) AS mean_cos,
        |  round(min(cs), 4) AS min_cos
        |FROM cosd JOIN cn USING (g)
        |GROUP BY 1 ORDER BY label""".stripMargin,

    "q95_domain_boilerplate" ->
      """WITH t AS (
        |  SELECT source, doc_id, list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |cl AS (
        |  SELECT source, doc_id,
        |    array_to_string(toks[u.i*10+1 : u.i*10+10], ' ') AS line
        |  FROM t, LATERAL unnest(generate_series(0, (len(toks)-1)//10)) u(i)
        |  WHERE len(toks) > 0
        |  UNION ALL
        |  SELECT source, doc_id,
        |    'copyright ' || source || ' all rights reserved'
        |  FROM documents WHERE doc_id % 5 = 0),
        |d AS (SELECT DISTINCT source AS domain, doc_id AS id, line FROM cl),
        |tot AS (
        |  SELECT domain, count(DISTINCT id)::BIGINT AS n_docs
        |  FROM d GROUP BY 1),
        |f AS (
        |  SELECT domain, line, count(*)::BIGINT AS df
        |  FROM d GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT f.domain, f.line, f.df, tot.n_docs,
        |  round(f.df::DOUBLE / tot.n_docs::DOUBLE, 6) AS df_frac,
        |  (round(f.df::DOUBLE / tot.n_docs::DOUBLE, 6) >= 0.3) AS boilerplate
        |FROM f JOIN tot USING (domain) ORDER BY domain, line""".stripMargin,

    "q96_dup_flow" ->
      """WITH p AS (
        |  SELECT id_a, id_b FROM read_parquet('__VERIFY_OUT__/x04_minhash_lsh/*.parquet')),
        |s AS (SELECT doc_id, source FROM documents),
        |j AS (
        |  SELECT least(sa.source, sb.source) AS source_a,
        |         greatest(sa.source, sb.source) AS source_b
        |  FROM p JOIN s sa ON p.id_a = sa.doc_id
        |         JOIN s sb ON p.id_b = sb.doc_id),
        |cnt AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
        |m AS (
        |  SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
        |  FROM j GROUP BY 1, 2)
        |SELECT m.source_a, m.source_b, m.n_pairs,
        |  ca.n_docs AS docs_a, cb.n_docs AS docs_b
        |FROM m JOIN cnt ca ON ca.source = m.source_a
        |       JOIN cnt cb ON cb.source = m.source_b
        |ORDER BY source_a, source_b""".stripMargin,

    "q97_rbo_scorers" ->
      """WITH la AS (
        |  SELECT doc_id AS id, round(n_chars::DOUBLE, 4) AS s
        |  FROM documents ORDER BY s DESC, id LIMIT 50),
        |ra AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS r FROM la),
        |lb AS (
        |  SELECT doc_id AS id, round(len(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> ''))::DOUBLE, 4) AS s
        |  FROM documents ORDER BY s DESC, id LIMIT 50),
        |rb AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS r FROM lb),
        |common AS (
        |  SELECT greatest(ra.r, rb.r) AS entry FROM ra JOIN rb USING (id)),
        |depths AS (SELECT unnest(generate_series(1, 50)) AS d),
        |terms AS (
        |  SELECT d, (SELECT count(*) FROM common WHERE entry <= d)::BIGINT AS ov
        |  FROM depths)
        |SELECT 50::INT AS k, 0.9::DOUBLE AS p,
        |  max(CASE WHEN d = 50 THEN ov END)::BIGINT AS overlap_at_k,
        |  round((1 - 0.9) * sum(pow(0.9, d-1) * ov::DOUBLE / d::DOUBLE), 6) AS rbo
        |FROM terms""".stripMargin,

    "q98_good_turing" ->
      """WITH wc AS (
        |  SELECT source AS slice, w, count(*)::BIGINT AS c
        |  FROM (SELECT source, unnest(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '')) AS w
        |    FROM documents)
        |  GROUP BY 1, 2),
        |sp AS (
        |  SELECT slice, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
        |  FROM wc GROUP BY 1)
        |SELECT slice, n_tokens, vocab, n1, n2,
        |  round(n1::DOUBLE / n_tokens::DOUBLE, 6) AS p_unseen,
        |  round(vocab::DOUBLE +
        |    (n1*(n1-1))::DOUBLE / (2.0*(n2+1)::DOUBLE), 4) AS chao1
        |FROM sp ORDER BY slice""".stripMargin,

    "q99_padding_waste" ->
      """WITH d AS (
        |  SELECT doc_id, len(list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> ''))::BIGINT AS n
        |  FROM documents),
        |ladder AS (SELECT unnest([32, 64, 128, 256, 512])::BIGINT AS cap),
        |pick AS (
        |  SELECT d.doc_id, d.n,
        |    coalesce(min(ladder.cap) FILTER (WHERE d.n <= ladder.cap), 512)
        |      AS bucket
        |  FROM d CROSS JOIN ladder
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT bucket, doc_id, least(n, bucket) AS kept,
        |    greatest(n - bucket, 0) AS truncated
        |  FROM pick)
        |SELECT bucket, count(*)::BIGINT AS n_docs,
        |  sum(kept)::BIGINT AS kept_tokens,
        |  sum(truncated)::BIGINT AS truncated_tokens,
        |  (count(*) * bucket)::BIGINT AS padded_slots,
        |  round((count(*) * bucket - sum(kept))::DOUBLE
        |    / (count(*) * bucket)::DOUBLE, 6) AS waste_frac
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // link-graph oracle: the expected edge list is recomputed
    // ARITHMETICALLY from doc_id (dst = (id*31+7k) mod n, host class
    // = dst mod 20) — ground truth for the whole extract ->
    // canonicalize -> parse chain, not a mirrored regex
    "q100_link_graph" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (
        |  SELECT doc_id AS src_id, (doc_id * 31 + 7) % n.n AS dst_id
        |  FROM documents, n
        |  UNION ALL
        |  SELECT doc_id AS src_id, (doc_id * 31 + 14) % n.n AS dst_id
        |  FROM documents, n),
        |o AS (
        |  SELECT src_id AS doc_id, count(*)::BIGINT AS out_degree,
        |    count(DISTINCT dst_id % 20)::BIGINT AS n_dst_hosts
        |  FROM e GROUP BY 1),
        |i AS (
        |  SELECT dst_id AS doc_id, count(*)::BIGINT AS in_degree
        |  FROM e GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(o.out_degree, 0)::BIGINT AS out_degree,
        |  coalesce(i.in_degree, 0)::BIGINT AS in_degree,
        |  coalesce(o.n_dst_hosts, 0)::BIGINT AS n_dst_hosts
        |FROM documents d
        |LEFT JOIN o ON d.doc_id = o.doc_id
        |LEFT JOIN i ON d.doc_id = i.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q101_script_mix" ->
      """WITH t AS (
        |  SELECT doc_id, text ||
        |    CASE doc_id % 4
        |      WHEN 1 THEN ' привет мир данные модель'
        |      WHEN 2 THEN ' 数据 清洗 模型 语料'
        |      WHEN 3 THEN ' بيانات نموذج تدريب'
        |      ELSE '' END AS tx
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    (length(tx) - length(regexp_replace(tx, '\p{Latin}', '', 'g')))::BIGINT AS n_latin,
        |    (length(tx) - length(regexp_replace(tx, '\p{Cyrillic}', '', 'g')))::BIGINT AS n_cyrillic,
        |    (length(tx) - length(regexp_replace(tx, '\p{Han}', '', 'g')))::BIGINT AS n_han,
        |    (length(tx) - length(regexp_replace(tx, '\p{Arabic}', '', 'g')))::BIGINT AS n_arabic,
        |    (length(tx) - length(regexp_replace(tx, '\p{Nd}', '', 'g')))::BIGINT AS n_digit
        |  FROM t),
        |s AS (
        |  SELECT *, n_latin + n_cyrillic + n_han + n_arabic AS letters FROM c)
        |SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic, n_digit,
        |  CASE WHEN letters > 0
        |    THEN round((letters - n_latin)::DOUBLE / letters::DOUBLE, 6)
        |    ELSE 0.0 END AS non_latin_frac,
        |  CASE WHEN letters = 0 THEN 'none'
        |    WHEN n_latin >= greatest(n_cyrillic, n_han, n_arabic) THEN 'latin'
        |    WHEN n_cyrillic >= greatest(n_han, n_arabic) THEN 'cyrillic'
        |    WHEN n_han >= n_arabic THEN 'han'
        |    ELSE 'arabic' END AS dominant_script
        |FROM s ORDER BY doc_id""".stripMargin,

    // containment oracle over Verify's own x04 pair dump (the x25
    // pattern): DuckDB rebuilds the exact shingle sets (same degrade
    // rule for sub-n docs) and both containment directions
    "q102_shingle_containment" ->
      """WITH toksq AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN array_to_string(tk[g.i : g.i + 2], ' ')
        |         ELSE array_to_string(tk, ' ') END AS shingle
        |  FROM toksq,
        |    LATERAL unnest(generate_series(1, greatest(len(tk) - 2, 1))) g(i)),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY 1),
        |pr AS (SELECT DISTINCT id_a, id_b
        |       FROM '__VERIFY_OUT__/x04_minhash_lsh/*.parquet'),
        |inter AS (
        |  SELECT p.id_a, p.id_b, count(*)::BIGINT AS n_common
        |  FROM pr p
        |  JOIN sh a ON a.doc_id = p.id_a
        |  JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |  sa.n_sh AS n_shingles_a, sb.n_sh AS n_shingles_b,
        |  coalesce(i.n_common, 0)::BIGINT AS n_common,
        |  round(coalesce(i.n_common, 0)::DOUBLE
        |    / greatest(sa.n_sh, 1)::DOUBLE, 6) AS containment_a_in_b,
        |  round(coalesce(i.n_common, 0)::DOUBLE
        |    / greatest(sb.n_sh, 1)::DOUBLE, 6) AS containment_b_in_a,
        |  (round(coalesce(i.n_common, 0)::DOUBLE
        |     / greatest(sa.n_sh, 1)::DOUBLE, 6) >= 0.9
        |   OR round(coalesce(i.n_common, 0)::DOUBLE
        |     / greatest(sb.n_sh, 1)::DOUBLE, 6) >= 0.9) AS superset_dup
        |FROM pr p
        |JOIN sz sa ON sa.doc_id = p.id_a
        |JOIN sz sb ON sb.doc_id = p.id_b
        |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        |ORDER BY p.id_a, p.id_b""".stripMargin,

    "q103_incremental_dedup" ->
      """WITH oldd AS (SELECT * FROM documents WHERE doc_id % 10 < 8),
        |newd AS (SELECT * FROM documents WHERE doc_id % 10 >= 8),
        |oh AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
        |    min(doc_id)::BIGINT AS old_id
        |  FROM oldd GROUP BY 1),
        |nh AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
        |  FROM newd),
        |fn AS (
        |  SELECT doc_id, h,
        |    min(doc_id) OVER (PARTITION BY h) AS first_new_id
        |  FROM nh)
        |SELECT fn.doc_id, fn.h AS content_hash,
        |  CASE WHEN oh.old_id IS NOT NULL THEN 'dup_of_old'
        |       WHEN fn.doc_id > fn.first_new_id THEN 'dup_in_new'
        |       ELSE 'unique' END AS verdict,
        |  coalesce(oh.old_id, fn.first_new_id)::BIGINT AS canonical_id
        |FROM fn LEFT JOIN oh ON fn.h = oh.h
        |ORDER BY fn.doc_id""".stripMargin,

    // HLL oracle: DuckDB rebuilds the registers bit-for-bit from the
    // same 56-bit md5-nibble hash (the 14-term horner sum below IS
    // Spark's conv(substring(md5,1,14),16,10)), sums register mass in
    // integers, and applies the same estimator + linear-counting
    // correction in the same IEEE operation order
    "q104_hll_distinct" -> {
      val hexSum = (1 to 14).map { i =>
        val pw = BigInt(16).pow(14 - i)
        s"(strpos('0123456789abcdef', substring(mh, $i, 1)) - 1) * ${pw}::BIGINT"
      }.mkString("\n        + ")
      s"""WITH h0 AS (SELECT source, text, md5(text) AS mh FROM documents),
         |hv AS (SELECT source,
         |  ($hexSum)::BIGINT AS h
         |  FROM h0),
         |reg AS (
         |  SELECT source, h % 1024 AS bucket,
         |    CASE WHEN h // 1024 = 0 THEN 47
         |         ELSE 47 - length(bin(h // 1024)) END AS rho
         |  FROM hv),
         |mx AS (SELECT source, bucket, max(rho) AS r FROM reg GROUP BY 1, 2),
         |agg AS (
         |  SELECT source, count(*)::BIGINT AS nonzero_buckets,
         |    sum(1::BIGINT << (47 - r))::BIGINT AS mass
         |  FROM mx GROUP BY 1),
         |est AS (
         |  SELECT source, nonzero_buckets,
         |    (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0 * 140737488355328.0
         |      / (mass + (1024 - nonzero_buckets) * 140737488355328)::DOUBLE AS raw_e
         |  FROM agg),
         |he AS (
         |  SELECT source, nonzero_buckets,
         |    round(CASE WHEN raw_e <= 2560.0 AND (1024 - nonzero_buckets) > 0
         |      THEN 1024.0 * ln(1024.0 / (1024 - nonzero_buckets)::DOUBLE)
         |      ELSE raw_e END, 4) AS hll_estimate
         |  FROM est),
         |x AS (
         |  SELECT source, count(DISTINCT text)::BIGINT AS exact_distinct
         |  FROM documents GROUP BY 1)
         |SELECT he.source, 1024::BIGINT AS m, he.nonzero_buckets,
         |  he.hll_estimate, x.exact_distinct,
         |  round(abs(he.hll_estimate - x.exact_distinct::DOUBLE)
         |    / greatest(x.exact_distinct, 1)::DOUBLE, 4) AS rel_err
         |FROM he JOIN x ON he.source = x.source
         |ORDER BY he.source""".stripMargin
    },

    // exact edit-distance verifier: DuckDB recomputes the FULL
    // Levenshtein distance and applies the same length-gate/threshold
    // rule (dist = -1 when provably > 120), so the banded Spark kernel
    // is checked against the unbanded ground truth; sim only for
    // scored pairs, greatest(len, 1) guards the empty-vs-empty pair.
    // strlen(bytes) = length(chars) gates both engines to byte-pure
    // ASCII pairs (DuckDB levenshtein is byte-based, Spark's is
    // codepoint-based — they agree only on ASCII; the Spark side
    // applies the identical octet_length == length filter)
    "q105_edit_verify" ->
      """WITH t AS (SELECT doc_id, text FROM documents
        |           WHERE strlen(text) = length(text)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
        |  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 3 = 0),
        |d AS (
        |  SELECT id_a, id_b,
        |    length(ta)::BIGINT AS len_a, length(tb)::BIGINT AS len_b,
        |    (CASE WHEN abs(length(ta) - length(tb)) > 120 THEN -1
        |          WHEN levenshtein(ta, tb) <= 120 THEN levenshtein(ta, tb)
        |          ELSE -1 END)::BIGINT AS dist
        |  FROM p)
        |SELECT id_a, id_b, len_a, len_b, dist,
        |  CASE WHEN dist >= 0
        |       THEN round(1.0 - dist::DOUBLE / greatest(len_a, len_b, 1)::DOUBLE, 4)
        |       END AS sim,
        |  dist >= 0 AS within
        |FROM d ORDER BY id_a, id_b""".stripMargin,

    // filter-agreement over Verify's own q11/q79 dumps: counts are
    // BIGINT, every ratio rounds(6), composite terms (pe, f1, kappa)
    // combine only already-rounded values; pe uses rounded marginal
    // RATES (never n^2 products) — the Spark op's exact contract
    "q82_filter_agreement" ->
      """WITH a AS (SELECT doc_id, quality_score >= 0.5 AS pa
        |           FROM '__VERIFY_OUT__/q11_quality_score/*.parquet'),
        |b AS (SELECT doc_id, NOT low_entropy AS pb
        |      FROM '__VERIFY_OUT__/q79_char_entropy/*.parquet'),
        |j AS (SELECT pa, pb FROM a JOIN b USING (doc_id)),
        |c AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END)::BIGINT AS n_both,
        |    sum(CASE WHEN pa AND NOT pb THEN 1 ELSE 0 END)::BIGINT AS n_only_a,
        |    sum(CASE WHEN NOT pa AND pb THEN 1 ELSE 0 END)::BIGINT AS n_only_b,
        |    sum(CASE WHEN NOT pa AND NOT pb THEN 1 ELSE 0 END)::BIGINT AS n_neither
        |  FROM j),
        |r AS (
        |  SELECT *,
        |    round(n_both::DOUBLE / greatest(n_both + n_only_b, 1)::DOUBLE, 6) AS precision,
        |    round(n_both::DOUBLE / greatest(n_both + n_only_a, 1)::DOUBLE, 6) AS recall,
        |    round((n_both + n_neither)::DOUBLE / greatest(n, 1)::DOUBLE, 6) AS po,
        |    round((n_both + n_only_a)::DOUBLE / greatest(n, 1)::DOUBLE, 6) AS pa_rate,
        |    round((n_both + n_only_b)::DOUBLE / greatest(n, 1)::DOUBLE, 6) AS pb_rate
        |  FROM c),
        |e AS (
        |  SELECT *,
        |    round(pa_rate * pb_rate + (1.0 - pa_rate) * (1.0 - pb_rate), 6) AS pe
        |  FROM r)
        |SELECT n, n_both, n_only_a, n_only_b, n_neither, precision, recall,
        |  CASE WHEN precision + recall = 0.0 THEN 0.0
        |       ELSE round(2.0 * precision * recall / (precision + recall), 6)
        |  END AS f1,
        |  CASE WHEN pe = 1.0 THEN 0.0
        |       ELSE round((po - pe) / (1.0 - pe), 6)
        |  END AS kappa
        |FROM e""".stripMargin,

    // the MMDS S-curve on the x08 verified-pair dump: jaccard arrives
    // round(4)-pinned from the (already hash-matched) x08 result, so
    // both engines exponentiate an agreed value; p_detect rounds to 6
    "q81_lsh_recall_audit" ->
      """SELECT id_a, id_b, jaccard,
        |  round(1 - pow(1 - pow(jaccard, 4), 8), 6) AS p_detect
        |FROM '__VERIFY_OUT__/x08_ngram_jaccard/*.parquet'
        |ORDER BY id_a, id_b""".stripMargin,

    // same md5 uniform in both engines; the single ln rounds to 9
    // decimals BEFORE the top-k so the selection boundary agrees
    "q69_priority_sample" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars::DOUBLE AS weight,
        |    round(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |      + 1)::DOUBLE / 4294967296.0) / n_chars::DOUBLE, 9) AS priority
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, weight, priority,
        |  row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
        |FROM b QUALIFY rn <= 200 ORDER BY rn""".stripMargin,

    // integer-exact end to end: percentile_disc medians via the q66
    // ceil-rank histogram walk, outlier_ppm by integer DIV
    "q70_mad_outliers" ->
      """WITH v AS (SELECT source, n_chars::BIGINT AS v FROM documents
        |           WHERE n_chars IS NOT NULL),
        |h AS (SELECT source, v, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, v,
        |    sum(c) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum,
        |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
        |  FROM h),
        |med AS (
        |  SELECT source, min(v) AS median FROM cum
        |  WHERE cum >= (500 * n + 999) // 1000 GROUP BY 1),
        |d AS (
        |  SELECT v.source, abs(v.v - med.median)::BIGINT AS dv
        |  FROM v JOIN med USING (source)),
        |dh AS (SELECT source, dv, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
        |dcum AS (
        |  SELECT source, dv,
        |    sum(c) OVER (PARTITION BY source ORDER BY dv)::BIGINT AS cum,
        |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
        |  FROM dh),
        |mad AS (
        |  SELECT source, min(dv) AS mad FROM dcum
        |  WHERE cum >= (500 * n + 999) // 1000 GROUP BY 1)
        |SELECT v.source, median, mad, count(*)::BIGINT AS n,
        |  sum(CASE WHEN abs(v.v - median) > 3 * mad THEN 1 ELSE 0 END)::BIGINT
        |    AS n_outliers,
        |  ((sum(CASE WHEN abs(v.v - median) > 3 * mad THEN 1 ELSE 0 END)
        |    * 1000000) // count(*))::BIGINT AS outlier_ppm
        |FROM v JOIN med USING (source) JOIN mad USING (source)
        |GROUP BY 1, 2, 3 ORDER BY source""".stripMargin,

    // the fit sums run over the same deterministic top-1000 head in
    // both engines (count desc, word asc tiebreak); round(4) absorbs
    // summation-order ulps in the ratio-of-sums slope
    "q68_zipf_heaps" ->
      """WITH w AS (
        |  SELECT word, count(*)::BIGINT AS c FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(lower(text), '\W+'), x -> x <> '')) AS word
        |    FROM documents) GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS vocab,
        |               sum(c)::BIGINT AS n_tokens FROM w),
        |h AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, word) AS r
        |  FROM w QUALIFY r <= 1000),
        |fit AS (
        |  SELECT count(*)::DOUBLE AS k,
        |    sum(ln(r::DOUBLE)) AS sx, sum(ln(c::DOUBLE)) AS sy,
        |    sum(ln(r::DOUBLE) * ln(c::DOUBLE)) AS sxy,
        |    sum(ln(r::DOUBLE) * ln(r::DOUBLE)) AS sxx
        |  FROM h)
        |SELECT vocab, n_tokens,
        |  round(CASE WHEN k * sxx - sx * sx <> 0
        |    THEN (k * sxy - sx * sy) / (k * sxx - sx * sx)
        |    ELSE 0 END, 4) AS zipf_slope,
        |  round(CASE WHEN n_tokens > 1
        |    THEN ln(vocab::DOUBLE) / ln(n_tokens::DOUBLE)
        |    ELSE 0 END, 4) AS heaps_beta
        |FROM tot CROSS JOIN fit""".stripMargin,

    // the bucket hash is the md5-hex head parsed as an integer —
    // identical in both engines, so the models agree bucket-for-bucket
    "q64_dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |fe AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(toks[u.i+1] || ' ' || toks[u.i+2]), 1, 8))::BIGINT
        |      % 65536 AS f
        |  FROM tk, LATERAL unnest(generate_series(0, len(toks)-2)) u(i)
        |  WHERE len(toks) >= 2),
        |tm AS (SELECT f, count(*) AS ct FROM fe WHERE lang = 'en' GROUP BY 1),
        |rm AS (SELECT f, count(*) AS cr FROM fe GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT coalesce(sum(ct), 0) FROM tm) AS tt,
        |         (SELECT coalesce(sum(cr), 0) FROM rm) AS tr)
        |SELECT fe.doc_id, count(*) AS n_feats,
        |  round(sum(
        |    ln((coalesce(ct, 0) + 1)::DOUBLE / (tt + 65536)::DOUBLE) -
        |    ln((coalesce(cr, 0) + 1)::DOUBLE / (tr + 65536)::DOUBLE)), 4) AS log_w
        |FROM fe LEFT JOIN tm USING (f) LEFT JOIN rm USING (f), tot
        |GROUP BY fe.doc_id, tt, tr
        |ORDER BY fe.doc_id""".stripMargin,

    // both engines rank by the ROUNDED pmi then (w1, w2) — the only
    // way a DOUBLE-keyed top-k is reproducible across libms
    "q63_pmi_colloc" ->
      """WITH tk AS (
        |  SELECT list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT toks[u.i+1] AS w1, toks[u.i+2] AS w2
        |  FROM tk, LATERAL unnest(generate_series(0, len(toks)-2)) u(i)
        |  WHERE len(toks) >= 2),
        |bg AS (
        |  SELECT w1, w2, count(*) AS c2 FROM g GROUP BY 1, 2
        |  HAVING count(*) >= 5),
        |uni AS (
        |  SELECT word, count(*) AS c1 FROM (
        |    SELECT unnest(toks) AS word FROM tk) GROUP BY 1),
        |tot AS (
        |  SELECT greatest(coalesce(sum(c1), 0), 1)::DOUBLE AS nu FROM uni),
        |nbt AS (
        |  SELECT greatest(coalesce(sum(greatest(len(toks) - 1, 0)), 0), 1)::DOUBLE AS nbt
        |  FROM tk)
        |SELECT b.w1, b.w2, b.c2,
        |  round(ln((b.c2::DOUBLE / nbt.nbt) /
        |    ((ua.c1::DOUBLE / tot.nu) * (ub.c1::DOUBLE / tot.nu))), 4) AS pmi
        |FROM bg b
        |JOIN uni ua ON ua.word = b.w1
        |JOIN uni ub ON ub.word = b.w2, tot, nbt
        |ORDER BY pmi DESC, b.w1, b.w2 LIMIT 50""".stripMargin,

    "q60_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '\W+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, len(toks) AS len, unnest(toks) AS term FROM tk),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf, max(len) AS len
        |  FROM tok WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |stats AS (
        |  SELECT greatest(count(*), 1)::DOUBLE AS nn,
        |         greatest(coalesce(avg(len(toks)), 0), 0.000000001) AS avgl
        |  FROM tk),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id,
        |  round(sum(idf * (tf * (1.2 + 1.0)::DOUBLE) /
        |    (tf + 1.2::DOUBLE * ((1.0 - 0.75)::DOUBLE + 0.75::DOUBLE * len / avgl))), 4)
        |    AS score,
        |  count(*) AS n_terms
        |FROM (
        |  SELECT t.doc_id, t.term, t.tf, t.len, s.avgl,
        |    ln((s.nn - d.df + 0.5) / (d.df + 0.5) + 1.0) AS idf
        |  FROM tf t JOIN dfq d USING (term), stats s)
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    "q57_quality_deciles" ->
      """WITH rk AS (
        |  SELECT doc_id, n_chars,
        |    (row_number() OVER (ORDER BY n_chars, doc_id) - 1)::BIGINT AS pos,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, n_chars, pos, (pos * 10 // n + 1)::INT AS band
        |FROM rk ORDER BY doc_id""".stripMargin,

    // The composition oracle: q34/x25's verdict CTEs -> q42's sample
    // window -> q41's running-sum packing, in one SQL program.
    "q43_curation_pipeline" ->
      s"""WITH $duckGopherCtes,
         |$duckQualCte,
         |$duckLangCte,
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
         |losers AS (
         |  SELECT DISTINCT id_b AS doc_id
         |  FROM read_parquet('__VERIFY_OUT__/x04_minhash_lsh/*.parquet')),
         |kept AS (
         |  SELECT d.doc_id, lang.predicted_lang
         |  FROM documents d
         |  LEFT JOIN keepers k ON d.doc_id = k.doc_id
         |  LEFT JOIN losers lo ON d.doc_id = lo.doc_id
         |  JOIN qual ON d.doc_id = qual.doc_id
         |  JOIN lang ON d.doc_id = lang.doc_id
         |  JOIN gq2 ON d.doc_id = gq2.doc_id
         |  WHERE k.doc_id IS NOT NULL AND qual.quality_score >= 0.3
         |    AND lang.predicted_lang IN ('en', 'id') AND gq2.gopher_keep
         |    AND lo.doc_id IS NULL),
         |samp AS (
         |  SELECT doc_id, predicted_lang, rn FROM (
         |    SELECT doc_id, predicted_lang,
         |      row_number() OVER (PARTITION BY predicted_lang
         |                         ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
         |    FROM kept) t WHERE rn <= 20),
         |tok AS (
         |  SELECT s.doc_id, s.predicted_lang, s.rn,
         |    len(list_filter(string_split_regex(d.text, '\\W+'), x -> x <> ''))::BIGINT AS n_tokens
         |  FROM samp s JOIN documents d ON s.doc_id = d.doc_id),
         |cum AS (
         |  SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM tok)
         |SELECT doc_id, predicted_lang, rn, n_tokens,
         |  ((c - n_tokens) // 400)::BIGINT AS shard
         |FROM cum ORDER BY doc_id""".stripMargin,

    "q42_stratified_sample" ->
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 25 ORDER BY lang, rn""".stripMargin,

    "q41_token_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\W+'), x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM t)
        |SELECT doc_id, n_tokens, ((run - n_tokens) // 500)::BIGINT AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    // Schema-specific twin of the schema-DYNAMIC profiler: one UNION
    // branch per documents column, each recomputing the profile row
    // exactly (KMV is exact below k; approx_distinct counts null as
    // one value, n_values is the non-null count).
    "x27_profile" -> {
      def branch(c: String, dtype: String): String =
        s"""SELECT '$c' AS "column", '$dtype' AS dtype,
           |  count($c)::BIGINT AS n_values,
           |  (count(*) - count($c))::BIGINT AS n_nulls,
           |  (count(DISTINCT $c)
           |    + CASE WHEN count(*) > count($c) THEN 1 ELSE 0 END)::BIGINT
           |    AS approx_distinct,
           |  coalesce(min($c)::VARCHAR, '') AS min_value,
           |  coalesce(max($c)::VARCHAR, '') AS max_value
           |FROM documents""".stripMargin
      Seq("doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
        "source" -> "string", "n_chars" -> "bigint")
        .map((branch _).tupled)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "x26_kmv_distinct" ->
      """SELECT source,
        |  count(DISTINCT text)::BIGINT AS est_distinct,
        |  count(DISTINCT text)::BIGINT AS exact_distinct,
        |  0::BIGINT AS abs_err
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // The composition oracle: the pair set is Verify's own x04 dump
    // (__VERIFY_OUT__ is substituted with the dump dir by Verify);
    // DuckDB independently recomputes the loser rule + q34 verdict.
    "x25_curation_full" ->
      s"""WITH $duckGopherCtes,
         |$duckQualCte,
         |$duckLangCte,
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
         |losers AS (
         |  SELECT DISTINCT id_b AS doc_id
         |  FROM read_parquet('__VERIFY_OUT__/x04_minhash_lsh/*.parquet'))
         |SELECT d.doc_id,
         |  (k.doc_id IS NOT NULL) AS is_exact_keeper,
         |  qual.quality_score,
         |  lang.predicted_lang,
         |  gq2.gopher_keep,
         |  (k.doc_id IS NOT NULL AND qual.quality_score >= 0.3
         |   AND lang.predicted_lang IN ('en', 'id') AND gq2.gopher_keep
         |   AND l.doc_id IS NULL) AS keep,
         |  (l.doc_id IS NOT NULL) AS is_neardup_loser
         |FROM documents d
         |LEFT JOIN keepers k ON d.doc_id = k.doc_id
         |LEFT JOIN losers l ON d.doc_id = l.doc_id
         |JOIN qual ON d.doc_id = qual.doc_id
         |JOIN lang ON d.doc_id = lang.doc_id
         |JOIN gq2 ON d.doc_id = gq2.doc_id
         |ORDER BY d.doc_id""".stripMargin
  )

  /** The q17 summarizer CTE chain (sents -> renum -> n -> toks -> freq
    * -> senttok -> scored -> ranked), shared by the q17 and x07
    * oracles; `src` is the (doc_id, text) source relation. */
  /** Near-tie eligibility for kernel==SQL summarizer comparisons
    * (x07/x14): true iff the doc's sentence scores, computed with the
    * q17 SQL-parity arithmetic (exact integer frequency sums, one
    * division, one multiply — order-free IEEE, JVM == DuckDB
    * bit-for-bit), have pairwise gaps > 1e-9. Genuinely distinct
    * scores on these corpora differ by >= ~1/(4*q*q') for token
    * counts q,q' — orders of magnitude above the cut — while an exact
    * rational tie can differ ~1 ulp between the kernel's term-by-term
    * accumulation and the SQL's integer sum and flip the tie-break.
    */
  private def tieEligUdf = udf { (sents: Seq[String]) =>
    val stop = graft.text.Stopwords.set
    val toks = sents.map(_.toLowerCase(java.util.Locale.ROOT)
      .split("\\W+").filter(_.nonEmpty))
    val freq = scala.collection.mutable.HashMap.empty[String, Long]
    toks.foreach(_.foreach(w =>
      if (!stop.contains(w)) freq.update(w, freq.getOrElse(w, 0L) + 1L)))
    val n = sents.length
    val scores = toks.zipWithIndex.map { case (ws, i) =>
      val sum = ws.foldLeft(0L)((a, w) => a + freq.getOrElse(w, 0L))
      val base = if (ws.isEmpty) 0.0 else sum.toDouble / ws.length
      if (i < n * 0.2 || i > n * 0.8) base * 1.25 else base
    }.sorted
    var minGap = Double.MaxValue
    var i = 1
    while (i < scores.length) {
      val g = scores(i) - scores(i - 1)
      if (g < minGap) minGap = g
      i += 1
    }
    scores.length >= 2 && minGap > 1e-9
  }

  private def duckSummarizerCtes(src: String): String =
    s"""sents AS (
       |  SELECT doc_id, s.idx - 1 AS idx, trim(s.sentence) AS sentence FROM $src,
       |    LATERAL (SELECT unnest(string_split_regex(text, '[.!?]\\s+')) AS sentence,
       |                    generate_subscripts(string_split_regex(text, '[.!?]\\s+'), 1) AS idx) s
       |  WHERE trim(s.sentence) <> ''),
       |renum AS (
       |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1 AS idx,
       |         sentence FROM sents),
       |n AS (SELECT doc_id, count(*) AS n_sent FROM renum GROUP BY 1),
       |toks AS (
       |  SELECT doc_id, idx, unnest(list_filter(
       |    string_split_regex(lower(sentence), '\\W+'), x -> x <> '')) AS word
       |  FROM renum),
       |freq AS (
       |  SELECT doc_id, word, count(*) AS f FROM toks
       |  WHERE word NOT IN (${graft.text.Stopwords.set.toSeq.sorted.map(wq => "'" + wq.replace("'", "''") + "'").mkString(",")})
       |  GROUP BY 1, 2),
       |senttok AS (
       |  SELECT t.doc_id, t.idx, sum(coalesce(f.f, 0)) AS score_sum, count(*) AS n_words
       |  FROM toks t LEFT JOIN freq f ON t.doc_id = f.doc_id AND t.word = f.word
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT r.doc_id, r.idx, r.sentence, n.n_sent,
       |    coalesce(st.score_sum::DOUBLE / st.n_words, 0.0)
       |      * (CASE WHEN r.idx < n.n_sent * 0.2 OR r.idx > n.n_sent * 0.8
       |              THEN 1.25 ELSE 1.0 END) AS score
       |  FROM renum r JOIN n ON r.doc_id = n.doc_id
       |  LEFT JOIN senttok st ON r.doc_id = st.doc_id AND r.idx = st.idx),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY score DESC, idx) AS rn
       |  FROM scored)""".stripMargin
}
