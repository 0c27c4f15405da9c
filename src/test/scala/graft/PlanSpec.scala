package graft

import graft.gen.Corpus
import graft.pipe.ExtractJob
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the "would this survive 100x" checks:
  * pushdown reaches the parquet scan, dimension joins broadcast, the
  * relational stages stay in whole-stage codegen, and the kernel join
  * carries the salt key.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-plan")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"filter not pushed:\n$plan")
    // pruned read schema: only the two referenced columns
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$plan")
  }

  test("star-join dims broadcast (q06)") {
    val df = SparkEntry.queries("q06_broadcast_star_join")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dims must not sort-merge:\n$plan")
  }

  test("relational aggregation stays in whole-stage codegen (q01)") {
    val df = SparkEntry.queries("q01_lineitem_agg")(spark, sfDir)
    df.collect() // finalize the AQE plan first
    val plan = planOf(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*("), s"no codegen spans:\n$plan")
    assert(plan.contains("AQEShuffleRead coalesced"), s"AQE not coalescing:\n$plan")
  }

  test("extract pipeline: distinct-content OCR join is salted, spans splice has no extra shuffle") {
    val docs = Corpus.documents(spark, sfDir).toDF()
    val media = Corpus.media(spark, sfDir).toDF()
    val spans = ExtractJob.extractSpans(spark, docs, media)
    val plan = spans.queryExecution.optimizedPlan.toString
    assert(plan.contains("salt"), s"salt key missing from media join:\n$plan")
    // text branch must not touch media/bytes at all
    val textOnly = ExtractJob.extractSpans(spark,
      docs.select(col("doc_id"),
        filter(col("spans"), s => s("kind") === "text").as("spans")), media)
    assert(textOnly.filter(col("kind") === "media").count() == 0)
    // the text branch's native collapse call sits inside a whole-stage
    // codegen stage (a codegen fallback would run it interpreted)
    textOnly.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def stage(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match { case _: InputAdapter => Nil; case _ => p.children.flatMap(stage) })
    val all = nodes(textOnly.queryExecution.executedPlan)
    val collapsing = all.filter(_.expressions.exists(_.exists {
      case s: StaticInvoke => s.functionName == "collapseWs"
      case _ => false
    }))
    val codegen = all.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
    assert(collapsing.nonEmpty && collapsing.forall(n => codegen.exists(_ eq n)),
      s"text-branch collapse outside whole-stage codegen:\n${textOnly.queryExecution.executedPlan}")
  }

  test("media branch plan: ONE media scan, kernel width pinned against AQE coalescing") {
    // file-based media so scans are countable leaves
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-media").toString
    Corpus.media(spark, sfDir).toDF().write.mode("overwrite").parquet(dir)
    val docs = Corpus.documents(spark, sfDir).toDF()
    val media = spark.read.parquet(dir)
    val spans = ExtractJob.extractSpans(spark, docs, media)
    val leaves = spans.queryExecution.optimizedPlan.collectLeaves()
    val mediaScans = leaves.count(_.output.exists(_.name == "bytes"))
    assert(mediaScans == 1,
      s"the media table must be scanned exactly once (round-1 plan scanned it twice " +
        s"for the ref->hash side); got $mediaScans scans")
    val plan = spans.queryExecution.optimizedPlan.toString
    assert(plan.contains("RepartitionByExpression [content_hash"),
      s"kernel input must be pinned-width repartitioned by content_hash " +
        s"(AQE byte-coalescing otherwise collapses the decode stage to one task):\n$plan")

    // the structure kernels run on the same decode-once exchange
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    for (structure <- Seq(graft.pipe.StructureJob.run(spark, media),
                          graft.pipe.StructureJob.visualizations(spark, media))) {
      val optimized = structure.queryExecution.optimizedPlan
      val repartitions = optimized.collect { case r: RepartitionByExpression => r }
      assert(repartitions.size == 1 &&
        repartitions.head.partitionExpressions.exists(_.references.exists(_.name == "content_hash")) &&
        repartitions.head.numPartitions == ExtractJob.exchangeWidth(spark),
        s"structure kernel input must be one content_hash repartition at the kernel width:\n$optimized")
    }
  }

  /** How the summarizer kernel's call renders in an optimized plan. */
  private val SummarizerCall = "TextKernels.summarize("

  test("resumable plan: summarizer UDF sits ABOVE the range exchange (sampling never re-runs it)") {
    // the plan runResumable writes (before its observe)
    val docs = Corpus.documents(spark, sfDir).toDF()
    val media = Corpus.media(spark, sfDir).toDF()
    val out = ExtractJob.bucketedDocs(spark, docs, media, ExtractJob.Config())
    val optimized = out.queryExecution.optimizedPlan
    val plan = optimized.toString
    val kernelAt = plan.indexOf(SummarizerCall)
    val exchangeAt = plan.indexOf("RepartitionByExpression")
    assert(kernelAt >= 0, s"summarizer kernel missing from plan:\n$plan")
    assert(exchangeAt >= 0, s"range exchange missing from plan:\n$plan")
    // tree strings print parents first: the kernel projection must appear
    // BEFORE (above) the exchange, i.e. it runs after the shuffle and
    // range sampling only ever evaluates the cheap aggregate below
    assert(kernelAt < exchangeAt,
      s"summarizer must sit above the range exchange (kernel@$kernelAt vs exchange@$exchangeAt):\n$plan")

    // the range exchange is as wide as the kernel's content_hash
    // repartition: sized to the cluster, not to the 64 output buckets
    import org.apache.spark.sql.catalyst.expressions.SortOrder
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val repartitions = optimized.collect { case r: RepartitionByExpression => r }
    val (range, hash) = repartitions.partition(_.partitionExpressions.exists(_.isInstanceOf[SortOrder]))
    assert(range.size == 1 && hash.size == 1, s"one range and one hash repartition:\n$plan")
    assert(hash.head.partitionExpressions.exists(_.references.exists(_.name == "content_hash")),
      s"the hash repartition is the kernel's content_hash one:\n$plan")
    assert(range.head.numPartitions == hash.head.numPartitions,
      s"range width ${range.head.numPartitions} != kernel width ${hash.head.numPartitions}")
    assert(range.head.numPartitions == ExtractJob.exchangeWidth(spark))
  }

  test("similarity/dedup hot paths carry no interpreted HOF trees (native kernels only)") {
    // higher-order functions (aggregate/zip_with/transform over lambdas)
    // are CodegenFallback — interpreted per-row tree walks. Round 2's
    // IVF ran 151 s over 2,000 vectors because of exactly this; the
    // native kernels must stay on these paths.
    import spark.implicits._
    val emb = (0L until 64L).map(i => (i,
      Array.tabulate(16)(d => (graft.util.Det.double01(
        graft.util.Det.at(0xeedL + i, d.toLong)) * 2 - 1).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val cb = graft.ops.Similarity.trainIvf(emb, 16, nCentroids = 4, iters = 1)
    val pqcb = graft.ops.Similarity.trainPq(emb, 16, m = 4, codes = 4, iters = 1)
    val plans = Seq(
      "ivfTopK" -> graft.ops.Similarity.ivfTopK(emb, emb.limit(4), 16, cb, k = 3),
      "ivfPqTopK" -> graft.ops.Similarity.ivfPqTopK(emb, emb.limit(4), 16, cb, pqcb, k = 3),
      "annTopK" -> graft.ops.Similarity.annTopK(emb, emb.limit(4), 16, k = 3, planes = 4),
      "bruteForceTopK" -> graft.ops.Similarity.bruteForceTopK(emb, Seq.fill(16)(0.1f), 3),
      "embeddingNearDups" -> graft.ops.Similarity.embeddingNearDups(emb, 16, 0.99),
      "minhashLsh sigs" -> graft.ops.Dedup.minhashLsh(
        (0L until 16L).map(i => (i, s"doc $i words a b c d e")).toDF("doc_id", "text")))
    plans.foreach { case (name, df) =>
      val plan = planOf(df)
      // the HOF nodes render as aggregate(...) / zip_with(...) /
      // lambdafunction(...) in the executed plan
      Seq("zip_with(", "lambdafunction(").foreach { marker =>
        assert(!plan.toLowerCase.contains(marker),
          s"$name plan contains interpreted HOF '$marker':\n$plan")
      }
    }
  }

  test("text battery + extraction pipeline carry no interpreted HOF trees (round-5 purge)") {
    // the round-4 verdict's remaining interpreted-HOF family: the
    // gram/sentence/token windows under the dedup-text battery, the
    // q07 token counts, and the extraction pipeline's span assembly.
    // Native kernels (ngramJoin, sentencesSql, tokenXxhash64,
    // countInSet, tokenizeWords/tokenizeRaw) + lambda-free rewrites must
    // STAY on these paths — the OPTIMIZED plan is checked (cheap, no
    // execution) because several of these queries are corpus-sized.
    val names = Seq(
      "q07_token_count", "q08_word_freq", "q10_fingerprint",
      "q11_quality_score", "q12_langid", "q13_clamp_nav",
      "q14_scope_concat", "q15_stopword_ratio", "q17_summarize_sql",
      "q30_html_main_content", "q38_heavy_hitters", "q45_paragraph_dedup",
      "q48_substring_dedup", "q52_line_dedup", "q54_bigram_lm",
      "q60_bm25", "q61_winnow_fingerprints", "q64_dsir_weights",
      "q66_exact_quantiles", "q74_c4_line_filter", "q83_distinct_ngrams",
      "q85_ols_gram", "q102_shingle_containment", "x05_simhash",
      "x01_extract_spans", "x02_extract_docs", "x13_scope_page",
      "x16_pdf_extract", "x18_extract_text_spans")
    // the extraction pipeline also carries no Scala UDF: its summarizer
    // is a native kernel (x07/x14 keep their oracle-eligibility UDF)
    val udfFree = Set("x01_extract_spans", "x02_extract_docs")
    names.foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan.toString.toLowerCase
      Seq("zip_with(", "lambdafunction(").foreach { marker =>
        assert(!plan.contains(marker),
          s"$name optimized plan contains interpreted HOF '$marker'")
      }
      if (udfFree(name))
        assert(!plan.contains("udf("), s"$name optimized plan contains a Scala UDF:\n$plan")
    }
  }

  test("gopher/sessionize funnel through ONE data shuffle (window exchange reused by aggs)") {
    // groupBy keys that contain the window's partition key satisfy its
    // clustering, so the gram aggregation (doc_id, kind, g), the
    // per-doc rollup, and the session aggregation (user_id,
    // session_idx) must all REUSE the single window exchange — a
    // second hash exchange here would double the corpus shuffle at
    // 100 TB. (AQE's executed-plan toString prints the final plan and
    // the original, so counts are per-occurrence-halved by comparing
    // against the doubled expectation.)
    val g = graft.ops.TextAnalysis.gopherQuality(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    g.collect()
    val gPlan = planOf(g)
    val gHash = "Exchange hashpartitioning".r.findAllIn(gPlan).length
    assert(gHash <= 2, s"gopherQuality: expected one data shuffle (x2 AQE print), got $gHash:\n$gPlan")
    val s = graft.ops.Sessions.sessionize(
      spark.read.parquet(s"$sfDir/events.parquet"), tieBreak = Seq(col("event_id")))
    s.collect()
    val sPlan = planOf(s)
    val sHash = "Exchange hashpartitioning".r.findAllIn(sPlan).length
    assert(sHash <= 2, s"sessionize: expected one data shuffle (x2 AQE print), got $sHash:\n$sPlan")
  }

  test("skew-proof forms bound their shuffles: sessionizeSkewAware 2, asofJoinSkewAware 3 data exchanges") {
    // sessionizeSkewAware: (user,bucket) window+local agg reuse one
    // exchange, user-keyed phase 2 window+final agg reuse a second —
    // more than 2 means a phase stopped reusing its exchange and the
    // corpus shuffles again at 100 TB
    val sk = graft.ops.Sessions.sessionizeSkewAware(
      spark.read.parquet(s"$sfDir/events.parquet"),
      bucketUs = 3600L * 1000000L)
    sk.collect()
    val skPlan = planOf(sk)
    val skHash = "Exchange hashpartitioning".r.findAllIn(skPlan).length
    assert(skHash <= 4, s"sessionizeSkewAware: expected two data shuffles (x2 AQE print), got $skHash:\n$skPlan")
    // asofJoinSkewAware: right per-bucket agg, the small carry window,
    // and the (key,bucket) main window — the carry path must stay on
    // bucket-granular rows, never re-shuffling event-granular data
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val aj = graft.ops.Joins.asofJoinSkewAware(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_event_id")),
      "user_id", "ts", "ts", Seq("click_event_id"), bucketUs = 3600L * 1000000L)
    aj.collect()
    val ajPlan = planOf(aj)
    val ajHash = "Exchange hashpartitioning".r.findAllIn(ajPlan).length
    assert(ajHash <= 8, s"asofJoinSkewAware: expected <=4 data shuffles (x2 AQE print), got $ajHash:\n$ajPlan")
  }

  test("web-curation surface: map-side ops have ZERO exchanges, BM25 top-k is TakeOrdered, winnowing stays doc-keyed") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // cleanText + canonicalizeUrl are pure column expressions — any
    // Exchange here falsifies the "runs at scan speed" contract
    val clean = docs.select(
      graft.ops.TextAnalysis.cleanText(col("text")).as("c"))
    assert(!planOf(clean).contains("Exchange"),
      s"cleanText must be shuffle-free:\n${planOf(clean)}")
    val canon = docs.select(graft.ops.Web.canonicalizeUrl(
      concat(lit("https://WWW."), col("source"), lit(".COM/p"))).as("u"))
    assert(!planOf(canon).contains("Exchange"),
      s"canonicalizeUrl must be shuffle-free:\n${planOf(canon)}")
    // BM25: the top-k must plan as TakeOrderedAndProject — a global
    // Sort of every scored doc would materialize the corpus at 100 TB
    val bm = graft.ops.Retrieval.bm25TopK(docs, Seq("spark", "join"), 10)
    bm.collect()
    val bmPlan = planOf(bm)
    assert(bmPlan.contains("TakeOrderedAndProject"),
      s"bm25 top-k must be TakeOrdered, not global sort:\n$bmPlan")
    // winnowing: one doc-keyed window exchange + the distinct — no
    // gram-keyed corpus-wide shuffle may appear
    val wf = graft.ops.Dedup.winnowFingerprints(docs)
    wf.collect()
    val wfPlan = planOf(wf)
    val wfHash = "Exchange hashpartitioning".r.findAllIn(wfPlan).length
    assert(wfHash <= 4,
      s"winnowFingerprints: expected <=2 data shuffles (x2 AQE print), got $wfHash:\n$wfPlan")
  }

  test("unpartitioned windows rank bounded heads only (TakeOrdered below the window, never a corpus sort)") {
    // The repo has exactly five unpartitioned-window sites; the three
    // driven here rank the survivors of an orderBy.limit head. The
    // plan must show TakeOrderedAndProject (per-partition top-k +
    // driver merge of k rows) BELOW the window — a global SortExec of
    // the input feeding the window would funnel the corpus through
    // one task at 100 TB. (The other two sites — exactIntQuantiles
    // with no keys and balanceIndex — window a value-domain histogram
    // and a slice-count table, both aggregation-bounded by
    // construction.) The WindowExec "No Partition Defined" WARN these
    // emit is the expected signature of a bounded head.
    val docs = spark.range(10000).select(
      concat(lit("d"), col("id")).as("doc_id"),
      (pmod(col("id"), lit(97)) + lit(1)).cast("double").as("weight"),
      concat(lit("w"), pmod(col("id"), lit(50)), lit(" shared corpus text")).as("text"))

    val ps = graft.ops.Sampling.prioritySample(docs, col("weight"), k = 7)
    val psPlan = planOf(ps)
    assert(psPlan.contains("TakeOrderedAndProject"),
      s"prioritySample must TakeOrdered, not globally sort:\n$psPlan")
    val psWin = psPlan.indexOf("Window")
    assert(psWin >= 0 && psWin < psPlan.indexOf("TakeOrderedAndProject"),
      s"prioritySample's rank window must sit ABOVE the k-row head:\n$psPlan")
    assert(ps.count() == 7)

    val zh = graft.ops.Distrib.zipfHeaps(docs, topN = 25)
    val zhPlan = planOf(zh)
    assert(zhPlan.contains("TakeOrderedAndProject"),
      s"zipfHeaps' fit head must be TakeOrdered:\n$zhPlan")
    val zhWin = zhPlan.indexOf("Window")
    assert(zhWin >= 0 && zhWin < zhPlan.indexOf("TakeOrderedAndProject"),
      s"zipfHeaps' rank window must sit ABOVE the topN head:\n$zhPlan")

    val scored = docs.select(col("doc_id"), col("weight").as("score"))
    val rbo = graft.ops.Retrieval.rankBiasedOverlap(
      scored, scored.withColumn("score", col("score") * 2.0), k = 9, p = 0.9)
    val rboPlan = planOf(rbo)
    assert("TakeOrderedAndProject".r.findAllIn(rboPlan).length >= 2,
      s"both RBO rankings must be TakeOrdered heads:\n$rboPlan")
    assert(rbo.count() == 1)
  }

  test("OCR runs once per distinct content hash (cache semantics, C5/P1)") {
    // count kernel invocations via an accumulator-free proxy: the
    // distinct-content side row count equals distinct sha2 of media
    val media = Corpus.media(spark, sfDir).toDF()
    val distinctContents = media.select(sha2(col("bytes"), 256)).distinct().count()
    val refs = media.count()
    assert(distinctContents == refs) // generator: distinct text per ref
    val docs = Corpus.documents(spark, sfDir).toDF()
    val usedRefs = docs.select(explode(col("spans")).as("s"))
      .filter(col("s.kind") === "media").select(col("s.media_ref")).distinct().count()
    assert(usedRefs <= distinctContents)
  }

  /** `file:line: match` for every match of `pattern` in the code of
    * src/main outside `skip`: comment lines are skipped and string
    * literals blanked.
    */
  private def sourceHits(pattern: scala.util.matching.Regex,
                         skip: Set[String] = Set.empty): Seq[String] = {
    val literal = "\"[^\"]*\"".r
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val root = new java.io.File("src/main/scala")
    val files = scalaFiles(root)
    assert(files.size > 50, s"scanned ${files.size} files under ${root.getAbsolutePath}")
    for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if !skip(rel)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).zipWithIndex
      if !Seq("*", "/*", "//").exists(line.trim.startsWith)
      hit <- pattern.findAllIn(literal.replaceAllIn(line, "\"\"").split("//").head)
    } yield s"$rel:${i + 1}: $hit"
  }

  test("one pin policy: only Pin, GraftBridge and the frozen Bench pin or release frames") {
    val owners = Set("graft/util/Pin.scala", "org/apache/spark/sql/GraftBridge.scala",
      "graft/Bench.scala")
    // any call, dotted, bare or infix, with or without parentheses
    val pinCall = raw"\b(localCheckpoint|checkpoint|persist|cache|unpersist|getPersistentRDDs)\b".r
    val hits = sourceHits(pinCall, owners)
    assert(hits.isEmpty, hits.mkString("pins outside graft.util.Pin:\n", "\n", ""))
  }

  test("one value per column: no parameter named ...Col has a default value") {
    // the input schema is fixed (doc_id, text, source, vec_id,
    // embedding, ...): operators name their columns as literals, and a
    // column parameter stays only where callers pass different
    // columns, so every caller names one; vals and vars are not
    // parameters
    val defaulted = raw"(?<!val )(?<!var )\b\w+Col\s*:[^=(){},]*[^=<>!]=(?![=>])".r
    val hits = sourceHits(defaulted)
    assert(hits.isEmpty, hits.mkString(s"${hits.size} defaulted column parameters:\n", "\n", ""))
  }
}
