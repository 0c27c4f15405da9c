package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, cleaning, diversity and script audits. All pure column
  * expressions (codegen) so they run at corpus scale as map-side work
  * with zero shuffle.
  */
object TextAnalysis {

  /** Tokenization used by every operator here — the native
    * [[graft.functions.GraftFunctions.tokenizeWords]] kernel (one fused
    * pass; law-checked in FunctionsSpec against its declarative twin).
    */
  private def toks(text: Column): Column =
    graft.functions.GraftFunctions.tokenizeWords(text)

  /** Marker-word language scores (n-gram-heuristic family): counts of
    * language-indicative stopwords. Deterministic, SQL-expressible.
    */
  val enMarkers = Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "with")
  val idMarkers = Seq("yang", "dan", "di", "ini", "itu", "dari", "dalam", "tidak", "dengan", "untuk")

  def markerHits(text: Column, markers: Seq[String]): Column =
    graft.functions.GraftFunctions.countInSet(toks(text), markers)

  def predictedLang(text: Column): Column = {
    val en = markerHits(text, enMarkers)
    val id = markerHits(text, idMarkers)
    when(en > id, "en").when(id > en, "id")
      .when(en > 0, "en").otherwise("und")
  }

  /** Quality-score feature vector per document: length, word count,
    * mean word length, punctuation ratio, stopword ratio, digit ratio,
    * and a composite [0,1] score from clamped heuristics.
    */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val t = col("text")
    val tk = toks(t)
    val stopHits = graft.functions.GraftFunctions.countInSet(
      tk, graft.text.Stopwords.set.toSeq)
    docs
      .withColumn("n_chars", length(t))
      .withColumn("n_words", size(tk))
      .withColumn("mean_word_len",
        // sum of token lengths == length of the separator-less join
        // (char counts are additive) — codegen'd, no per-token
        // interpreted aggregate lambda
        round(length(array_join(tk, "")).cast("double") /
          greatest(size(tk), lit(1)), 4))
      .withColumn("punct_ratio",
        round((length(t) - length(regexp_replace(t, "[.!?,;:]", ""))).cast("double") /
          greatest(length(t), lit(1)), 4))
      .withColumn("stopword_ratio",
        round(stopHits.cast("double") / greatest(size(tk), lit(1)), 4))
      .withColumn("digit_ratio",
        round((length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double") /
          greatest(length(t), lit(1)), 4))
      .withColumn("quality_score",
        round(least(lit(1.0), size(tk).cast("double") / 100.0) *
          when(col("mean_word_len").between(3.0, 10.0), 1.0).otherwise(0.5) *
          (lit(1.0) - least(col("punct_ratio") * 4, lit(0.5))), 4))
  }

  /** Smoothed TF-IDF top-3 terms per document (the term-weighting
    * stage of a curation pipeline: distinctive-vocabulary features,
    * keyword extraction). tfidf = tf * (ln((N+1)/(df+1)) + 1) —
    * the sklearn-style smooth form, so unseen-df edge cases are
    * total. Two hash aggregations (tf, then df over the already-
    * distinct (doc, word) pairs — never a second corpus pass) plus
    * one broadcast of the single-row corpus count; the per-doc top-3
    * is a rank window. Ties break lexicographically for determinism.
    */
  def tfidfTop(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = docs.select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val tf = tokens.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("tfidf"), col("rn"))
  }

  /** The eight Gopher "required stopwords" (Rae et al. 2021, A1.1):
    * a document must contain at least two to pass the gate.
    */
  val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality gate (Rae et al. 2021 A1.1 rule family, the
    * occurrence-fraction variant of the repetition rules): per-doc
    * word-count bounds, mean word length, symbol-to-word ratio
    * ('#'/'...'), alphabetic-word fraction, required-stopword hits,
    * top-bigram fraction, duplicate-trigram fraction, and the composite
    * keep flag.
    *
    * Fully relational n-gram construction — tokens posexplode once,
    * bigrams/trigrams come from `lead` windows over (doc, pos), then
    * hash-aggregate per (doc, gram): no interpreted lambda anywhere,
    * and the only shuffles are keyed on doc_id(+gram), so the operator
    * scales as independent per-document groups.
    */
  def gopherQuality(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("text").as("__t"))
      .withColumn("n_symbols",
        (regexp_count(col("__t"), lit("#")) +
          regexp_count(col("__t"), lit("\\.\\.\\."))).cast("long"))
    val tokens = base
      .select(col("doc_id"), posexplode(toks(col("__t"))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "w")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    // ONE token pass feeds everything: the lead window builds bigram/
    // trigram strings, then each token row explodes into up to three
    // kinded gram rows (tok/bi/tri) so a single (doc, kind, gram)
    // hash aggregation and a single per-doc rollup replace what would
    // otherwise be three separate scans+shuffles over the corpus —
    // at 100 TB the difference between one window exchange and three.
    val gramCounts = tokens
      .withColumn("w1", lead(col("w"), 1).over(w))
      .withColumn("w2", lead(col("w"), 2).over(w))
      .select(col("doc_id"), explode(array(
        struct(lit("tok").as("kind"), col("w").as("g")),
        struct(lit("bi").as("kind"),
          when(col("w1").isNotNull, concat_ws(" ", col("w"), col("w1"))).as("g")),
        struct(lit("tri").as("kind"),
          when(col("w2").isNotNull,
            concat_ws(" ", col("w"), col("w1"), col("w2"))).as("g")))).as("e"))
      .select(col("doc_id"), col("e.kind").as("kind"), col("e.g").as("g"))
      .filter(col("g").isNotNull)
      .groupBy(col("doc_id"), col("kind"), col("g"))
      .agg(count(lit(1)).as("c"))
    val tok = col("kind") === "tok"
    val bi = col("kind") === "bi"
    val tri = col("kind") === "tri"
    val stats = gramCounts.groupBy(col("doc_id")).agg(
      sum(when(tok, col("c")).otherwise(0L)).as("n_words"),
      // weighted mean == plain mean over token multiplicity (exact:
      // integer sums, one IEEE division)
      (sum(when(tok, length(col("g")) * col("c")).otherwise(0L)).cast("double") /
        greatest(sum(when(tok, col("c")).otherwise(0L)), lit(1L))).as("mwl"),
      sum(when(tok && col("g").rlike("[a-z]"), col("c")).otherwise(0L)).as("alpha_words"),
      sum(when(tok && col("g").isin(gopherStops.map(s => s: Any): _*), col("c"))
        .otherwise(0L)).as("req_stop_hits"),
      max(when(bi, col("c"))).as("max_bi"),
      sum(when(bi, col("c")).otherwise(0L)).as("tot_bi"),
      sum(when(tri && col("c") > 1, col("c")).otherwise(0L)).as("dup_tri"),
      sum(when(tri, col("c")).otherwise(0L)).as("tot_tri"))
    base.select(col("doc_id"), col("n_symbols"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        round(coalesce(col("mwl"), lit(0.0)), 4).as("mean_word_len"),
        round(col("n_symbols").cast("double") /
          greatest(coalesce(col("n_words"), lit(0L)), lit(1L)), 4).as("symbol_word_ratio"),
        round(coalesce(col("alpha_words"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_words"), lit(0L)), lit(1L)), 4).as("frac_alpha_words"),
        coalesce(col("req_stop_hits"), lit(0L)).as("req_stop_hits"),
        round(coalesce(col("max_bi"), lit(0L)).cast("double") /
          greatest(coalesce(col("tot_bi"), lit(0L)), lit(1L)), 4).as("top_bigram_frac"),
        round(coalesce(col("dup_tri"), lit(0L)).cast("double") /
          greatest(coalesce(col("tot_tri"), lit(0L)), lit(1L)), 4).as("dup_trigram_frac"))
      .withColumn("gopher_keep",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") <= 0.1 &&
          col("frac_alpha_words") >= 0.8 &&
          col("req_stop_hits") >= 2L &&
          col("top_bigram_frac") <= 0.2 &&
          col("dup_trigram_frac") <= 0.3)
  }

  /** PII patterns (RE2-compatible — same semantics in the DuckDB
    * oracle): URLs first (they may embed '@'), then emails, then
    * international dashed phone numbers.
    */
  val urlRe = "https?://[^\\s]+"
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrub for training corpora: count then redact URLs, emails,
    * and phone numbers with typed placeholders. One codegen'd regexp
    * projection — map-side only, no shuffle.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val t = col("text")
    // counts reconcile with placeholders: the replacement chain rewrites
    // URLs FIRST, so an email/phone embedded in a URL never gets its own
    // placeholder — count them on the URL-stripped text to match
    val noUrl = regexp_replace(t, urlRe, " ")
    docs.select(col("doc_id"),
      regexp_count(t, lit(urlRe)).cast("long").as("n_urls"),
      regexp_count(noUrl, lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(noUrl, lit(phoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(regexp_replace(t,
        urlRe, "<URL>"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>").as("scrubbed"))
  }

  /** Canonical text cleanup — the ftfy-ish "fix the bytes" stage every
    * corpus pipeline runs before fingerprinting or quality gates:
    *
    *   1. Unicode NFC (native [[graft.functions.NfcKernel]]
    *      with an already-normalized fast path — canonically-equal
    *      byte variants must collapse before any dedup key);
    *   2. CR/CRLF -> LF;
    *   3. strip C0/DEL control chars (tab and newline survive);
    *   4. collapse horizontal whitespace runs to one space;
    *   5. drop spaces hugging newlines;
    *   6. collapse 3+ blank-line runs to one blank line;
    *   7. strip ALL leading/trailing whitespace (regexp, not trim():
    *      trim strips only spaces, and step 4 deliberately leaves
    *      newlines intact — a boundary '\n' must not survive).
    *
    * All steps are codegen'd regexp_replace chains (RE2-compatible —
    * the same chain is the DuckDB oracle) over one projection:
    * map-side at scan speed, zero shuffle, no UDF.
    */
  def cleanText(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      graft.functions.GraftFunctions.nfcNormalize(text),
      "\r\n?", "\n"),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[^\\S\\n]+", " "),
      " ?\n ?", "\n"),
      "\n{3,}", "\n\n"),
      "^\\s+|\\s+$", "")

  /** Per-document character-level Shannon entropy (nats) — the cheap
    * low-entropy spam signal (keyboard mash, "aaaa…", template runs)
    * CCNet/RefinedWeb-family filters apply before any model-based
    * scoring. Relational form: explode characters by position
    * (`substring` over a generated index — identical semantics in any
    * engine, no HOF in the plan), one (doc, char) hash aggregation,
    * then per-doc H = ln n − Σ c·ln c / n in a second doc-keyed agg —
    * both shuffles doc-keyed, partial aggregation applies, per-doc
    * state is the doc's own alphabet; `low_entropy` flags entropy below
    * 2 nats. round(6) absorbs libm ulps (the
    * engine-wide double contract). Empty/NULL docs report entropy 0
    * over 0 chars (flagged low — nothing there).
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    // sequence(1, 0) would DESCEND in Spark — guard empty/null text to
    // a null array (posexplode of null emits no rows, matching DuckDB's
    // empty generate_series)
    val positions = when(length(col("text")) > 0,
      sequence(lit(1), length(col("text"))))
    val counted = docs
      .select(col("doc_id"), col("text"), posexplode(positions))
      .select(col("doc_id"), substring(col("text"), col("col"), lit(1)).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    val ent = counted.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("__clc"))
      .select(col("doc_id"), col("n"),
        round(log(col("n").cast("double")) - col("__clc") / col("n").cast("double"), 6)
          .as("entropy"))
    docs.select(col("doc_id")).join(ent, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("entropy"), lit(0.0)).as("entropy"))
      .withColumn("low_entropy", col("entropy") < 2.0)
  }

  /** Corpus diversity audit — distinct-n (Li et al. 2016: the ratio
    * of distinct to total n-gram occurrences). Low distinct-2/3 marks
    * templated or repetitive slices (boilerplate farms, generated
    * spam) that per-document gates like the Gopher lead-window stats
    * can miss when the repetition is ACROSS documents; the slice-level
    * companion to [[qualityFeatures]]'s per-doc signals.
    *
    * ONE corpus scan for every requested n (the per-n gram arrays
    * concatenate into a single struct explode, tokenizing once) and
    * one (group, n, gram) aggregation. Scale note: `countDistinct`
    * over n-grams is the one two-phase aggregation here — at 10^12
    * docs swap it for [[Sketches.KmvDistinct]] (mergeable, O(k)
    * state); at oracle scale the exact form IS the oracle. Docs
    * shorter than n contribute no n-grams (a diversity metric counts
    * real n-grams only — unlike [[Dedup.shingles]], whose whole-doc
    * degrade exists for dedup recall).
    */
  def distinctNgrams(docs: DataFrame, ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be >= 1")
    // one scan for all n: an array of native per-n gram arrays (the
    // codegen NgramKernel — short docs yield empty arrays inside
    // the kernel), posexplode recovers WHICH n each array carries via
    // its position, then a second explode flattens the grams. Two
    // generators, zero interpreted lambdas (the former
    // transform(sequence(...), struct(...)) walked an expression tree
    // per gram per row).
    val nsSorted = ns.distinct.sorted
    docs
      .withColumn("__toks", graft.functions.GraftFunctions.tokenizeWords(col("text")))
      .select(col("source"),
        posexplode(array(nsSorted.map(n =>
          graft.functions.GraftFunctions.ngramJoin(col("__toks"), n)): _*)))
      .toDF("source", "__pos", "__grams")
      .select(col("source"),
        element_at(typedLit(nsSorted), col("__pos") + 1).as("n"),
        explode(col("__grams")).as("gram"))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("n_total"), countDistinct(col("gram")).as("n_distinct"))
      .withColumn("ratio", round(col("n_distinct").cast("double") /
        greatest(col("n_total"), lit(1L)).cast("double"), 6))
      .select(col("source"), col("n"), col("n_total"), col("n_distinct"), col("ratio"))
  }

  /** Per-script character counts: number of characters of `text` in
    * the given Unicode script (Java regex script class, e.g.
    * "\\p{IsCyrillic}"). Length-difference form — one codegen'd
    * regexp_replace, no explode.
    */
  def scriptChars(text: Column, javaScriptClass: String): Column = {
    val t = coalesce(text, lit(""))
    length(t) - length(regexp_replace(t, javaScriptClass, ""))
  }

  /** Unicode-script mix profile — the multilingual-curation audit that
    * language-ID alone misses: a "en"-labeled page that is 40% CJK is
    * either mislabeled, boilerplate-injected, or a scrape artifact.
    * Emits per-row counts for the four major scripts + decimal digits,
    * the non-Latin letter fraction, and the dominant script (most
    * chars; ties break latin > cyrillic > han > arabic > none —
    * deterministic, and `none` only when all four are zero).
    *
    * Scale shape: five codegen'd regexp_replace projections per row,
    * map-side only — zero shuffle; the downstream per-corpus rollup is
    * whatever the caller groups by.
    */
  def scriptProfile(docs: DataFrame): DataFrame = {
    val t = col("text")
    val withCounts = docs
      .withColumn("n_latin", scriptChars(t, "\\p{IsLatin}"))
      .withColumn("n_cyrillic", scriptChars(t, "\\p{IsCyrillic}"))
      .withColumn("n_han", scriptChars(t, "\\p{IsHan}"))
      .withColumn("n_arabic", scriptChars(t, "\\p{IsArabic}"))
      .withColumn("n_digit", scriptChars(t, "\\p{Nd}"))
    val letters = col("n_latin") + col("n_cyrillic") + col("n_han") + col("n_arabic")
    withCounts
      .withColumn("non_latin_frac",
        when(letters > 0,
          round((letters - col("n_latin")).cast("double") / letters.cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn("dominant_script",
        when(letters === 0, lit("none"))
          .when(col("n_latin") >= greatest(col("n_cyrillic"), col("n_han"), col("n_arabic")), lit("latin"))
          .when(col("n_cyrillic") >= greatest(col("n_han"), col("n_arabic")), lit("cyrillic"))
          .when(col("n_han") >= col("n_arabic"), lit("han"))
          .otherwise(lit("arabic")))
  }
}
