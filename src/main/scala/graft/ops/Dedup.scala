package graft.ops

import graft.util.Pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines —
  * the generalization of the reference's content-memoization (its OCR
  * cache keys repeat work away, `app2.py:329-379`; these do the same
  * for whole corpora). All are declarative DataFrame programs: Catalyst
  * handles pushdown, AQE handles the skewed group sizes.
  *
  * Scale notes (100 TB): exact dedup is one hash-shuffle on a 32-byte
  * key; MinHash-LSH shuffles (band, bucket-hash) pairs — bucket sizes
  * are bounded by banding plus an explicit cap (with a queryable audit
  * companion) so the pair join never quadratic-explodes on the full
  * corpus, only within buckets; SimHash uses pigeonhole multi-index
  * blocking (maxDist+1 chunk indexes — guaranteed recall at the
  * threshold, same capped-block contract).
  */
object Dedup {

  /** THE normalized-text form shared by every "same document" key:
    * lowercase + whitespace collapse + trim. One definition — keys
    * must never disagree about what "the same text" is.
    */
  def normalizedText(text: Column): Column =
    // native one-pass collapse+trim (round-6) — byte-for-byte the old
    // trim(regexp_replace(lower(text), "\s+", " ")) (law-checked in
    // FunctionsSpec); fingerprint() runs on every dedup path, so the
    // Matcher.appendReplacement loop was pure per-row overhead
    graft.functions.GraftFunctions.collapseWs(lower(text))

  /** Normalized-text key used by exact dedup / fingerprinting:
    * [[normalizedText]], md5.
    */
  def fingerprint(text: Column): Column =
    md5(normalizedText(text))

  /** Exact dedup: one row per distinct normalized content with the
    * group size and the keeper (minimum doc_id).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), fingerprint(col(textCol)).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))

  /** Word n-gram shingles of a document, lowercase, distinct.
    * Gram windows are the native codegen [[graft.functions.NgramKernel]]
    * (the interpreted `transform(sequence(...))` twin is
    * law-checked in FunctionsSpec); the degenerate short-doc branch
    * (fewer than n tokens -> ONE whole-doc shingle, dedup recall for
    * short docs) stays declarative.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = graft.functions.GraftFunctions.tokenizeWords(text)
    array_distinct(
      when(size(toks) >= n, graft.functions.GraftFunctions.ngramJoin(toks, n))
        .otherwise(array(array_join(toks, " "))))
  }

  /** MinHash signatures over one representative per distinct normalized
    * content. Exact duplicates are collapsed by the fingerprint
    * aggregate: clusters of identical text would otherwise meet in
    * every band bucket and blow the self-join up quadratically
    * (standard practice at corpus scale); exact() reports the
    * identical groups separately.
    *
    * Plan shape (round-6, guide §2.3/§8 — shuffle the text once, then
    * only proxies): ONE pinned-width repartition by id parallelizes
    * the kernel (REPARTITION_BY_NUM is exempt from AQE coalescing,
    * and the corpus files here are far smaller than any scan split,
    * so scan parallelism alone cannot feed the kernel — measured 13 s
    * single-task when the kernel rode the raw one-file scan vs ~2 s
    * at pinned width), the signature is computed IN that stage, and
    * the fingerprint collapse then shuffles only (fp 16B, id,
    * sig k×8B). The round-5 form shuffled the full text TWICE — once
    * into the fingerprint collapse, once into the re-parallelizing
    * repartition after it. Members of one fingerprint group share the
    * normalized text, and the tokenizer lowercases and splits on \W+
    * (case and whitespace-run differences — the only differences a
    * group admits — vanish under both), so every member's token
    * sequence, hence signature, is identical: first(sig) is
    * deterministic exactly as first(text) was. Trade-off, documented:
    * the kernel now runs once per DOCUMENT rather than once per
    * distinct content — under an extreme exact-dup ratio the round-5
    * collapse-first order saves kernel CPU at the price of the second
    * full-text shuffle; at web-scale dup ratios (and in this corpus,
    * which has none) the full-text exchange is the scarcer resource.
    */
  private def signaturesOf(docs: DataFrame, k: Int,
                           idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism * 2, col("id"))
      .select(fingerprint(col("__text")).as("__fp"), col("id"),
        graft.functions.GraftFunctions.minhashSig(
          graft.functions.GraftFunctions.shingleHashes(col("__text"), 3), k).as("sig"))
      .groupBy(col("__fp"))
      .agg(min(col("id")).as("id"), first(col("sig")).as("sig"))
      .select(col("id"), col("sig"))

  /** (id, sig, band, bucket) band memberships of the signatures —
    * bucket keys by the native [[graft.functions.SigKernels.bandKeys]] fold
    * (one loop per row; docs pair iff a band slice matches exactly, so
    * the key derivation only needs determinism, not a specific hash).
    */
  private def bandedSignatures(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    // bands must tile the signature exactly: bands > k makes every
    // band an empty slice (one identical constant key per band for
    // EVERY doc — an all-pairs bucket), and k % bands != 0 silently
    // drops the trailing signature slots from banding
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k)")
    sigs.select(
      col("id"), col("sig"),
      posexplode(graft.functions.GraftFunctions.sigBandKeys(col("sig"), bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Audit companion of [[minhashLsh]]: the (band, bucket) groups LARGER
    * than maxBucket — exactly the memberships minhashLsh(..., maxBucket)
    * excludes from pairing. Same banding plan, so what this reports is
    * what the operator dropped; run it whenever the cap may have fired.
    */
  def lshOversizedBuckets(docs: DataFrame, k: Int = 32, bands: Int = 8,
                          maxBucket: Long = 1L << 20,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bandedSignatures(signaturesOf(docs, k, idCol, textCol), k, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBucket)

  /** Banded-LSH detection probability — the MMDS S-curve (Leskovec,
    * Rajaraman & Ullman, Mining of Massive Datasets §3.4): a pair
    * whose signatures agree with probability `sim` (≈ its Jaccard
    * similarity) is caught by (bands × rowsPerBand) banding with
    *
    *   P(detect) = 1 − (1 − sim^rowsPerBand)^bands
    *
    * The parameter-audit companion to [[minhashLsh]]'s runtime audits
    * ([[lshOversizedBuckets]]): oversized-bucket audits report what the
    * CAP excluded; this reports what the BANDING ITSELF is expected to
    * miss at each similarity level — apply it to a verified pair set
    * ([[ngramJaccard]]) to get the expected recall of a shipped config
    * on known near-dups before re-running a 10^12-doc dedup with new
    * parameters. Crossover threshold s* ≈ (1/bands)^(1/rowsPerBand).
    * Output round(6)-pinned on a round(4)-pinned input so both SQL
    * engines agree (the q80 pinned-pow contract).
    */
  def lshDetectionProb(sim: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands >= 1 && rowsPerBand >= 1, "bands >= 1, rowsPerBand >= 1")
    round(lit(1.0) - pow(lit(1.0) - pow(sim, lit(rowsPerBand)), lit(bands)), 6)
  }

  /** MinHash + LSH banding near-duplicate pairs.
    *
    * k hashes split into `bands` bands of `k/bands` rows; docs sharing
    * any band bucket are candidates; candidates are verified by
    * estimated Jaccard (signature agreement) >= threshold. The
    * band/bucket self-join is the only shuffle that matters at scale;
    * the bucket key includes the band id so buckets stay small.
    */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.5,
                 k: Int = 32, bands: Int = 8,
                 idCol: String = "doc_id", textCol: String = "text",
                 maxBucket: Long = 1L << 20): DataFrame = {
    val sigs = signaturesOf(docs, k, idCol, textCol)

    // bucket-size cap: a single boilerplate bucket that somehow survives
    // the exact-dup collapse (near-identical templated text) would make
    // the self-join quadratic in that bucket. Buckets above maxBucket
    // are EXCLUDED from pairing. The exclusion is never silent: run
    // [[lshOversizedBuckets]] (same banding plan, same maxBucket) to
    // enumerate exactly which buckets were dropped and how large they
    // were — truncation is a first-class queryable fact. The window
    // count shares the join's (band,bucket) shuffle — no extra
    // exchange.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))
    val banded = bandedSignatures(sigs, k, bands)
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")

    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      // estimate + threshold BEFORE the pair dedup: the dedup shuffle
      // then moves (id, id, double) rows, not two k-long signatures.
      // Agreement count is the native agreement loop (the zip_with
      // form would be an interpreted tree walk per candidate pair).
      .withColumn("est_jaccard",
        graft.functions.GraftFunctions.sigAgreement(col("sig_a"), col("sig_b"))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** 64-bit SimHash over tokens (each token hashed once; per-bit vote
    * +-1; bit set where the vote is positive). The hot path is the
    * native kernel [[graft.functions.SigKernels.simhash64]] — one
    * loop per row inside whole-stage codegen; its declarative
    * higher-order-function twin is law-checked in FunctionsSpec.
    */
  def simhash(text: Column): Column =
    graft.functions.GraftFunctions.simhash64(
      graft.functions.GraftFunctions.tokenXxhash64(text))

  /** SimHash near-dup pairs over (id, sh) rows with GUARANTEED recall
    * at `hamming <= maxDist`: pigeonhole multi-index blocking. The 64
    * bits split into m = maxDist+1 chunks; two hashes within maxDist
    * differ in at most maxDist bit positions, so by pigeonhole they
    * agree EXACTLY on at least one chunk — every qualifying pair
    * collides in >= 1 of the m indexes (the old single 16-bit-prefix
    * block missed ~99% of pairs at maxDist=16). Candidates are
    * verified by exact Hamming distance and deduped.
    *
    * Scale note: chunk-key cardinality is 2^(64/m) — the recall
    * guarantee is cheap for small maxDist (maxDist=3 -> four 16-bit
    * indexes, the classic Manku/Google configuration for 10^10+ docs)
    * and gets block-heavy as maxDist grows; blocks above `maxBlock`
    * are excluded from pairing — never silently: the audit companion
    * [[simhashOversizedBlocks]] (same index plan, same maxBlock)
    * enumerates exactly what was dropped.
    */
  /** (id, sh, chunk, cval) pigeonhole index memberships: m = maxDist+1
    * chunks of ~64/m bits each.
    */
  private def chunkIndexed(hashed: DataFrame, maxDist: Int): DataFrame = {
    val m = maxDist + 1
    val width = 64 / m
    val chunks = (0 until m).map { i =>
      val lo = i * width
      val w = if (i == m - 1) 64 - lo else width
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      struct(lit(i).as("chunk"),
        shiftrightunsigned(col("sh"), lo).bitwiseAND(lit(mask)).as("cval"))
    }
    hashed
      .select(col("id"), col("sh"), explode(array(chunks: _*)).as("c"))
      .select(col("id"), col("sh"), col("c.chunk").as("chunk"), col("c.cval").as("cval"))
  }

  /** Audit companion of [[simhashPairsFromHashes]]: the (chunk, cval)
    * blocks larger than maxBlock — exactly the memberships the pairing
    * excludes at the same maxBlock.
    */
  def simhashOversizedBlocks(hashed: DataFrame, maxDist: Int,
                             maxBlock: Long = 1L << 20): DataFrame =
    chunkIndexed(hashed, maxDist)
      .groupBy(col("chunk"), col("cval"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBlock)

  def simhashPairsFromHashes(hashed: DataFrame, maxDist: Int,
                             maxBlock: Long = 1L << 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("chunk"), col("cval"))
    val indexed = chunkIndexed(hashed, maxDist)
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBlock)
      .drop("__bn")
    val a = indexed.select(col("chunk"), col("cval"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = indexed.select(col("chunk"), col("cval"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk", "cval"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** SimHash near-dup pairs from raw text: exact-duplicate collapse
    * (identical docs all share a simhash and would pair quadratically
    * within their block — exact() reports those groups separately),
    * then pigeonhole multi-index pairing.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 8,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // simhash before the exact-dup collapse (round-6, the signaturesOf
    // rationale): one pinned-width repartition by id parallelizes the
    // kernel (the one-file bench scan would otherwise serialize it),
    // then only (fp, id, 8-byte sh) shuffles into the collapse — the
    // round-5 form shuffled the text twice. Identical normalized text
    // ⇒ identical lowercase token multiset ⇒ identical simhash, so
    // first(sh) is deterministic.
    val reps = docs
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism * 2, col("id"))
      .select(fingerprint(col("__text")).as("__fp"), col("id"),
        simhash(col("__text")).as("sh"))
      .groupBy(col("__fp"))
      .agg(min(col("id")).as("id"), first(col("sh")).as("sh"))
      .select(col("id"), col("sh"))
    simhashPairsFromHashes(reps, maxDist)
  }

  /** Exact n-gram Jaccard for candidate pairs (the precise verifier
    * behind MinHash's estimate). pairs must carry id_a/id_b.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // texts join first, shingles AFTER (round-6): the joins prune to
    // pair members before the kernel runs, so shingling costs
    // O(|pairs|), not O(|docs|) — the round-5 form shingled the whole
    // corpus twice (once per join branch) to verify a pair-sized
    // candidate set, and shuffled the shingle ARRAYS instead of the
    // shorter raw text wherever the join shuffled
    val t = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
    pairs
      .join(t.withColumnRenamed("id", "id_a").withColumnRenamed("__t", "__ta"), Seq("id_a"))
      .join(t.withColumnRenamed("id", "id_b").withColumnRenamed("__t", "__tb"), Seq("id_b"))
      .withColumn("sh_a", shingles(col("__ta"), n))
      .withColumn("sh_b", shingles(col("__tb"), n))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** Exact shingle CONTAINMENT for candidate pairs — the asymmetric
    * companion to [[ngramJaccard]]: C(A⊆B) = |A∩B| / |A|. Jaccard
    * misses subset duplication (a short article quoted whole inside a
    * long aggregator page scores low Jaccard but containment ≈ 1),
    * which is exactly the near-dup class quote farms and scraper
    * wrappers produce. Emits both directions plus the shingle-set
    * sizes, and a `superset_dup` flag when either direction clears
    * `minContainment`.
    *
    * Scale shape: pairs-driven like the Jaccard verifier — shingle
    * arrays are built per DOC (semi-join-prunable to docs that appear
    * in pairs), the pair join is two hash joins on doc id, and the
    * intersection is a per-row array op. No corpus self-join; cost is
    * O(|pairs| × shingles/doc).
    */
  def shingleContainment(docs: DataFrame, pairs: DataFrame, n: Int = 3,
                         minContainment: Double = 0.9,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // texts join first, shingles AFTER the pruning joins (round-6, the
    // ngramJaccard rationale): kernel cost O(|pairs|), not O(|docs|)
    val t = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
    pairs
      .join(t.withColumnRenamed("id", "id_a").withColumnRenamed("__t", "__ta"), Seq("id_a"))
      .join(t.withColumnRenamed("id", "id_b").withColumnRenamed("__t", "__tb"), Seq("id_b"))
      .withColumn("sh_a", shingles(col("__ta"), n))
      .withColumn("sh_b", shingles(col("__tb"), n))
      .withColumn("n_shingles_a", size(col("sh_a")).cast("long"))
      .withColumn("n_shingles_b", size(col("sh_b")).cast("long"))
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("containment_a_in_b",
        round(col("n_common").cast("double") /
          greatest(col("n_shingles_a"), lit(1L)).cast("double"), 6))
      .withColumn("containment_b_in_a",
        round(col("n_common").cast("double") /
          greatest(col("n_shingles_b"), lit(1L)).cast("double"), 6))
      .withColumn("superset_dup",
        col("containment_a_in_b") >= minContainment ||
          col("containment_b_in_a") >= minContainment)
      .select(col("id_a"), col("id_b"), col("n_shingles_a"), col("n_shingles_b"),
        col("n_common"), col("containment_a_in_b"), col("containment_b_in_a"),
        col("superset_dup"))
  }

  /** Exact edit-distance verification for candidate pairs — the
    * strictest confirm stage in the near-dup funnel (MinHash/SimHash
    * candidates → Jaccard/containment → THIS): character-level
    * Levenshtein distance, so small in-place edits (typo farms,
    * template stamping, date-swapped reposts) that shingle sets blur
    * are measured exactly. Emits the distance (−1 = provably above
    * `maxDist`), the normalized similarity 1 − d/max(len) for scored
    * pairs, and the `within` verdict.
    *
    * Pairs-driven contract (like [[ngramJaccard]]): the two text
    * fetches are INNER joins, so a pair whose `id_a` or `id_b` is
    * absent from `docs` is DROPPED from the verdict set (it does not
    * appear as "not a dup"), and a duplicated id in `docs` fans the
    * pair out once per match. Callers needing every input pair
    * accounted for must pre-resolve ids (the q105 driver left-semi
    * filters candidate ids against `docs` first) or diff the output
    * pair set against the input.
    *
    * Scale shape: pairs-driven like [[ngramJaccard]] — never a corpus
    * self-join; two hash joins fetch the texts. Per-pair cost is
    * BANDED O(len·maxDist), not O(len²): the length pre-gate rejects
    * |len_a−len_b| > maxDist without touching a character (the
    * distance is at least the length gap), and the surviving pairs run
    * Spark's thresholded `levenshtein(l, r, maxDist)` kernel, which
    * abandons a row the moment the running band minimum exceeds the
    * threshold. A 10^12-pair verify is budgetable: cost is
    * |pairs| × avgLen × maxDist, with the cap chosen by the caller.
    */
  def editDistVerify(docs: DataFrame, pairs: DataFrame, maxDist: Int,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val t = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    pairs
      .join(t.withColumnRenamed("id", "id_a").withColumnRenamed("t", "t_a"), Seq("id_a"))
      .join(t.withColumnRenamed("id", "id_b").withColumnRenamed("t", "t_b"), Seq("id_b"))
      .withColumn("len_a", length(col("t_a")).cast("long"))
      .withColumn("len_b", length(col("t_b")).cast("long"))
      .withColumn("dist",
        when(abs(col("len_a") - col("len_b")) > maxDist, lit(-1L))
          .otherwise(levenshtein(col("t_a"), col("t_b"), maxDist).cast("long")))
      .select(col("id_a"), col("id_b"), col("len_a"), col("len_b"), col("dist"),
        when(col("dist") >= 0L,
          round(lit(1.0) - col("dist").cast("double") /
            greatest(col("len_a"), col("len_b"), lit(1L)).cast("double"), 4))
          .as("sim"),
        (col("dist") >= 0L).as("within"))
  }

  /** Incremental (cross-batch) exact dedup — the crawl-refresh shape:
    * a NEW batch arrives and must dedup (a) against the frozen,
    * already-curated OLD corpus and (b) within itself, without ever
    * re-deduping OLD. Verdict per new doc:
    *   - `dup_of_old`  — its normalized-content hash exists in OLD;
    *   - `dup_in_new`  — first seen in NEW at a smaller id;
    *   - `unique`      — neither.
    * `canonical_id` is the survivor the duplicate collapses into (the
    * min OLD id for dup_of_old, the min NEW id sharing the hash
    * otherwise — its own id when unique).
    *
    * Scale shape: OLD contributes ONE hash-keyed aggregate (hash ->
    * min id), re-usable as a persisted dedup index across refreshes;
    * the join is hash-keyed (broadcastable while the index is small,
    * one shuffle when not); within-new resolution is a single
    * hash-partitioned min window. At 10^12 docs the OLD index is the
    * thing you store instead of rescanning the corpus — this operator
    * IS the maintenance contract for it.
    */
  def incrementalDedup(oldDocs: DataFrame, newDocs: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val oldIdx = oldDocs
      .select(fingerprint(col(textCol)).as("h"), col(idCol).as("__old_id"))
      .groupBy(col("h")).agg(min(col("__old_id")).as("old_id"))
    val hashed = newDocs.select(col(idCol), fingerprint(col(textCol)).as("h"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    hashed
      .withColumn("first_new_id", min(col(idCol)).over(w))
      .join(oldIdx, Seq("h"), "left")
      .withColumn("verdict",
        when(col("old_id").isNotNull, lit("dup_of_old"))
          .when(col(idCol) > col("first_new_id"), lit("dup_in_new"))
          .otherwise(lit("unique")))
      .withColumn("canonical_id",
        coalesce(col("old_id"), col("first_new_id")))
      .select(col(idCol), col("h").as("content_hash"), col("verdict"),
        col("canonical_id"))
  }

  /** Test-set decontamination (the GPT-3-style benchmark-overlap
    * rule): flag every document sharing at least one word `n`-gram
    * with the benchmark/eval set, with the count of distinct shared
    * grams kept queryable. Same shingle definition as the MinHash
    * family (lowercase, \\W+ tokens, short docs degrade to one
    * shingle).
    *
    * Scale shape: the benchmark gram set is eval-set-sized (Catalyst
    * broadcasts it under the threshold; above it the semi-join is one
    * hash shuffle on the gram), the corpus side is explode ->
    * semi-join -> doc-keyed count — no corpus self-join anywhere.
    *
    * Output: (idCol, n_hits, contaminated) for EVERY input doc.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text",
                    benchTextCol: String = "text"): DataFrame = {
    val bg = benchmark
      .select(explode(shingles(col(benchTextCol), n)).as("__g"))
      .distinct()
    val hits = docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("__g"))
      .join(bg, Seq("__g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Cross-corpus paragraph dedup (the CCNet rule): every duplicated
    * paragraph keeps exactly its FIRST occurrence — the one with the
    * lowest (doc id, position) — and drops everywhere else. Input is
    * the exploded paragraph table (id, idx, para); normalization is
    * the exact-dedup fingerprint (lowercase + whitespace collapse).
    *
    * ONE hash shuffle on the 16-byte fingerprint and ONE pass over
    * the paragraph table (round-6): the keeper row IS
    * min(struct(id, idx, para)) per hash — lexicographic struct-min
    * selects the lowest (id, idx) and, among duplicate input rows at
    * that (doc, idx) (malformed but legal input), the min para, which
    * is exactly what the round-5 form computed with a keeper
    * aggregate + semi-join-back + re-aggregate; that form also
    * evaluated the (typically chunker-fed) input TWICE, once per join
    * branch. Map-side combine still collapses a boilerplate paragraph
    * repeated 10^9 times in the partial agg — no window, no skew
    * blowup.
    */
  def paragraphDedup(paras: DataFrame, idCol: String = "doc_id",
                     idxCol: String = "idx", paraCol: String = "para"): DataFrame =
    paras.withColumn("__h", fingerprint(col(paraCol)))
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col(idxCol), col(paraCol))).as("__k"))
      .select(col("__k")(idCol).as(idCol), col("__k")(idxCol).as(idxCol),
        col("__k")(paraCol).as(paraCol))

  /** Intra-document repeated-line removal (the RefinedWeb line-level
    * rule): within EACH document, every line whose normalized text
    * already appeared earlier in the same document is dropped —
    * navigation chrome, repeated headers, boilerplate footers. The
    * cross-corpus twin is [[paragraphDedup]] (keeper per GLOBAL hash);
    * here the keeper is per (doc, hash), so the operator is doc-local:
    * the row_number window partitions on (id, fingerprint) — bounded
    * by a single document's repetition count, no corpus-wide key, no
    * whale group possible. Input is the exploded line table
    * (id, idx, line); output is the surviving (id, idx, line) rows.
    */
  def dedupLinesWithin(lines: DataFrame, idCol: String = "doc_id",
                       idxCol: String = "idx", lineCol: String = "line"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), fingerprint(col(lineCol)))
      .orderBy(col(idxCol))
    lines
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(idxCol), col(lineCol))
  }

  /** Connected components over a near-dup pair graph — the TRANSITIVE
    * form of duplicate clustering (a~b and b~c put all three in one
    * cluster even when (a, c) itself never surfaced as a pair; the
    * per-pair lower-id-survives rule alone is not transitive). Every
    * node gets `component` = the minimum id reachable from it; docs
    * in no pair keep their own id (singleton clusters). The canonical
    * keeper per cluster is then component == id.
    *
    * Distributed min-label propagation: each round is ONE
    * edge-to-label join + ONE min aggregation, pinned by
    * [[Pin.truncate]] (an unbounded iterative lineage would otherwise
    * replan from scratch each round) and releasing the round it
    * supersedes; the edge set and the initial labels every round reads
    * are truncated too, so no round re-walks the pair lineage. It
    * converges in O(graph diameter) rounds — near-dup graphs are
    * shallow stars around boilerplate hubs. The per-round driver work is one
    * convergence count, never data rows. (The large-star/small-star
    * contraction halves round counts on adversarially deep graphs;
    * the plain form is the right trade at near-dup shapes.)
    */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
                          idA: String = "id_a", idB: String = "id_b",
                          nodeCol: String = "doc_id",
                          maxIters: Int = 50): DataFrame = {
    // the symmetric edge set is read by every round
    val e = Pin.truncate(pairs.select(col(idA).as("a"), col(idB).as("b"))
      .unionByName(pairs.select(col(idB).as("a"), col(idA).as("b")))
      .distinct())
    // label every node AND every pair endpoint: an endpoint missing
    // from `nodes` would otherwise enter the propagation without an
    // initial self-label and destabilize the convergence count
    var labels = nodes.select(col(nodeCol).as("n"))
      .unionByName(e.select(col("a").as("n")))
      .distinct()
      .select(col("n"), col("n").as("lbl"))
      .transform(Pin.truncate)
    val lblType = labels.schema("lbl").dataType
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val nbr = e.join(labels.withColumnRenamed("n", "b"), Seq("b"))
        .select(col("a").as("n"), col("lbl"))
      // ONE job per round: the old label rides the union as a nullable
      // companion column (max ignores the nbr rows' nulls, and every n
      // has exactly one labels row, so __old is its previous label),
      // and the convergence count is observed on the pin's own job
      val obs = new org.apache.spark.sql.Observation()
      val next = labels.select(col("n"), col("lbl"), col("lbl").as("__old"))
        .unionByName(nbr.select(col("n"), col("lbl"),
          lit(null).cast(lblType).as("__old")))
        .groupBy(col("n"))
        .agg(min(col("lbl")).as("lbl"), max(col("__old")).as("__old"))
        .observe(obs, sum(when(col("lbl") =!= col("__old"), 1L).otherwise(0L))
          .as("__chg"))
        .transform(Pin.truncate)
      changed = Option(obs.get("__chg")).collect { case l: Long => l }.getOrElse(0L)
      Pin.release(labels)
      labels = next
      it += 1
    }
    Pin.release(e)
    require(changed == 0, s"connectedComponents did not converge in $maxIters rounds")
    labels.select(col("n").as(nodeCol), col("lbl").as("component"))
  }

  /** Near-dup flow matrix between slices — WHERE does the duplication
    * live? Intra-source pairs mean template farms inside one crawl
    * slice; cross-source pairs mean two mixture components feed the
    * model the same text twice (a mixture-design bug weights can't
    * see). One row per unordered slice pair with its near-dup pair
    * count and both slices' doc counts.
    *
    * Shape: pair-frame-sized — two broadcast-able joins of the pair
    * table against (id, slice), one (slice_a, slice_b) count agg; the
    * corpus itself never flows through (the q77 discipline).
    */
  def dupFlowMatrix(pairs: DataFrame, docs: DataFrame,
                    idCol: String = "doc_id", sliceCol: String = "source",
                    idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val s = docs.select(col(idCol), col(sliceCol))
    val m = pairs
      .join(s.select(col(idCol).as(idA), col(sliceCol).as("__sa")), Seq(idA))
      .join(s.select(col(idCol).as(idB), col(sliceCol).as("__sb")), Seq(idB))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val cnt = s.groupBy(col(sliceCol)).agg(count(lit(1)).as("n_docs"))
    m.join(broadcast(cnt.select(col(sliceCol).as("source_a"),
        col("n_docs").as("docs_a"))), Seq("source_a"))
      .join(broadcast(cnt.select(col(sliceCol).as("source_b"),
        col("n_docs").as("docs_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("docs_a"), col("docs_b"))
  }

  /** Quality-aware survivor selection over near-dup clusters — the
    * production dedup rule (CCNet keeps the longest copy, curation
    * stacks keep the highest-quality one), replacing the analytic
    * lower-id-survives convention: per component the row maximizing
    * (score, then LOWEST id on ties) is kept.
    *
    * Shape: one join of the component table with the score table on
    * the id, one component-keyed `max` of a (score, −id) struct —
    * map-side combinable, so a 10^6-member boilerplate cluster
    * collapses before the shuffle — and one join-back on the
    * component. Output: (id, component, score, keep).
    */
  def keepBestPerCluster(components: DataFrame, scores: DataFrame,
                         idCol: String = "doc_id",
                         scoreCol: String = "score"): DataFrame = {
    val j = components.join(scores.select(col(idCol), col(scoreCol)), Seq(idCol))
    val best = j.groupBy(col("component"))
      .agg(max(struct(col(scoreCol), (-col(idCol)).as("__negid"))).as("__b"))
      .select(col("component"), (-col("__b.__negid")).as("__survivor"))
    j.join(best, Seq("component"))
      .select(col(idCol), col("component"), col(scoreCol),
        (col(idCol) === col("__survivor")).as("keep"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm, value-selection form): hash
    * every k-token gram, slide a window of `w` consecutive gram
    * hashes, keep each window's MINIMUM hash, emit the distinct kept
    * hashes per document. Any shared run of >= k + w - 1 tokens
    * between two documents is GUARANTEED to contribute at least one
    * common fingerprint (both sides see an identical full window and
    * pick the same minimum), while expected density is ~2/(w+1) of
    * the grams — the standard local-plagiarism/overlap sketch between
    * the exact-substring rule (all grams, [[ExactSubstr]]) and a
    * global MinHash signature ([[minhashLsh]], no locality).
    *
    * The hash is the md5 HEX STRING of the gram text: engine-portable
    * (identical bytes in any SQL engine, so the window minimum — a
    * plain string min — selects identically everywhere; a seeded
    * xxhash64 would be Spark-private) and collision-safe at corpus
    * scale. Documents with fewer than `w` grams keep the minimum over
    * what they have (one fingerprint); docs shorter than k tokens
    * emit none.
    *
    * Scale shape: grams never shuffle as text — the only shuffles are
    * the doc-keyed window (bounded by document length, no whale key
    * possible) and the final per-doc distinct. Map-side gram
    * construction via transform/posexplode, codegen'd md5.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, "gram length k and window w must be >= 1")
    val toks = graft.functions.GraftFunctions.tokenizeWords(col(textCol))
    val base = docs.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
    // native gram kernel (short docs -> empty array inside the
    // kernel), md5 applied ROW-WISE after the posexplode so the hash
    // stays in whole-stage codegen instead of an interpreted
    // per-element lambda
    val g = base
      .select(col(idCol), (col("__n") - k + 1).as("__ng"),
        posexplode(graft.functions.GraftFunctions.ngramJoin(col("__toks"), k)))
      .toDF(idCol, "__ng", "__gpos", "__gram")
      .select(col(idCol), col("__ng"), col("__gpos"), md5(col("__gram")).as("__h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__gpos"))
      .rowsBetween(-(w - 1), 0)
    g.withColumn("__m", min(col("__h")).over(win))
      .filter(col("__gpos") >= least(lit(w), col("__ng")) - 1)
      .select(col(idCol), col("__m").as("fp"))
      .distinct()
  }
}
