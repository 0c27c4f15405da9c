package graft.pipe

import graft.ocr.{EnginePool, OcrEngine}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Per-ref kernel output (one row per needed media_ref). Top-level (not
  * nested in the object): a nested case class carries an outer pointer
  * that knocks the Dataset encoder out of whole-stage codegen.
  */
final case class RefOcr(media_ref: String, ocr_text: String, ocr_conf: Double)

/** The extraction pipeline — the reference's per-request dataflow
  * (EP1/EP2, SURVEY.md §3) re-expressed as one declarative Spark job:
  *
  *   documents ──explode──> spans ──┬─ kind=text ──cleanup──────────┐
  *                                  └─ kind=media ─join media bytes │
  *                                       │ sha2(bytes) dedup        │
  *                                       │ mapPartitions OCR kernel │
  *                                       │ join results back        │
  *                                  <──────── unionByName ──────────┘
  *   groupBy(doc_id) -> sort_array by offset -> splice -> doc text /
  *   confidence / summary -> write (bucketed, manifest-committed)
  *
  * Scale design (north_rule): the expensive operator (OCR) runs once
  * per DISTINCT media content — rows are hash-partitioned by
  * `sha2(bytes,256)` and the kernel memoizes per hash, replacing the
  * reference's path-keyed OCR cache (`app2.py:329-379`) with strictly
  * better hit semantics at ONE media scan + ONE bytes shuffle. The
  * join back to span rows is where the Zipf media skew lives; it is
  * salted by exploding the small per-ref side [[ExtractJob.SaltBuckets]] ways
  * so no single ref lands on one task — with AQE skew-join as the
  * runtime backstop. All relational stages stay in whole-stage
  * codegen; the only row-at-a-time code is the kernel itself and the
  * one summarizer call per output document.
  */
object ExtractJob {

  /** Pipeline knobs.
    *  - quality (v2, `app2.py:854-863`): low | medium | high, or v1 for
    *    the reference-v1 chain; selects the preprocess chain, the OCR
    *    engine mode and the resize cap. Any other value is rejected at
    *    plan time.
    *  - outputBuckets: the commit units of [[runResumable]] (doc_id
    *    hash buckets).
    *  - maxMediaBytes: the S3 size cap (MAX_CONTENT_LENGTH = 16 MB,
    *    `app.py:230`); a larger item yields an empty span, confidence 0.
    *  - language: the decode tables (`-l {language}`, `app.py:579`).
    *  - preStages: OPT-IN raster pre-stages from
    *    [[graft.ocr.OcrEngine.PreStages]] ("deskew", "denoise"), applied
    *    in order before the quality chain. The north_star prose names
    *    both; the reference CODE has neither (SURVEY discrepancy note),
    *    so the default is OFF — span-equality fixtures are unchanged
    *    unless a deployment opts in for crooked/speckled scans.
    */
  final case class Config(
      quality: String = "medium",
      outputBuckets: Int = 64,
      maxMediaBytes: Long = 16L * 1024 * 1024,
      language: String = "eng",
      preStages: Seq[String] = Nil)

  /** Fan-out of the salted media join-back in [[extractSpans]]. */
  final val SaltBuckets = 8

  /** Width of the pipeline's explicit exchanges: the kernel's
    * content_hash repartition and the output's range exchange. Sized to
    * the cluster (two tasks per core), not to the data or the bucket
    * count. An explicit width is REPARTITION_BY_NUM, which AQE never
    * coalesces.
    */
  def exchangeWidth(spark: SparkSession): Int = spark.sparkContext.defaultParallelism * 2

  /** DataFrameWriter options of both [[runResumable]] commit writes
    * (the bucketed data and the manifest append):
    *  - [[NioLocalFileSystem.writerOptions]]: `file:` paths set their
    *    permissions in-process instead of forking `chmod`;
    *  - zstd at Parquet's default level, the codec Iceberg writes by
    *    default; readers take the codec from each file, so files
    *    written under another codec still read and resume;
    *  - min/max statistics truncated to 64 bytes (parquet's own
    *    column-index default). Unbounded, parquet-mr stores whole
    *    document texts (`text`, `summary`, `spans.text`) in every
    *    footer; truncated, it keeps a lower bound and an incremented
    *    upper bound, still valid for pruning. Every `doc_id` is shorter
    *    than 64 bytes, so its bounds stay exact.
    */
  val commitOptions: Map[String, String] = NioLocalFileSystem.writerOptions ++ Map(
    "compression" -> "zstd",
    "parquet.statistics.truncate.length" -> "64")

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.pipe.ExtractJob")

  def preprocessModeFor(quality: String): String = quality match {
    // v2 quality -> preprocess chain (`app2.py:556-558`, `app2.py:1016-1017`):
    // low->fast, high->quality, medium (the default) -> balanced
    // (blur3 + adaptive(11,2)). "v1" selects the v1 default chain
    // (blur3 + Otsu, `app.py:545-548`) for reference-v1 behavior.
    case "low" => "fast"
    case "high" => "quality"
    case "medium" => "balanced"
    case "v1" => "default"
    case q => throw new IllegalArgumentException(
      s"unknown quality '$q' (supported: low, medium, high, v1)")
  }

  /** quality -> OCR engine mode (the v2 tesseract-config table,
    * `app2.py:345-353`): low -> fast, high -> accurate, else standard.
    * The engine scores fast exactly like standard: low's chain
    * binarizes every page at the fixed threshold 128, so its exact
    * per-page tables already are the one fixed table set a separate
    * fast scorer would use.
    */
  def ocrModeFor(quality: String): String = quality match {
    case "low" => "fast"
    case "high" => "accurate"
    case _ => "standard"
  }

  /** One media item -> (text, confidence). Single images go straight
    * to the engine; multi-page 'GPDF' containers (the PDF flow,
    * `app.py:744-792`) OCR page by page, join page texts with "\n\n"
    * (`app.py:791`) and average the POSITIVE page confidences
    * (`app.py:757-792`) — S4/S5/S6: page count, per-page rasterized
    * decode, and the whole-document fallback shape.
    */
  def decodeMedia(engine: graft.ocr.OcrEngine, bytes: Array[Byte],
                  quality: String, ocrMode: String,
                  preStages: Seq[String] = Nil): (String, Double) =
    if (graft.ops.Multimodal.kindOf(bytes) == "pdf") {
      val results = graft.ops.Multimodal.pdfPages(bytes)
        .map(engine.decode(_, quality, ocrMode, preStages))
      val pos = results.map(_.avgConfidence).filter(_ > 0)
      (results.map(_.text).mkString("\n\n"),
        if (pos.nonEmpty) pos.sum / pos.size else 0.0)
    } else {
      val d = engine.decode(bytes, quality, ocrMode, preStages)
      (d.text, d.avgConfidence)
    }

  /** Plan-time check of a [[Config]], shared by the batch and streaming
    * forms: at 10^12 docs a bad config must fail on the driver, not as
    * per-task failures (x retries x tasks) deep into the job. An
    * unknown quality or pre-stage is a typo, not a request for the
    * default; an unknown language throws `fontFor`'s tesseract-style
    * missing-traineddata error.
    */
  private[graft] def checkConfig(cfg: Config): Unit = {
    preprocessModeFor(cfg.quality): Unit
    graft.codec.Glyphs.fontFor(cfg.language): Unit
    cfg.preStages.foreach { s =>
      require(OcrEngine.PreStages.contains(s),
        s"unknown preStage '$s' (supported: ${OcrEngine.PreStages.keys.toSeq.sorted.mkString(", ")})")
    }
  }

  /** The content hash every decode-once media kernel keys on: the
    * sha-256 of the item's `bytes`, as column `content_hash`.
    */
  private[graft] def contentHash: Column = sha2(col("bytes"), 256).as("content_hash")

  /** (media_ref, bytes, content_hash) rows hash-partitioned by content
    * at [[exchangeWidth]]: every copy of the same bytes lands in one
    * task, so a [[decodeOnce]] memo inside that task is GLOBALLY
    * decode-once — the cache-hit semantics of the reference's OCR cache
    * (C5/P1, `app2.py:329-379`) at one bytes shuffle. The explicit width
    * is REPARTITION_BY_NUM, exempt from AQE partition coalescing, which
    * otherwise merges the tiny-by-bytes but decode-heavy kernel input
    * into a single task (measured: the whole OCR stage as one 1 s task
    * at 8 cores).
    */
  private[graft] def byContent(spark: SparkSession,
                               media: DataFrame): Dataset[(String, Array[Byte], String)] = {
    import spark.implicits._
    media
      .select(col("media_ref"), col("bytes"), contentHash)
      .repartition(exchangeWidth(spark), col("content_hash"))
      .as[(String, Array[Byte], String)]
  }

  /** The per-task memo and poison guard of every media kernel; build it
    * once per task. Wraps `kernel` into (content hash, bytes) => U,
    * run once per distinct hash. An item the kernel throws on (corrupt
    * or truncated bytes, a malformed container) yields `fallback` with
    * one WARN line naming the hash and the exception class: one poison
    * item must not fail the task, and with it the job.
    */
  private[graft] def decodeOnce[U](fallback: U)(kernel: Array[Byte] => U): (String, Array[Byte]) => U = {
    val memo = scala.collection.mutable.HashMap.empty[String, U]
    (hash, bytes) => memo.getOrElseUpdate(hash,
      try kernel(bytes)
      catch {
        case NonFatal(e) =>
          log.warn(s"media decode failed: content_hash=$hash ${e.getClass.getName}")
          fallback
      })
  }

  /** The OCR kernel both forms run inside `mapPartitions`; call it once
    * per task. It resolves quality -> (chain, engine mode), fetches the
    * executor's engine from [[EnginePool]] (the reference threads
    * `language` into every OCR call, `-l {language}`, app.py:579; here
    * it selects the engine's decode tables), and returns the task's
    * [[decodeOnce]] decode function: (content hash, bytes) -> (text,
    * confidence). A poison item yields ("", 0.0), the reference's
    * OCR-failure shape (app.py:602).
    */
  private[graft] def ocrKernel(cfg: Config): (String, Array[Byte]) => (String, Double) = {
    val ocrMode = ocrModeFor(cfg.quality)
    val engine = EnginePool.get(preprocessModeFor(cfg.quality), cfg.language)
    decodeOnce(("", 0.0))(decodeMedia(engine, _, cfg.quality, ocrMode, cfg.preStages))
  }

  /** (doc_id, kind, text, media_ref, offset) span rows — explode_outer
    * so a doc with an empty/null spans array still emits a (null-kind)
    * row. Stateless; shared by the batch and streaming forms.
    */
  private[graft] def explodedSpans(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode_outer(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind"), col("s.text"), col("s.media_ref"), col("s.offset"))

  /** The text + sentinel branch (ONE pass over the non-media rows).
    * S2 ingest guard: the kind allowlist (the extension-allowlist
    * analog, app.py:317-320) drops unknown kinds from the span
    * sequence — but every dropped span (and every doc whose spans
    * array was empty: explode_outer's null row) becomes a null-kind
    * doc-preservation SENTINEL instead of vanishing. assembleDocs
    * filters sentinels out of the sequence but keeps the doc_id in
    * the groupBy, so a document whose spans all vanish still yields
    * an (empty-text, confidence-0) output row. Text spans take the
    * direct-text bypass (S7, app.py:636-649) — cleanup + 90/70
    * confidence rule, all codegen; never the kernel. Stateless;
    * shared by the batch and streaming forms.
    */
  private[graft] def textBranch(exploded: DataFrame): DataFrame = {
    val isText = col("kind") === "text"
    exploded
      .filter(!(col("kind") <=> "media"))
      // native collapse+trim kernel (round-6): byte-identical to
      // trim(regexp_replace(text, "\s+", " ")), one pass, no regex
      .withColumn("__clean", graft.functions.GraftFunctions.collapseWs(col("text")))
      .select(
        col("doc_id"),
        when(isText, col("kind")).otherwise(lit(null).cast("string")).as("kind"),
        when(isText, col("__clean")).otherwise(lit("")).as("text"),
        when(isText, col("media_ref")).otherwise(lit("")).as("media_ref"),
        when(isText, col("offset")).otherwise(lit(null).cast("int")).as("offset"),
        // stripped length > 50, stripping all ASCII whitespace like the
        // reference's `strip()` (Spark's `trim` strips spaces only). The
        // collapsed text is never longer than the stripped one, so the
        // costlier btrim runs only for spans whose collapsed text is short.
        when(isText,
          when(length(col("__clean")) > 50 ||
            length(btrim(col("text"), lit(" \t\n\u000B\f\r"))) > 50, lit(90.0))
            .otherwise(lit(70.0)))
          .otherwise(lit(0.0)).as("confidence"))
  }

  /** Per-span extraction: returns
    * spans(doc_id, kind, text, media_ref, offset, confidence).
    */
  def extractSpans(spark: SparkSession, docs: DataFrame, media: DataFrame,
                   cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    checkConfig(cfg)

    // explode_outer: a doc with an empty/null spans array still emits a
    // (null-kind) row — "one output row per input document" must hold
    // on adversarial input, not just the fixture corpus.
    val exploded = explodedSpans(docs)
    val textOut = textBranch(exploded)

    // --- media branch
    val mediaSpans = exploded
      .filter($"kind" === "media")
      .select($"doc_id", $"kind", $"media_ref", $"offset")

    // only media actually referenced is read/decoded (semi-join prune);
    // S3 size cap mirrors MAX_CONTENT_LENGTH = 16 MB (app.py:230).
    //
    // ONE media scan, ONE shuffle of the bytes ([[byContent]]), no
    // dropDuplicates aggregate (which compiled to a SortAggregate over
    // the binary column and a second media scan for the ref->hash side).
    val neededRefs = mediaSpans.select($"media_ref").distinct()
    val refOcr = byContent(spark, media
      .filter(length($"bytes") <= cfg.maxMediaBytes)
      .join(neededRefs, Seq("media_ref"), "left_semi"))
      .mapPartitions { it =>
        val ocr = ocrKernel(cfg)
        it.map { case (ref, bytes, h) =>
          val (text, conf) = ocr(h, bytes)
          RefOcr(ref, text, conf)
        }
      }
      .toDF()

    // salted join back: explode the small (one row per distinct ref)
    // side SaltBuckets ways, key the span side by a uniform salt —
    // Zipf-hot refs spread across SaltBuckets tasks. AQE skew-join
    // remains enabled on top.
    val saltedOcr = refOcr
      .withColumn("salt", explode(lit((0 until SaltBuckets).toArray)))
    // LEFT join: a dangling or size-capped media_ref must surface as
    // an empty span with confidence 0 (the reference's OCR-failure
    // shape, app.py:602), never silently drop the span from the
    // sequence — the north rule checks order completeness.
    val mediaOut = mediaSpans
      .withColumn("salt", pmod(xxhash64($"doc_id", $"offset"), lit(SaltBuckets)).cast("int"))
      .join(saltedOcr, Seq("media_ref", "salt"), "left")
      .select($"doc_id", $"kind",
        coalesce($"ocr_text", lit("")).as("text"),
        $"media_ref", $"offset",
        coalesce($"ocr_conf", lit(0.0)).as("confidence"))

    textOut.unionByName(mediaOut)
  }

  /** Aggregate step of document assembly: one row per doc_id with `sp`,
    * the offset-sorted span structs (doc-preservation sentinels — null
    * kind — removed from the sequence; the doc_id itself survives the
    * groupBy regardless). Kept separate from [[finishDocs]] so a
    * repartition can sit between them: range partitioning SAMPLES its
    * child plan, and sampling must never re-run the summarizer.
    */
  def assembleSpans(spark: SparkSession, extractedSpans: DataFrame): DataFrame = {
    import spark.implicits._
    // Lambda-free (round-4 verdict: finishDocs' per-doc HOFs were the
    // pipeline's last interpreted expressions): sentinels are dropped
    // BY collect_list itself (it skips null inputs; filtering commutes
    // with the sort), and the doc-level confidence mean / media count
    // ride the same aggregate as plain conditional aggregates instead
    // of per-doc array folds — map-side combinable, codegen'd.
    extractedSpans
      .groupBy($"doc_id")
      .agg(
        sort_array(collect_list(when($"kind".isNotNull, struct(
          $"offset", $"kind", $"text", $"media_ref", $"confidence")))).as("sp"),
        // DECIMAL-summed mean: decimal addition is exact and
        // commutative, so the result is independent of partition/merge
        // order (a raw double avg can drift one ULP with scheduling —
        // the old offset-ordered fold was bit-deterministic and the
        // pipeline's determinism contract must survive the rewrite);
        // the <= 1e-12 quantization sits far inside the 4-dp rounding
        // and the specs' 1e-9 tolerance
        avg(when($"confidence" > 0, $"confidence").cast("decimal(24,12)"))
          .cast("double").as("__conf"),
        sum(when($"kind" === "media", 1L).otherwise(0L)).cast("int").as("__media_count"))
  }

  /** Projection step of document assembly: spans spliced back in offset
    * order (the north-rule sequence), full text = "\n\n"-joined span
    * texts (multi-page concat, `app.py:791`), document confidence =
    * mean of positive span confidences (`app.py:757-792`), plus summary
    * + compression ratio (`app.py:2026-2034`). Extra columns on the
    * input (e.g. bucket) pass through.
    */
  def finishDocs(spark: SparkSession, assembled: DataFrame): DataFrame = {
    import spark.implicits._
    assembled
      // back to input_hint field order, offset kept per span:
      // arrays_zip over GetArrayStructFields extracts — a positional
      // re-zip in whole-stage codegen (field names verified to carry
      // through the extract), not a per-element lambda
      .withColumn("spans", arrays_zip(
        $"sp.kind", $"sp.text", $"sp.media_ref", $"sp.offset", $"sp.confidence"))
      .withColumn("text", array_join($"sp.text", "\n\n"))
      .withColumn("confidence", coalesce($"__conf", lit(0.0)))
      .withColumn("media_count", $"__media_count")
      .drop("sp", "__conf", "__media_count")
      .withColumn("summary", graft.functions.GraftFunctions.summarize($"text"))
      .withColumn("compression_ratio",
        when(length($"text") > 0, length($"summary").cast("double") / length($"text"))
          .otherwise(lit(0.0)))
  }

  /** Assemble per-document output (aggregate + projection). */
  def assembleDocs(spark: SparkSession, extractedSpans: DataFrame): DataFrame =
    finishDocs(spark, assembleSpans(spark, extractedSpans))

  /** Full run: extract + assemble. */
  def run(spark: SparkSession, docs: DataFrame, media: DataFrame,
          cfg: Config = Config()): DataFrame =
    assembleDocs(spark, extractSpans(spark, docs, media, cfg))

  // ---------------------------------------------------------------
  // Resumable, manifest-committed variant (north_rule: "resumable from
  // checkpoint with per-partition lineage + metrics").
  // ---------------------------------------------------------------

  /** Deterministic bucket of a document — the commit unit. */
  def bucketCol(n: Int) = pmod(xxhash64(col("doc_id")), lit(n.toLong)).cast("int")

  /** What a resumable run did — doc/span/media totals over the buckets
    * committed BY THIS RUN (zero when everything was already committed).
    */
  final case class RunSummary(docCount: Long, spanCount: Long, mediaCount: Long,
                              newBuckets: Int, inputSnapshotId: String)

  /** Lineage id of the input table: the sha-256 of the sorted input
    * file listing, which changes iff the set of input files changes
    * (an Iceberg deployment would swap in the table's snapshot-id
    * here; the sandbox ships no Iceberg jar, so the file-listing hash
    * is the implemented lineage key). "inline" marks a purely
    * in-memory input. [[runResumable]] REFUSES to resume when the
    * manifest was committed under a different id — resuming against
    * changed input would silently mix buckets from two inputs.
    */
  def inputSnapshotId(docs: DataFrame): String = {
    val files = try docs.inputFiles.sorted catch { case _: Throwable => Array.empty[String] }
    if (files.isEmpty) "inline"
    else {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      files.foreach(f => d.update(f.getBytes("UTF-8")))
      "files:" + d.digest().map(b => f"$b%02x").mkString
    }
  }

  /** The documents [[runResumable]] writes, with their `bucket` column:
    * extract, assembly aggregate, bucket, range exchange, finishing
    * projection. north_rule: an explicit repartitionByRange on doc_id.
    * It runs at [[exchangeWidth]] partitions over (bucket, doc_id), so
    * each task holds a contiguous run of buckets and a job writes at
    * most populated buckets + width - 1 files. Files are clustered by
    * doc range but not sorted inside: the writer sorts each task by
    * bucket only. The exchange sits BETWEEN the aggregate and the
    * projection: range partitioning samples its child, and the child
    * here is the cheap (doc_id, sp, bucket) aggregate — the summarizer
    * kernel runs strictly after the exchange, exactly once per document.
    */
  def bucketedDocs(spark: SparkSession, docs: DataFrame, media: DataFrame,
                   cfg: Config): DataFrame = {
    val assembled = assembleSpans(spark, extractSpans(spark, docs, media, cfg))
      .withColumn("bucket", bucketCol(cfg.outputBuckets))
      .repartitionByRange(exchangeWidth(spark), col("bucket"), col("doc_id"))
    finishDocs(spark, assembled)
  }

  /** Run the job writing per-bucket, committing a manifest row per
    * bucket. On restart only buckets absent from the manifest are
    * recomputed; dynamic partition overwrite makes a retried bucket
    * idempotent (half-written data from a killed attempt is replaced,
    * never duplicated).
    *
    * Manifest metrics (doc/span/media counts + confidence histogram per
    * bucket) are collected by [[BucketManifestAgg]] via `observe` ON the
    * write itself — one pass total; the output path is never re-read
    * (at 10^12 docs a post-write scan of the output would double the
    * job's I/O). Each manifest row carries the input snapshot id, so a
    * resumed run can detect that it is resuming against different input.
    */
  def runResumable(spark: SparkSession, docs: DataFrame, media: DataFrame,
                   outDir: String, cfg: Config = Config()): RunSummary = {
    import spark.implicits._
    val manifestPath = s"$outDir/manifest"
    val dataPath = s"$outDir/extracted"
    val snapshotId = inputSnapshotId(docs)

    // existence probe instead of read-and-catch: a fresh outDir is the
    // normal case, not an exception (and the failed read spams the logs
    // with a FileNotFoundException stack on every first run)
    val mHPath = new org.apache.hadoop.fs.Path(manifestPath)
    val mFs = mHPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an EXISTING but unreadable/mis-schemaed manifest must fail, not
    // fall back to empty: an empty priorSnapshots bypasses the lineage
    // guard below, and dynamic partition overwrite then leaves any
    // bucket absent from the new input holding its stale old-input
    // files — exactly the mixed-lineage output the guard exists to stop
    val (committed: Set[Int], priorSnapshots: Set[String]) =
      if (!mFs.exists(mHPath)) (Set.empty[Int], Set.empty[String])
      else try {
        val m = spark.read.parquet(manifestPath)
          .select($"bucket", $"input_snapshot_id").as[(Int, String)].collect()
        (m.map(_._1).toSet, m.map(_._2).toSet)
      } catch {
        case e: Throwable => throw new IllegalStateException(
          s"manifest at $manifestPath exists but cannot be read — refusing to " +
            s"resume blind (a bypassed lineage guard can mix inputs in the " +
            s"output); repair or remove the manifest to proceed", e)
      }
    // lineage guard: a resumed run against changed input would mix
    // buckets computed from two different inputs — fail loudly instead
    if (priorSnapshots.nonEmpty && priorSnapshots != Set(snapshotId))
      throw new IllegalStateException(
        s"refusing to resume: manifest at $manifestPath was committed from input " +
          s"snapshot(s) ${priorSnapshots.mkString(",")} but the current input is " +
          s"$snapshotId — start a fresh outDir or re-point at the original input")

    val withBucket = docs.withColumn("bucket", bucketCol(cfg.outputBuckets))
    val pending = if (committed.isEmpty) withBucket
      else withBucket.filter(!$"bucket".isin(committed.toSeq: _*))
    // the emptiness probe is itself a scan of the input — only worth it
    // when a previous run committed something (fresh runs never skip)
    if (committed.nonEmpty && pending.isEmpty)
      return RunSummary(0L, 0L, 0L, 0, snapshotId)

    val obs = new org.apache.spark.sql.Observation()
    val stats = udaf(new BucketManifestAgg(cfg.outputBuckets))
    // span_count is fed to the aggregate as an expression, NOT
    // materialized as a column: the written parquet schema must stay
    // identical to run()'s output (round-2 ADVICE — a derived metric
    // column silently leaked into the committed output format).
    val out = bucketedDocs(spark, pending.drop("bucket"), media, cfg)
      .observe(obs, stats($"bucket", size($"spans"), $"media_count", $"confidence")
        .as("bucket_stats"))

    out.write
      .options(commitOptions)
      .partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(dataPath)

    // manifest commit AFTER the data write: a kill between the two just
    // re-runs those buckets (idempotent via dynamic overwrite).
    val rows = obs.get("bucket_stats").asInstanceOf[Seq[org.apache.spark.sql.Row]]
      .map(r => BucketStat(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Long](4)))
    spark.createDataset(rows).toDF()
      .withColumn("input_snapshot_id", lit(snapshotId))
      .withColumn("committed_at", current_timestamp())
      .coalesce(1)
      .write.options(commitOptions).mode("append").parquet(manifestPath)

    RunSummary(rows.map(_.doc_count).sum, rows.map(_.span_count).sum,
      rows.map(_.media_count).sum, rows.size, snapshotId)
  }
}
