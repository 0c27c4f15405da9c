package graft.gen

import graft.codec.SynthRaster
import graft.util.Det
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Span/document case classes matching the driver's `input_hint` shape
  * exactly: `documents(doc_id:string, spans:array<struct<kind:string,
  * text:string, media_ref:string, offset:int>>)` plus the media-bytes
  * side table (the `UPLOAD_FOLDER` analog, `app.py:228-233`).
  */
final case class InSpan(kind: String, text: String, media_ref: String, offset: Int)
final case class InDoc(doc_id: String, spans: Seq[InSpan])
final case class MediaRow(media_ref: String, bytes: Array[Byte])

/** Deterministic interleaved text+media corpus, derived from the
  * driver's read-only `documents.parquet` (doc text material) with all
  * randomness keyed through [[Det]] — same sfDir => byte-identical
  * corpus on every run and every partitioning (generation is
  * embarrassingly parallel per row; nothing depends on task order).
  *
  * Media refs repeat across documents with a Zipf-ish skew
  * (idx = floor(M * u^3)) to exercise both the content-hash dedup that
  * replaces the reference's OCR cache (`app2.py:329-379`, SURVEY.md C5)
  * and the salted skew join the north_rule requires.
  */
object Corpus {
  final val SEED = 0x6772616674L // "graft"

  private val vocab: Array[String] = Array(
    "the", "fast", "key", "order", "sort", "table", "scan", "merge", "part",
    "window", "small", "hash", "join", "query", "row", "data", "slow",
    "filter", "customer", "line", "batch", "value", "stream", "group",
    "spark", "index", "plan", "cost", "page", "cache", "shuffle", "broadcast")

  def mediaCount(nDocs: Long): Int = math.max(32L, nDocs / 5L).min(100000L).toInt

  def mediaRefFor(i: Int): String = f"m-$i%06d"

  /** Ground-truth text rendered into media i: a few short sentences of
    * seeded vocab (plus digits so the full alphabet is exercised).
    */
  def mediaTextFor(i: Int): String = {
    val seed = Det.mix64(SEED, 0x1000 + i.toLong)
    val n = 8 + Det.bounded(Det.at(seed, 0), 18)
    val sb = new StringBuilder
    var sinceBreak = 0
    var j = 0
    while (j < n) {
      val r = Det.at(seed, 1 + j.toLong)
      val w =
        if (Det.bounded(r, 10) == 0) (Det.bounded(Det.at(seed, 100 + j.toLong), 900) + 100).toString
        else vocab(Det.bounded(r, vocab.length))
      if (j > 0) sb.append(' ')
      sb.append(w)
      sinceBreak += 1
      if (sinceBreak >= 4 + Det.bounded(Det.at(seed, 200 + j.toLong), 4) && j < n - 1) {
        sb.append('.')
        sinceBreak = 0
      }
      j += 1
    }
    sb.append('.')
    sb.toString
  }

  /** Zipf-ish skewed media index for span s of doc `docSeed`. */
  def mediaIndexFor(docSeed: Long, s: Int, m: Int): Int = {
    val u = Det.double01(Det.at(docSeed, 0x2000 + s.toLong))
    math.min(m - 1, (m * u * u * u).toInt)
  }

  /** Build the spans of one document from its source text. */
  def spansFor(docId: Long, srcText: String, m: Int): Seq[InSpan] = {
    val seed = Det.mix64(SEED, docId)
    val nSpans = 2 + Det.bounded(Det.at(seed, 0), 5) // 2..6
    val sentences = graft.text.TextOps.splitSentences(srcText)
    val out = Vector.newBuilder[InSpan]
    var sentCursor = 0
    var s = 0
    while (s < nSpans) {
      val isMedia = Det.double01(Det.at(seed, 0x100 + s.toLong)) < 0.35
      if (isMedia) {
        val idx = mediaIndexFor(seed, s, m)
        out += InSpan("media", "", mediaRefFor(idx), s)
      } else {
        // consume 1..3 source sentences per text span; fall back to a
        // seeded phrase when the source text runs out
        val take = 1 + Det.bounded(Det.at(seed, 0x300 + s.toLong), 3)
        val chunk =
          if (sentCursor < sentences.length) {
            val c = sentences.slice(sentCursor, sentCursor + take).mkString(" ")
            sentCursor += take
            c
          } else mediaTextFor((Det.at(seed, 0x400 + s.toLong) & 0x7fffffff).toInt % 1000)
        out += InSpan("text", chunk, "", s)
      }
      s += 1
    }
    out.result()
  }

  /** The interleaved documents table (input_hint shape). */
  def documents(spark: SparkSession, sfDir: String): Dataset[InDoc] = {
    import spark.implicits._
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val n = mediaCountHint(spark, sfDir)
    src.as[(Long, String)].map { case (id, text) =>
      InDoc(f"doc-$id%08d", spansFor(id, Option(text).getOrElse(""), n))
    }
  }

  /** Media table: one row per distinct media_ref, bytes = rendered
    * synthetic raster keyed by the ref (deterministic noise).
    */
  def media(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val m = mediaCountHint(spark, sfDir)
    spark.range(m).map { i =>
      val ref = mediaRefFor(i.toInt)
      MediaRow(ref, SynthRaster.render(mediaTextFor(i.toInt), Det.hashString(ref)))
    }
  }

  /** Media pool size — derived from the source row count, cached per
    * (spark, sfDir) via parquet metadata (a count() on parquet footers,
    * no data scan).
    */
  private val hintCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def mediaCountHint(spark: SparkSession, sfDir: String): Int =
    hintCache.computeIfAbsent(sfDir, d =>
      mediaCount(spark.read.parquet(s"$d/documents.parquet").count())).intValue()

  /** Golden expected output spans for one document — computed from the
    * generator's ground truth and the pinned cleanup/confidence rules,
    * NOT by running the engine (SURVEY.md §5.1). North-rule fixtures
    * compare pipeline output against this.
    */
  def expectedSpans(docId: Long, srcText: String, m: Int): Seq[(String, String, String, Int, Double)] =
    spansFor(docId, srcText, m).map { sp =>
      if (sp.kind == "text") {
        val cleaned = graft.text.TextOps.cleanup(sp.text)
        (sp.kind, cleaned, sp.media_ref, sp.offset,
          graft.text.TextOps.directTextConfidence(sp.text))
      } else {
        val idx = sp.media_ref.substring(2).toInt
        (sp.kind, SynthRaster.groundTruth(mediaTextFor(idx)), sp.media_ref, sp.offset, -1.0)
      }
    }

  /** The generator's golden span table for the whole corpus —
    * [[expectedSpans]] over every document, as a DataFrame in the
    * north-rule tuple order (doc_id, kind, text, media_ref, offset).
    * Verify dumps this beside the query results so the x01 DuckDB
    * oracle can assert span-sequence equality of the PIPELINE's
    * extraction against generator ground truth (round-4 verdict item
    * 2): truth text comes from [[mediaTextFor]]/[[SynthRaster.groundTruth]]
    * (never from the engine), cleanup/confidence from the pinned rules.
    */
  def truthSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val m = mediaCountHint(spark, sfDir)
    src.as[(Long, String)].flatMap { case (id, text) =>
      expectedSpans(id, Option(text).getOrElse(""), m).map { case (k, t, r, o, _) =>
        (f"doc-$id%08d", k, t, r, o)
      }
    }.toDF("doc_id", "kind", "text", "media_ref", "offset")
  }

  /** Generator-side truth for the image-feature decode (x11's oracle):
    * geometry from the LAYOUT math (wrap/rows — independent of the
    * header encode the decoder parses) and mean intensity averaged
    * DIRECTLY over the rendered bytes (encode-side statistic the
    * decode+feature path must reproduce), rounded like the query.
    */
  def mediaTruth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = mediaCountHint(spark, sfDir)
    spark.range(m).map { i =>
      val text = mediaTextFor(i.toInt)
      val ref = mediaRefFor(i.toInt)
      val lines = SynthRaster.wrap(SynthRaster.normalize(text))
      val rows = math.max(1, lines.length)
      val w = 2 * SynthRaster.MARGIN + SynthRaster.COLS * SynthRaster.CELL_W
      val h = 2 * SynthRaster.MARGIN + rows * SynthRaster.CELL_H
      val bytes = SynthRaster.render(text, Det.hashString(ref))
      // pixels start after the 8-byte header; mean over unsigned
      // values, then EXACTLY the query's rounding chain: the feature
      // op rounds to 4 dp (math.round), the x11 projection rounds to
      // 2 dp (Spark round = HALF_UP) — double-rounding replicated so
      // a boundary value cannot diverge
      var s = 0.0
      var j = 8
      while (j < bytes.length) { s += (bytes(j) & 0xff); j += 1 }
      val mean4 = math.round(s / (bytes.length - 8) * 10000) / 10000.0
      val mean2 = java.math.BigDecimal.valueOf(mean4)
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()
      (ref, w, h, mean2)
    }.toDF("media_ref", "width", "height", "mean_intensity")
  }
}
