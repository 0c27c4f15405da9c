package graft.pipe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S10 — the health/info surface (`health_check()`, `app.py:1036-1067`,
  * `app2.py:746-780`; the `/api/info` capability listing,
  * `app.py:1017-1035`), re-expressed for a batch engine: instead of a
  * liveness endpoint, one deterministic probe row describing the
  * engine's capabilities plus (optionally) the live counters a
  * long-running deployment tracks through the manifest.
  *
  *  - `tesseract_version` -> the decode-engine identity: glyph-matrix
  *    decoder, alphabet size, per-language fonts actually loadable
  *    (each font is BUILT by the probe — a broken construction fails
  *    here, the reference's "tesseract not found" analog);
  *  - `poppler_version` -> the PDF path: a GPDF container is synthed
  *    and page-counted by the probe;
  *  - `active_sessions` / `cached_results` / `workers` -> manifest
  *    bucket counts (the session-cache analog), committed-doc totals,
  *    and Spark's default parallelism.
  */
object Health {

  /** One-row capability + liveness probe. `manifestPath` (optional)
    * feeds the live counters; "" skips them (fresh deployment).
    */
  def check(spark: SparkSession, manifestPath: String = ""): DataFrame = {
    import spark.implicits._
    // engine probe: build every language's font and decode a smoke page
    // through each preprocess chain — failure here IS the unhealthy case
    val langs = graft.codec.Glyphs.languages
    val engineOk = langs.forall { lang =>
      val page = graft.codec.SynthRaster.render("health probe 01", seed = 1L, language = lang)
      graft.ocr.EnginePool.get("balanced", lang).decode(page).text ==
        graft.codec.SynthRaster.groundTruth("health probe 01")
    }
    // pdf path probe (the poppler check analog)
    val pdfOk = graft.ops.Multimodal.pdfPages(
      graft.ops.Multimodal.synthPdf(Seq("p0", "p1"), 7L)).length == 2
    // live counters: an absent manifest is a fresh deployment (zero
    // counters); one that exists but cannot be read is unhealthy, never
    // "0 committed docs, success"
    val manifest: Either[String, (Long, Long)] =
      if (manifestPath.isEmpty) Right((0L, 0L))
      else {
        val p = new org.apache.hadoop.fs.Path(manifestPath)
        if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Right((0L, 0L))
        else
          try {
            val m = spark.read.parquet(manifestPath)
            Right((m.count(), m.agg(coalesce(sum($"doc_count"), lit(0L))).head().getLong(0)))
          } catch { case e: Exception => Left(s"manifest unreadable: ${e.getMessage}") }
      }
    val (buckets, docs) = manifest.getOrElse((0L, 0L))
    val problem =
      if (!engineOk || !pdfOk) Some("engine probe failed") else manifest.left.toOption
    Seq((
      if (problem.isEmpty) "success" else "error",
      problem.getOrElse("OCR engine is healthy"),
      s"graft-glyph-matrix/${graft.codec.Glyphs.alphabet.length}", // tesseract_version
      langs.mkString(","), // the traineddata list
      pdfOk, // poppler analog
      buckets, // active_sessions analog: committed manifest buckets
      docs, // cached_results analog: committed documents
      spark.sparkContext.defaultParallelism // workers
    )).toDF("status", "message", "engine_version", "languages", "pdf_ok",
      "committed_buckets", "committed_docs", "workers")
  }
}
