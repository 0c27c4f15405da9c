package graft.ocr

import graft.codec.{Glyphs, SynthRaster}
import graft.img.ImageOps

/** The OCR kernel. Structure mirrors what a Tess4J deployment would be
  * (SURVEY.md §7.0/§7.2): an engine object holding per-mode decode
  * tables, created lazily once per executor JVM by [[EnginePool]] and
  * shared by the `mapPartitions` tasks on that executor. In this
  * sandbox (no Tesseract binary / Tess4J jar — verified) the engine is
  * a deterministic glyph-matrix decoder over the synthetic raster
  * format; swapping `decode` for a Tess4J call is the only deployment
  * change.
  *
  * Semantics mirrored from the reference:
  *  - preprocessing chains of `preprocess_image` (`app.py:521-548`):
  *    fast = global-128; balanced = blur3 + adaptive(11,2);
  *    quality = blur5 + Otsu + close(1x1); default = blur3 + Otsu;
  *  - resize cap before preprocessing (`optimize_image_for_mobile`,
  *    `app.py:323-362`, v2 quality table `app2.py:214-223`);
  *  - per-token confidences with `-1` entries for non-word boxes and
  *    the `conf != -1` mean of `perform_ocr` (`app.py:586-593`):
  *    avg = sum(conf)/len(conf) over conf != -1, else 0.
  */
object OcrEngine {

  /** Preprocess mode, keyed exactly like the reference's
    * `preprocess_type` (`app.py:524-548`) with the v2 quality mapping
    * low->fast, medium->balanced, high->quality (`app2.py:557-558`).
    * The one definition of each chain: returns the binarized page and
    * the global threshold it used — 128 for fast, the page's Otsu
    * threshold for quality/default, -1 for the adaptive chain and for
    * a blank (low-contrast) page.
    */
  def preprocess(px: Array[Int], w: Int, h: Int, mode: String): (Array[Int], Int) =
    mode match {
      case "fast" =>
        (ImageOps.thresholdGlobal(px, 128), 128)
      case "balanced" =>
        (ImageOps.adaptiveGaussian(ImageOps.gaussianBlur(px, w, h, blurSize(mode)), w, h, 11, 2.0), -1)
      case "quality" =>
        val (bin, t) = ImageOps.blurOtsu(px, w, h, blurSize(mode))
        (ImageOps.morphClose(bin, w, h, 1, 1), t)
      case _ => // "default"
        ImageOps.blurOtsu(px, w, h, blurSize(mode))
    }

  /** The Gaussian blur kernel each chain runs before binarizing
    * (0 = none): [[preprocess]] and the engine's calibration both read
    * it here.
    */
  private[ocr] def blurSize(mode: String): Int = mode match {
    case "fast" => 0
    case "quality" => 5
    case _ => 3 // balanced / default
  }

  /** Opt-in raster pre-stages (`ExtractJob.Config.preStages`), applied
    * in the caller's order before the chain: "deskew" (Hough-vote angle
    * estimate + rotate-out) and "denoise" (the stroke-preserving
    * conditional 3x3 median, [[ImageOps.despeckle3]]). The one
    * allowlist: the plan-time config check reads its keys.
    */
  val PreStages: Map[String, (Array[Int], Int, Int) => Array[Int]] = Map(
    "deskew" -> ImageOps.deskew,
    "denoise" -> ImageOps.despeckle3)

  /** v2 resize caps by quality (`app2.py:214-223`); v1 cap 1500. */
  def resizeCapFor(quality: String): Int = quality match {
    case "low" => 800
    case "high" => 2000
    case "v1" => 1500
    case _ => 1200
  }

  final case class Token(text: String, conf: Int)

  /** Per-region OCR for the structure analyzer — the stand-in for
    * `pytesseract.image_to_string(roi, config='--psm 6')`
    * (`app.py:891-893`). The ROI is a raw grayscale crop (the reference
    * does not preprocess it), so: binarize (Otsu when the crop is
    * bimodal, uniform-dark classification otherwise — a crop of a
    * single filled stroke has no second mode), then match the ink mask
    * against the raw font patterns over all in-frame placements. Empty
    * or unmatchable crops return "" and the region is dropped upstream,
    * mirroring `if text.strip()`.
    */
  def decodeRoi(gray: Array[Int], w: Int, h: Int, language: String = "eng"): String = {
    val font = Glyphs.fontFor(language)
    if (w > Glyphs.W || h > Glyphs.H) return "" // larger than a glyph: no text
    var mn = 255; var mx = 0
    var i = 0
    while (i < gray.length) {
      if (gray(i) < mn) mn = gray(i)
      if (gray(i) > mx) mx = gray(i)
      i += 1
    }
    val ink: Int => Boolean =
      if (mx - mn >= 64) { val t = ImageOps.otsuThreshold(gray); p => p <= t }
      else if ((mn + mx) / 2 < 128) _ => true // uniform dark crop = all ink
      else return ""
    var bestChar = ' '
    var bestD = Int.MaxValue
    var dy = 0
    while (dy <= Glyphs.H - h) {
      var dx = 0
      while (dx <= Glyphs.W - w) {
        var mask = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            if (ink(gray(y * w + x))) mask |= 1L << ((y + dy) * Glyphs.W + (x + dx))
            x += 1
          }
          y += 1
        }
        var g = 0
        while (g < font.length) {
          val d = Glyphs.popcount(mask ^ font(g))
          if (d < bestD) { bestD = d; bestChar = Glyphs.alphabet.charAt(g) }
          g += 1
        }
        dx += 1
      }
      dy += 1
    }
    if (bestD <= 10) bestChar.toString else ""
  }

  /** text + tesseract-style token confidence list (-1 for non-word
    * boxes) + the `conf != -1` average.
    */
  final case class Result(text: String, confidences: Array[Int], avgConfidence: Double)
}

/** One decoder instance. Glyph decode tables are derived from a
  * zero-noise calibration page pushed through the same preprocessing
  * chain as the target page. Global-threshold chains (fast / default /
  * quality) have one data-dependent parameter — the page's Otsu
  * threshold — so their templates are parameterized by it and
  * re-derived (cached) per observed threshold: the engine sees each
  * glyph exactly as this page's binarization renders it. The adaptive
  * chain (balanced) thresholds locally; its templates are static and
  * matching relies on the font's >=12/35 pairwise distance margin.
  */
final class OcrEngine(val mode: String, val language: String = "eng") {
  import OcrEngine._

  /** The zero-noise calibration page: every glyph once (40 glyphs =
    * exactly one line), rendered with seed-0 jitter, which matching
    * tolerates.
    */
  private val (calibW, calibH, calibPx) = SynthRaster.parse(
    SynthRaster.render(Glyphs.alphabet, seed = 0L, noise = false, language))

  /** Pre-threshold calibration cells per glyph: the page through this
    * chain's blur.
    */
  private val calibGray: Array[Array[Int]] = {
    val k = blurSize(mode)
    val px = if (k == 0) calibPx else ImageOps.gaussianBlur(calibPx, calibW, calibH, k)
    Array.tabulate(Glyphs.alphabet.length) { gi =>
      val x0 = SynthRaster.MARGIN + gi * SynthRaster.CELL_W
      val y0 = SynthRaster.MARGIN
      Array.tabulate(Glyphs.PIX) { b =>
        px((y0 + b / Glyphs.W) * calibW + (x0 + b % Glyphs.W))
      }
    }
  }

  /** Static templates: the calibration page through this engine's own
    * chain. The tables of the adaptive chain, which has no global
    * threshold; a blank page of the Otsu chains also lands here, where
    * no cell holds ink and the tables are never consulted.
    */
  private lazy val chainTemplates: Array[Long] = {
    val (bin, _) = preprocess(calibPx, calibW, calibH, mode)
    Array.tabulate(Glyphs.alphabet.length)(gi => cellMask(bin, calibW, gi, 0))
  }

  private val templCache = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()

  /** Templates under a given global threshold t (binary: px > t = bg). */
  private def templatesAt(t: Int): Array[Long] =
    templCache.computeIfAbsent(t, _ =>
      calibGray.map { cell =>
        var mask = 0L
        var b = 0
        while (b < Glyphs.PIX) {
          if (cell(b) <= t) mask |= 1L << b
          b += 1
        }
        mask
      })

  /** Extract the 5x7 ink mask of cell (col, row) from a binarized page
    * (ink = 0 after THRESH_BINARY on dark-text-on-light).
    */
  private def cellMask(bin: Array[Int], w: Int, col: Int, row: Int): Long =
    cellMaskAt(bin, w,
      SynthRaster.MARGIN + col * SynthRaster.CELL_W,
      SynthRaster.MARGIN + row * SynthRaster.CELL_H)

  /** 5x7 ink mask at raw pixel origin (x0, y0). */
  private def cellMaskAt(bin: Array[Int], w: Int, x0: Int, y0: Int): Long = {
    var mask = 0L
    var b = 0
    while (b < Glyphs.PIX) {
      val x = x0 + b % Glyphs.W
      val y = y0 + b / Glyphs.W
      if (bin(y * w + x) == 0) mask |= 1L << b
      b += 1
    }
    mask
  }

  /** OCR engine mode — the analog of the reference v2's per-quality
    * tesseract configs (`fast` `--oem 0 --psm 6` / `standard` /
    * `accurate`, `app2.py:345-353`). Glyph CHOICE always uses the exact
    * per-page tables — the mode must never change the text (the north
    * rule pins span text) — while confidence SCORING differs:
    *
    *  - standard (and fast, which scores the same): exact
    *    per-threshold scoring;
    *  - accurate: scores the chosen glyph at the best of the 9 +-1px
    *    placements — 9x the scoring work, confidence >= standard (the
    *    jittered-scan tolerance a slow pass buys).
    */
  /** Decode one raster. Deterministic: same bytes -> same Result. */
  def decode(bytes: Array[Byte], quality: String = "medium",
             ocrMode: String = "standard",
             preStages: Seq[String] = Nil): Result = {
    // compressed inputs (the reference's png/jpg/gif/bmp/tiff
    // allowlist) decode through ImageIO; raw synthetic rasters through
    // the parser — one code path after this line either way
    val (w0, h0, px0) = graft.img.ImageCodec.decode(bytes)
    // the mobile resize cap applies to COMPRESSED (real-image) inputs —
    // the reference's decode-cost ceiling. A synthetic glyph raster
    // must decode at native scale: its fixed MARGIN/CELL grid does not
    // survive rescaling (a capped page would decode to confident
    // garbage, not text), and its decode cost is the glyph scan itself
    val (pxCapped, w, h) =
      if (graft.img.ImageCodec.isCompressedImage(bytes))
        ImageOps.resizeCap(px0, w0, h0, resizeCapFor(quality))
      else (px0, w0, h0)
    // opt-in raster pre-stages (default Nil = the reference-exact
    // path), in the caller's order, BEFORE the quality chain
    val px = preStages.foldLeft(pxCapped) { (p, stage) =>
      PreStages.getOrElse(stage,
        throw new IllegalArgumentException(s"unknown preStage '$stage'"))(p, w, h)
    }

    // run the chain, keeping the page's global threshold (if any) so the
    // decode tables reflect exactly this page's binarization
    val (bin, pageT) = preprocess(px, w, h, mode)
    val templates = if (pageT >= 0) templatesAt(pageT) else chainTemplates

    val cols = (w - 2 * SynthRaster.MARGIN) / SynthRaster.CELL_W
    val rows = (h - 2 * SynthRaster.MARGIN) / SynthRaster.CELL_H

    val sb = new StringBuilder
    val confs = Array.newBuilder[Int]
    var r = 0
    while (r < rows) {
      val line = new StringBuilder
      val charConfs = new scala.collection.mutable.ArrayBuffer[Int]
      var c = 0
      while (c < cols) {
        val mask = cellMask(bin, w, c, r)
        if (Glyphs.popcount(mask) < 2) { // blank cell -> space
          line.append(' '); charConfs += -1
        } else {
          // glyph CHOICE: exact tables, center placement — identical
          // across engine modes by construction
          var best = 0; var bestD = Int.MaxValue
          var g = 0
          while (g < templates.length) {
            val d = Glyphs.popcount(mask ^ templates(g))
            if (d < bestD) { bestD = d; best = g }
            g += 1
          }
          // confidence SCORING: mode-dependent (see OcrEngine doc)
          val scoreD = ocrMode match {
            case "accurate" =>
              val x0 = SynthRaster.MARGIN + c * SynthRaster.CELL_W
              val y0 = SynthRaster.MARGIN + r * SynthRaster.CELL_H
              var dmin = bestD
              var dy = -1
              while (dy <= 1) {
                var dx = -1
                while (dx <= 1) {
                  if ((dx != 0 || dy != 0) && x0 + dx >= 0 && y0 + dy >= 0 &&
                      x0 + dx + Glyphs.W <= w && y0 + dy + Glyphs.H <= h) {
                    val d = Glyphs.popcount(
                      cellMaskAt(bin, w, x0 + dx, y0 + dy) ^ templates(best))
                    if (d < dmin) dmin = d
                  }
                  dx += 1
                }
                dy += 1
              }
              dmin
            case _ => bestD
          }
          line.append(Glyphs.alphabet.charAt(best))
          charConfs += math.max(0, ((Glyphs.PIX - scoreD) * 100) / Glyphs.PIX)
        }
        c += 1
      }
      // token confidences: mean char conf per maximal non-space run;
      // ONE -1 box per whitespace gap BETWEEN tokens (tesseract layout
      // rows) — not one per space character: a two-space gap is one
      // separator, and leading/trailing pad spaces box nothing
      var i = 0
      var runSum = 0; var runLen = 0
      var lineHasToken = false
      while (i <= line.length) {
        val isChar = i < line.length && line.charAt(i) != ' '
        if (isChar) { runSum += charConfs(i); runLen += 1 }
        else if (runLen > 0) {
          if (lineHasToken) confs += -1
          confs += runSum / runLen
          lineHasToken = true
          runSum = 0; runLen = 0
        }
        i += 1
      }
      // trailing-space trim without regex (round-6: String.replaceAll
      // recompiled its pattern on every line of every page): a decoded
      // line holds only glyph chars and spaces, so stripping the
      // trailing space run is exactly replaceAll("\\s+$", "")
      var end = line.length
      while (end > 0 && line.charAt(end - 1) == ' ') end -= 1
      if (r > 0) sb.append('\n')
      sb.append(line.substring(0, end))
      r += 1
    }
    // trailing-newline strip == replaceAll("\\n+$", "") on a string
    // whose only terminators are the '\n' separators appended above
    var tEnd = sb.length
    while (tEnd > 0 && sb.charAt(tEnd - 1) == '\n') tEnd -= 1
    val text = sb.substring(0, tEnd)
    val confArr = confs.result()
    val kept = confArr.filter(_ != -1)
    val avg = if (kept.nonEmpty) kept.sum.toDouble / kept.length else 0.0
    Result(text, confArr, avg)
  }
}

/** Lazy per-JVM engine pool — the Tess4J-pool lifecycle shape: one
  * engine per (mode) shared across all tasks of the executor, created
  * on first use, never serialized (accessed only inside
  * `mapPartitions` closures).
  */
object EnginePool {
  private val engines = new java.util.concurrent.ConcurrentHashMap[String, OcrEngine]()

  /** One engine per (mode, language) — the mode x language decode-table
    * grid, mirroring how a Tess4J pool holds one engine per traineddata.
    */
  def get(mode: String, language: String = "eng"): OcrEngine =
    engines.computeIfAbsent(s"$mode|$language", _ => new OcrEngine(mode, language))
}
