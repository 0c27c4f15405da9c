package graft.codec

import graft.util.Det

/** Synthetic 5x7 glyph font used by the deterministic raster codec.
  *
  * The sandbox has no Tesseract (verified: no binary, no Tess4J jar), so
  * the OCR engine decodes a synthetic raster format instead — see
  * SURVEY.md §7.2. The font itself is a deployment detail of that
  * stand-in: glyph bitmaps are stroke-composed patterns derived
  * deterministically from each character code, constrained so that
  *
  *   - every glyph has 10..26 ink pixels (enough mass to survive the
  *     reference's preprocessing chains: 3x3/5x5 Gaussian blur followed
  *     by global-128 / Otsu / adaptive-Gaussian(11,2) binarization,
  *     `app.py:521-548`),
  *   - strokes have length >= 3 so blur erosion never removes a glyph,
  *   - pairwise Hamming distance >= 12 of 35, so post-chain templates
  *     remain unambiguous under the deterministic per-pixel noise the
  *     corpus generator injects.
  *
  * Alphabet: a-z, 0-9 and `. ! ? ,` (40 glyphs); space renders as a
  * blank cell. `GlyphSpec` hands the decoder the same table, making
  * encode/decode exact inverses after preprocessing — which is what
  * lets the north-rule span-equality fixtures be exact.
  */
object Glyphs {
  final val W = 5
  final val H = 7
  final val PIX = W * H // 35

  // COUPLED CONSTANT (round-5 ADVICE): the x21_health DuckDB oracle
  // pins 'graft-glyph-matrix/<alphabet.length>' and the language list
  // as string literals (SparkEntry.oracleSql "x21_health"). An
  // alphabet resize or added language is a legitimate engine change,
  // but it MUST update that oracle in the same commit or the whole
  // x21 row surfaces as an opaque hash mismatch.
  val alphabet: String = "abcdefghijklmnopqrstuvwxyz0123456789.!?,"

  /** Thresholds spanning where Otsu empirically lands on rendered pages
    * for the blur3 and blur5 chains (measured: 165..187). Declared
    * before `patterns` — build() reads it during static init.
    */
  private val blurTs = Array(165, 175, 185)

  /** bit i set = ink at (x = i % W, y = i / W) — the default ("eng")
    * font. Language models are per-language FONTS over the shared
    * alphabet: the analog of tesseract's `-l {language}` traineddata
    * (`app.py:579` threads `language` into every OCR call) — the same
    * page decoded under a different language's tables yields different
    * text, exactly like running an Indonesian model over an English
    * scan. "eng" uses language seed 0, which leaves the original
    * derivation untouched (x^0 = x), so default-language behavior is
    * bit-identical to the pre-language engine.
    */
  val patterns: Array[Long] = build(0L)

  /** The static language list — the S9 analog of the reference's
    * supported-languages config (`app.py` language endpoint): each
    * entry has a trained font.
    */
  val languageSeeds: Map[String, Long] = Map("eng" -> 0L, "ind" -> 0x1d0e51aL)
  def languages: Seq[String] = languageSeeds.keys.toSeq.sorted

  private val fonts = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  fonts.put("eng", patterns): Unit

  /** Glyph patterns of a language's font. Unknown language = unknown
    * traineddata: fail loudly, like tesseract would.
    */
  def fontFor(lang: String): Array[Long] = {
    val seed = languageSeeds.getOrElse(lang,
      throw new IllegalArgumentException(
        s"unknown language '$lang' (supported: ${languages.mkString(",")})"))
    fonts.computeIfAbsent(lang, _ => build(seed))
  }

  private val charIndex: Array[Int] = {
    val a = Array.fill(128)(-1)
    var i = 0
    while (i < alphabet.length) { a(alphabet.charAt(i)) = i; i += 1 }
    a
  }

  def indexOf(c: Char): Int = if (c < 128) charIndex(c) else -1

  def popcount(x: Long): Int = java.lang.Long.bitCount(x)

  /** Compose a candidate glyph out of 2..4 axis-aligned strokes. */
  private def candidate(seed: Long): Long = {
    var bits = 0L
    val nStrokes = 2 + Det.bounded(Det.at(seed, 0), 3)
    var s = 0
    while (s < nStrokes) {
      val r0 = Det.at(seed, 16 + s * 4)
      val r1 = Det.at(seed, 17 + s * 4)
      val r2 = Det.at(seed, 18 + s * 4)
      val r3 = Det.at(seed, 19 + s * 4)
      if ((r0 & 1L) == 0L) { // horizontal stroke
        val y = Det.bounded(r1, H)
        val len = 3 + Det.bounded(r2, W - 2) // 3..5
        val x0 = Det.bounded(r3, W - len + 1)
        var x = x0
        while (x < x0 + len) { bits |= 1L << (y * W + x); x += 1 }
      } else { // vertical stroke
        val x = Det.bounded(r1, W)
        val len = 3 + Det.bounded(r2, H - 2) // 3..7
        val y0 = Det.bounded(r3, H - len + 1)
        var y = y0
        while (y < y0 + len) { bits |= 1L << (y * W + x); y += 1 }
      }
      s += 1
    }
    bits
  }

  /** The glyph's appearance after the harshest chain (5x5 binomial blur
    * + binarization at the nominal ink/paper midpoint) — used during
    * construction to guarantee glyphs stay distinguishable post-blur,
    * not only in raw form. Rendered alone on a padded canvas with the
    * raster's ink/paper constants (18/230).
    */
  /** The glyph's appearance under the balanced chain (3x3 blur +
    * adaptive-Gaussian(11,2)), isolated on a window-sized canvas —
    * constrains construction so adaptive-binarized glyphs stay apart.
    */
  private def adaptiveForm(pat: Long): Long = {
    val pad = 5 // adaptive window radius
    val cw = W + 2 * pad; val ch = H + 2 * pad
    val px = Array.fill(cw * ch)(230)
    var b = 0
    while (b < PIX) {
      if ((pat & (1L << b)) != 0L) px((b / W + pad) * cw + (b % W + pad)) = 18
      b += 1
    }
    val (bin, _) = graft.ocr.OcrEngine.preprocess(px, cw, ch, "balanced")
    var mask = 0L
    b = 0
    while (b < PIX) {
      if (bin((b / W + pad) * cw + (b % W + pad)) == 0) mask |= 1L << b
      b += 1
    }
    mask
  }

  private def blurredForms(pat: Long): Array[Long] = {
    val pad = 2
    val cw = W + 2 * pad; val ch = H + 2 * pad
    val px = Array.fill(cw * ch)(230)
    var b = 0
    while (b < PIX) {
      if ((pat & (1L << b)) != 0L) px((b / W + pad) * cw + (b % W + pad)) = 18
      b += 1
    }
    val bl = graft.img.ImageOps.gaussianBlur(px, cw, ch, 5)
    blurTs.map { t =>
      var mask = 0L
      var b = 0
      while (b < PIX) {
        if (bl((b / W + pad) * cw + (b % W + pad)) <= t) mask |= 1L << b
        b += 1
      }
      mask
    }
  }

  private def build(langSeed: Long): Array[Long] = {
    val out = new Array[Long](alphabet.length)
    val outBlurs = new Array[Array[Long]](alphabet.length)
    var i = 0
    while (i < alphabet.length) {
      var salt = 0L
      var found = false
      // fallback: track the candidate with the best worst-case margin so
      // construction provably terminates even if thresholds are tight
      var bestCand = 0L; var bestBlurs: Array[Long] = null; var bestScore = -1
      while (!found && salt < 200000) {
        val cand = candidate(Det.mix64(alphabet.charAt(i).toLong * 7919L ^ langSeed, salt))
        val ink = popcount(cand)
        if (ink >= 10 && ink <= 26) {
          // cheap raw-distance gate first; blur forms only for survivors
          var minRaw = Int.MaxValue
          var j = 0
          while (j < i) { minRaw = math.min(minRaw, popcount(cand ^ out(j))); j += 1 }
          if (minRaw >= 12) {
            val candBlurs = blurredForms(cand) :+ adaptiveForm(cand)
            if (popcount(candBlurs(0)) >= 4 && popcount(candBlurs.last) >= 4) {
              var minBlur = Int.MaxValue
              j = 0
              while (j < i) {
                var k = 0
                while (k < candBlurs.length) {
                  minBlur = math.min(minBlur, popcount(candBlurs(k) ^ outBlurs(j)(k)))
                  k += 1
                }
                j += 1
              }
              if (minBlur >= 8) {
                out(i) = cand; outBlurs(i) = candBlurs; found = true
              } else if (minBlur * 2 > bestScore) {
                bestScore = minBlur * 2; bestCand = cand; bestBlurs = candBlurs
              }
            }
          }
        }
        salt += 1
      }
      if (!found) {
        // bestCand/bestBlurs are only set for candidates that passed
        // every gate; if NO candidate did (a pathological future seed),
        // fall back to the last deterministic candidate rather than a
        // blank 0L glyph with null blur forms (which would silently
        // decode as paper and NPE the next glyph's distance loop)
        if (bestBlurs == null) {
          bestCand = candidate(Det.mix64(alphabet.charAt(i).toLong * 7919L ^ langSeed, 0L))
          bestBlurs = blurredForms(bestCand) :+ adaptiveForm(bestCand)
        }
        out(i) = bestCand; outBlurs(i) = bestBlurs
      }
      i += 1
    }
    out
  }
}
