package graft

import graft.codec.{Glyphs, SynthRaster}
import graft.gen.Corpus
import graft.ocr.{EnginePool, OcrEngine}
import org.scalatest.funsuite.AnyFunSuite

/** Roundtrip correctness of the deterministic OCR kernel: for every
  * preprocessing chain of the reference (`app.py:521-548`),
  * decode(preprocess(render(text))) must equal groundTruth(text) —
  * this is what makes the north-rule span-equality fixtures exact.
  */
class CodecSpec extends AnyFunSuite {

  val samples: Seq[String] = (0 until 40).map(Corpus.mediaTextFor) ++ Seq(
    "the quick brown fox jumps over the lazy dog 0123456789.",
    "a. b! c? d, e.",
    "hello world",
    "x",
    "numbers 042 and 999 mix with words. punctuation, too!")

  test("glyph patterns are pairwise distinct with margin") {
    val p = Glyphs.patterns
    for (i <- p.indices; j <- 0 until i) {
      val d = Glyphs.popcount(p(i) ^ p(j))
      assert(d >= 12, s"glyphs ${Glyphs.alphabet(i)} vs ${Glyphs.alphabet(j)}: distance $d")
    }
    p.indices.foreach { i =>
      val ink = Glyphs.popcount(p(i))
      assert(ink >= 10 && ink <= 26, s"glyph ${Glyphs.alphabet(i)} ink $ink")
    }
  }

  test("normalize/wrap/groundTruth behave") {
    assert(SynthRaster.normalize("Hello,  WORLD!") == "hello, world!")
    assert(SynthRaster.normalize("a\t\nb") == "a b")
    assert(SynthRaster.wrap("a b").mkString("|") == "a b")
    val long = Seq.fill(30)("word").mkString(" ")
    SynthRaster.wrap(long).foreach(l => assert(l.length <= SynthRaster.COLS))
  }

  for (mode <- Seq("fast", "balanced", "quality", "default")) {
    test(s"roundtrip is exact under mode=$mode") {
      val engine = EnginePool.get(mode)
      samples.zipWithIndex.foreach { case (text, i) =>
        val bytes = SynthRaster.render(text, seed = 1000L + i)
        val got = engine.decode(bytes)
        val want = SynthRaster.groundTruth(text)
        assert(got.text == want, s"mode=$mode sample=$i\n got=[${got.text}]\nwant=[$want]")
        assert(got.avgConfidence > 0 && got.avgConfidence <= 100.0)
      }
    }
  }

  test("language axis: each engine reads its own language exactly; a foreign table misreads") {
    val text = "the quick brown fox jumps over the lazy dog 0123456789"
    val want = SynthRaster.groundTruth(text)
    for (lang <- graft.codec.Glyphs.languages) {
      // an engine over its own language's page: exact roundtrip
      val page = SynthRaster.render(text, seed = 77L, language = lang)
      val own = EnginePool.get("balanced", lang).decode(page)
      assert(own.text == want, s"own-language roundtrip broke for $lang")
    }
    // the same eng page decoded under the ind tables: the engine picks
    // nearest-ind glyphs — different text (the -l mismatch behavior)
    val engPage = SynthRaster.render(text, seed = 77L, language = "eng")
    val foreign = EnginePool.get("balanced", "ind").decode(engPage)
    assert(foreign.text != want, "ind tables decoded an eng page as if native")
    // default language is bit-stable: eng font IS the original table
    assert(graft.codec.Glyphs.fontFor("eng").sameElements(graft.codec.Glyphs.patterns))
    // unknown language = missing traineddata: loud failure
    intercept[IllegalArgumentException](graft.codec.Glyphs.fontFor("xx"))
  }

  for (ocrMode <- Seq("fast", "standard", "accurate");
       chain <- Seq("fast", "balanced", "quality", "default")) {
    test(s"engine mode $ocrMode keeps the roundtrip exact under chain=$chain") {
      val engine = EnginePool.get(chain)
      samples.take(10).zipWithIndex.foreach { case (text, i) =>
        val got = engine.decode(SynthRaster.render(text, seed = 2000L + i), "medium", ocrMode)
        assert(got.text == SynthRaster.groundTruth(text),
          s"ocrMode=$ocrMode chain=$chain sample=$i")
      }
    }
  }

  test("engine modes differ observably: conf(fast) <= conf(standard) <= conf(accurate)") {
    val engine = EnginePool.get("default") // Otsu chain: threshold-parameterized tables
    samples.take(20).zipWithIndex.foreach { case (text, i) =>
      val bytes = SynthRaster.render(text, seed = 4000L + i)
      val s = engine.decode(bytes, "medium", "standard").avgConfidence
      val a = engine.decode(bytes, "medium", "accurate").avgConfidence
      assert(a >= s, s"accurate ($a) must never score below standard ($s), sample $i")
    }
  }

  test("accurate mode recovers confidence on a misaligned scan (+1px shift)") {
    val bytes = SynthRaster.render("spark merge scan", seed = 11L)
    val (w, h, px) = SynthRaster.parse(bytes)
    // shift the whole page content right by one column (paper fills in)
    val shifted = new Array[Int](px.length)
    var y = 0
    while (y < h) {
      var x = w - 1
      while (x >= 0) {
        shifted(y * w + x) = if (x == 0) SynthRaster.PAPER else px(y * w + x - 1)
        x -= 1
      }
      y += 1
    }
    val sb = SynthRaster.toBytes(w, h, shifted)
    val engine = EnginePool.get("default")
    val std = engine.decode(sb, "medium", "standard")
    val acc = engine.decode(sb, "medium", "accurate")
    assert(acc.text == std.text, "mode must not change the decoded text")
    assert(acc.avgConfidence > std.avgConfidence,
      s"placement search must recover confidence on a shifted page " +
        s"(std=${std.avgConfidence}, acc=${acc.avgConfidence})")
  }

  test("decode is deterministic (same bytes -> same result)") {
    val bytes = SynthRaster.render(samples.head, seed = 7L)
    val e = EnginePool.get("default")
    val a = e.decode(bytes)
    val b = e.decode(bytes)
    assert(a.text == b.text && a.avgConfidence == b.avgConfidence)
    assert(a.confidences.sameElements(b.confidences))
  }

  test("confidence semantics: -1 boxes filtered, mean of the rest (app.py:586-593)") {
    val bytes = SynthRaster.render("ab cd", seed = 3L)
    val r = EnginePool.get("default").decode(bytes)
    assert(r.confidences.contains(-1)) // the gap box
    val kept = r.confidences.filter(_ != -1)
    assert(math.abs(r.avgConfidence - kept.sum.toDouble / kept.length) < 1e-12)
  }

  test("empty raster decodes to empty text with confidence 0") {
    val bytes = SynthRaster.render("", seed = 5L)
    val r = EnginePool.get("default").decode(bytes)
    assert(r.text == "")
    assert(r.avgConfidence == 0.0)
  }

  // ---- opt-in pre-stages (north_star's deskew + median denoise; absent
  // from the reference CODE, so off by default — these cases prove
  // identity-off and effective-on) ----------------------------------------

  private def rerender(px: Array[Int], w: Int, h: Int): Array[Byte] =
    SynthRaster.toBytes(w, h, px) // the format's own raw encoder

  private def charSim(a: String, b: String): Double = {
    val n = math.max(a.length, b.length)
    if (n == 0) return 1.0
    var same = 0
    var i = 0
    while (i < math.min(a.length, b.length)) { if (a(i) == b(i)) same += 1; i += 1 }
    same.toDouble / n
  }

  test("preStages identity-off: default decode path is unchanged with Nil stages") {
    val text = Corpus.mediaTextFor(7)
    val bytes = SynthRaster.render(text, seed = 77L)
    val e = EnginePool.get("default")
    val a = e.decode(bytes)
    val b = e.decode(bytes, preStages = Nil)
    assert(a.text == b.text && a.avgConfidence == b.avgConfidence &&
      a.confidences.toSeq == b.confidences.toSeq)
    assert(a.text == SynthRaster.groundTruth(text))
  }

  test("deskew stage: a 1-degree-skewed page misreads without it, decodes exactly with it") {
    // optical skew model: bilinear resampling (a crooked scan is an
    // optical rotation, not a pixel permutation); multi-line page so
    // the ink stays in frame; accurate engine mode (the misaligned-
    // scan mode — the +1px-shift test above is its 0-degree case)
    val text = Corpus.mediaTextFor(2)
    val bytes = SynthRaster.render(text, seed = 93L)
    val (w, h, px) = graft.img.ImageCodec.decode(bytes)
    val fill = graft.img.ImageOps.modalValue(px)
    val truth = SynthRaster.groundTruth(text)
    val e = EnginePool.get("default")
    val rot1 = rerender(
      graft.img.ImageOps.rotate(px, w, h, 1.0, fill, bilinear = true), w, h)
    val skewed = e.decode(rot1, ocrMode = "accurate")
    assert(skewed.text != truth, "a 1-degree skew must break the grid decode")
    val fixed = e.decode(rot1, ocrMode = "accurate", preStages = Seq("deskew"))
    assert(fixed.text == truth,
      s"deskew must restore the exact decode, got '${fixed.text}'")
    // estimator sanity: recovers planted angles within 0.3 degrees
    for (a <- Seq(-3.0, 1.0, 3.0)) {
      val est = graft.img.ImageOps.estimateSkew(
        graft.img.ImageOps.rotate(px, w, h, a, fill, bilinear = true), w, h)
      assert(math.abs(est - a) <= 0.3, s"skew estimate $est for a $a-degree rotation")
    }
    // at a harsher 3-degree skew exactness is no longer guaranteed
    // (bilinear smear at 3 deg exceeds the glyph margin) but the stage
    // must still move the decode from garbage to near-truth
    val rot3 = rerender(
      graft.img.ImageOps.rotate(px, w, h, 3.0, fill, bilinear = true), w, h)
    val raw3 = e.decode(rot3, ocrMode = "accurate").text
    val fix3 = e.decode(rot3, ocrMode = "accurate", preStages = Seq("deskew")).text
    assert(charSim(fix3, truth) > charSim(raw3, truth) + 0.5,
      s"3-degree: fixSim=${charSim(fix3, truth)} rawSim=${charSim(raw3, truth)}")
  }

  test("denoise stage: salt-and-pepper speckle misreads without it, decodes exactly with it") {
    val text = Corpus.mediaTextFor(11)
    val bytes = SynthRaster.render(text, seed = 13L)
    val (w, h, px) = graft.img.ImageCodec.decode(bytes)
    // deterministic isolated speckles (grid-spaced so no two are
    // adjacent — single-pixel black dots on paper / white holes in
    // ink): exactly the outlier class the conditional median removes
    // while 1-px glyph strokes (which always continue into a similar
    // neighbor) survive
    val speckled = px.clone()
    var i = 0
    while (i < speckled.length) {
      val x = i % w
      val y = i / w
      if (x % 2 == 0 && y % 2 == 0) {
        val r = graft.util.Det.at(0xbadL, i.toLong)
        if (graft.util.Det.bounded(r, 10) == 0)
          speckled(i) =
            if (graft.util.Det.bounded(graft.util.Det.mix64(r), 2) == 0) 0 else 255
      }
      i += 1
    }
    val e = EnginePool.get("default")
    val truth = SynthRaster.groundTruth(text)
    val noisy = e.decode(rerender(speckled, w, h))
    val cleaned = e.decode(rerender(speckled, w, h), preStages = Seq("denoise"))
    assert(cleaned.text == truth,
      s"despeckle denoise must restore the exact decode, got '${cleaned.text}'")
    // the speckle must be observable on the raw path: broken text or
    // strictly lower confidence than the denoised decode
    assert(noisy.text != truth || noisy.avgConfidence < cleaned.avgConfidence,
      "the planted speckle should be observable on the raw path")
    // and the conditional median is an IDENTITY on the clean page
    // (strokes untouched — the unconditional filter is not)
    val clean2 = graft.img.ImageOps.despeckle3(px, w, h)
    assert(clean2.toSeq == px.toSeq, "despeckle must not touch a clean page")
  }
}
