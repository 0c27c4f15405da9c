package graft

import graft.codec.SynthRaster
import graft.ops.Multimodal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-mm")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("container sniffing and typed metadata") {
    val img = SynthRaster.render("an image", 1L)
    val vid = Multimodal.synthVideo(7, nFrames = 5)
    val aud = Multimodal.synthAudio(3)
    assert(Multimodal.kindOf(img) == "image")
    assert(Multimodal.kindOf(vid) == "video")
    assert(Multimodal.kindOf(aud) == "audio")
    val vm = Multimodal.metaOf("v", vid)
    assert(vm.n_frames == 5 && vm.width > 0 && vm.height > 0)
    val am = Multimodal.metaOf("a", aud)
    assert(am.sample_rate == 8000 && am.n_samples > 0)
    val im = Multimodal.metaOf("i", img)
    assert(im.kind == "image" && im.n_frames == 1)
  }

  test("frame sampling keeps every stride-th frame, in order") {
    val vid = Multimodal.synthVideo(11, nFrames = 7)
    val kept = Multimodal.sampleFrames(vid, stride = 3)
    assert(kept.map(_._1) == Vector(0, 3, 6))
    // each sampled frame is itself a decodable raster
    kept.foreach { case (_, fb) => SynthRaster.parse(fb) }
  }

  test("audio features are deterministic and sane") {
    val a1 = Multimodal.audioFeatures("a", Multimodal.synthAudio(3))
    val a2 = Multimodal.audioFeatures("a", Multimodal.synthAudio(3))
    assert(a1 == a2)
    assert(a1.duration_ms > 0 && a1.rms > 0 && a1.zero_crossings > 0)
  }

  test("PNG round-trip is exact; JPEG decodes approximately; OCR reads a PNG page") {
    val raw = SynthRaster.render("spark scan merge 42", 99L)
    val (w, h, px) = SynthRaster.parse(raw)
    val png = graft.img.ImageCodec.encodePng(w, h, px)
    assert(graft.img.ImageCodec.isCompressedImage(png))
    val (pw, ph, ppx) = Multimodal.decodeImage(png)
    assert((pw, ph) == (w, h))
    assert(ppx.sameElements(px), "PNG decode must round-trip exactly")
    val jpg = graft.img.ImageCodec.encodeJpeg(w, h, px)
    val (jw, jh, jpx) = Multimodal.decodeImage(jpg)
    assert((jw, jh) == (w, h))
    val maxErr = jpx.zip(px).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr < 64, s"JPEG decode too lossy (max pixel err $maxErr)")
    // the OCR engine reads the compressed page like the raw raster
    val engine = graft.ocr.EnginePool.get("balanced")
    assert(engine.decode(png).text == engine.decode(raw).text)
    assert(engine.decode(png).text == SynthRaster.groundTruth("spark scan merge 42"))
  }

  test("unreadable compressed bytes fail loudly, not as silent garbage") {
    val fakeJpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0x00, 0x01)
    intercept[Exception](Multimodal.decodeImage(fakeJpeg))
  }

  test("spark plumbing: metadata / features / frame-sample tables over a binary column") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val rows = (0 until 6).map {
      case i if i % 3 == 0 => (s"m-$i", SynthRaster.render(s"image $i", i.toLong))
      case i if i % 3 == 1 => (s"m-$i", Multimodal.synthVideo(i))
      case i => (s"m-$i", Multimodal.synthAudio(i))
    }
    val media = rows.toDF("media_ref", "bytes")

    val meta = Multimodal.metadata(spark, media).collect()
    assert(meta.length == 6)
    assert(meta.count(_.kind == "image") == 2)
    assert(meta.count(_.kind == "video") == 2)
    assert(meta.count(_.kind == "audio") == 2)

    val feats = Multimodal.imageFeatureTable(spark, media).collect()
    assert(feats.length == 2)
    feats.foreach { f =>
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9)
      assert(f.mean_intensity > 0 && f.mean_intensity < 255)
    }

    val frames = Multimodal.frameSampleTable(spark, media, stride = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_idx % 2 == 0))

    val resized = Multimodal.resizeImages(spark, media, cap = 100)
      .filter(col("width") > 0).collect()
    assert(resized.forall(r => r.getInt(2) <= 100 && r.getInt(3) <= 100))
  }

  test("GPDF multi-page container: per-page OCR, \\n\\n join, positive-conf mean (app.py:744-792)") {
    val texts = Seq("spark scan merge", "join table 42", "")
    val pdf = Multimodal.synthPdf(texts, seed = 77L)
    assert(Multimodal.kindOf(pdf) == "pdf")
    val meta = Multimodal.metaOf("p", pdf)
    assert(meta.kind == "pdf" && meta.n_frames == 3)
    val engine = graft.ocr.EnginePool.get("balanced")
    val (text, conf) = graft.pipe.ExtractJob.decodeMedia(engine, pdf, "medium", "standard")
    assert(text == texts.map(SynthRaster.groundTruth).mkString("\n\n"),
      s"pdf text mismatch: [$text]")
    // page 3 is blank (conf 0) — excluded from the mean
    val perPage = Multimodal.pdfPages(pdf).map(p => engine.decode(p).avgConfidence)
    val expected = perPage.filter(_ > 0)
    assert(math.abs(conf - expected.sum / expected.size) < 1e-9)
    assert(perPage.last == 0.0)

    // valid containers round-trip page by page
    Seq(Nil, Seq("one"), texts).foreach { ts =>
      val pages = Multimodal.pdfPages(Multimodal.synthPdf(ts, seed = 5L))
      assert(pages.map(_.toSeq) == ts.zipWithIndex.map { case (t, i) =>
        SynthRaster.render(t, graft.util.Det.at(5L, i.toLong)).toSeq })
    }
    // malformed containers throw IllegalArgumentException promptly:
    // every strict prefix (truncated header, count, length or page),
    // a page count that cannot fit, and a negative page length
    def header(n: Int, len: Int) = Array[Byte]('G', 'P', 'D', 'F') ++
      Seq(n, len).flatMap(v => Seq(v >>> 24, v >>> 16, v >>> 8, v).map(_.toByte))
    val malformed = (4 until pdf.length).map(pdf.take) ++ Seq(
      header(Int.MaxValue, -4) ++ new Array[Byte](4),
      header(1, -4) ++ new Array[Byte](4))
    val t0 = System.nanoTime()
    malformed.foreach(b => intercept[IllegalArgumentException](Multimodal.pdfPages(b)))
    assert((System.nanoTime() - t0) / 1e9 < 5.0, "malformed containers rejected promptly")
  }

  test("extract pipeline reads pdf media spans end-to-end") {
    val spark2 = spark
    import spark2.implicits._
    val media = Seq(("pdf-0", Multimodal.synthPdf(Seq("alpha page", "beta page"), 5L))).toDF("media_ref", "bytes")
    val docs = Seq(graft.gen.InDoc("pd-0", Seq(graft.gen.InSpan("media", "", "pdf-0", 0)))).toDS().toDF()
    val out = graft.pipe.ExtractJob.run(spark2, docs, media).collect()
    assert(out.length == 1)
    val text = out(0).getString(out(0).fieldIndex("text"))
    assert(text == Seq("alpha page", "beta page").map(SynthRaster.groundTruth).mkString("\n\n"))
  }
}
