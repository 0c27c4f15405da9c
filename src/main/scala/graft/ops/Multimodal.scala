package graft.ops

import graft.codec.SynthRaster
import graft.img.ImageOps
import graft.util.Det
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` with typed
  * metadata, plus the decode / feature-extract / resize / frame-sample
  * operators a training-data pipeline runs over them.
  *
  * The Spark-side plumbing is real — schemas, kernel batch shape
  * (mapPartitions over iterators, one decoder per partition),
  * partitioning — and runs at scale exactly like the OCR kernel. The
  * codec layer decodes the synthetic raster, the two container formats
  * below, AND the reference's whole compressed-image allowlist
  * (png/jpg/gif/bmp/tiff via the JDK's ImageIO — zero added
  * dependencies, [[graft.img.ImageCodec]]); only AV codecs (MP3,
  * H.264) remain a deployment concern, behind the same container
  * seams.
  *
  * Fake containers (deterministic, self-describing):
  *  - video: [magic 'GVID'][n_frames:int32][per frame: len:int32 +
  *    synth-raster bytes]
  *  - audio: [magic 'GAUD'][sample_rate:int32][n_samples:int32]
  *    [n_samples signed bytes PCM]
  */
object Multimodal {

  final case class MediaMeta(media_ref: String, kind: String, width: Int, height: Int,
                             n_frames: Int, sample_rate: Int, n_samples: Int, n_bytes: Long)
  final case class ImageFeatures(media_ref: String, width: Int, height: Int,
                                 mean_intensity: Double, histogram: Seq[Double])
  final case class AudioFeatures(media_ref: String, duration_ms: Double, rms: Double,
                                 zero_crossings: Long)
  final case class FrameRow(media_ref: String, frame_idx: Int, frame: Array[Byte])

  private val VID_MAGIC = Array[Byte]('G', 'V', 'I', 'D')
  private val AUD_MAGIC = Array[Byte]('G', 'A', 'U', 'D')
  private val PDF_MAGIC = Array[Byte]('G', 'P', 'D', 'F')

  private def i32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def putI32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v >>> 24); out.write((v >>> 16) & 0xff); out.write((v >>> 8) & 0xff); out.write(v & 0xff)
  }

  // ------------------------------------------------------------------
  // deterministic synthesis (fixtures / corpus)
  // ------------------------------------------------------------------

  def synthVideo(i: Int, nFrames: Int = 0): Array[Byte] = {
    val seed = Det.mix64(0x71de0L, i.toLong)
    val n = if (nFrames > 0) nFrames else 3 + Det.bounded(Det.at(seed, 0), 6)
    val out = new java.io.ByteArrayOutputStream()
    out.write(VID_MAGIC, 0, 4)
    putI32(out, n)
    (0 until n).foreach { f =>
      val frame = SynthRaster.render(s"frame $f of video $i", Det.at(seed, 1 + f.toLong))
      putI32(out, frame.length)
      out.write(frame, 0, frame.length)
    }
    out.toByteArray
  }

  /** Multi-page document container — the PDF stand-in (the reference
    * rasterizes PDFs with pdf2image and OCRs page by page,
    * `app.py:744-792`): [magic 'GPDF'][n_pages:int32][per page:
    * len:int32 + raster bytes]. Pages carry the given texts.
    */
  def synthPdf(texts: Seq[String], seed: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(PDF_MAGIC, 0, 4)
    putI32(out, texts.length)
    texts.zipWithIndex.foreach { case (t, i) =>
      val page = SynthRaster.render(t, Det.at(seed, i.toLong))
      putI32(out, page.length)
      out.write(page, 0, page.length)
    }
    out.toByteArray
  }

  /** Pages of a 'GPDF' container (raster bytes, in order). The page
    * count and lengths are input, not trusted: a count or length that
    * does not fit the container throws IllegalArgumentException
    * instead of over-reading or looping in place.
    */
  def pdfPages(bytes: Array[Byte]): Vector[Array[Byte]] = {
    require(kindOf(bytes) == "pdf" && bytes.length >= 8, "not a pdf container")
    val n = i32(bytes, 4)
    // each page record holds at least its 4-byte length
    require(n >= 0 && n <= (bytes.length - 8) / 4,
      s"pdf page count $n does not fit a ${bytes.length}-byte container")
    var off = 8
    val out = Vector.newBuilder[Array[Byte]]
    var p = 0
    while (p < n) {
      require(bytes.length - off >= 4, s"pdf container truncated at page $p")
      val len = i32(bytes, off)
      require(len >= 0 && len <= bytes.length - off - 4,
        s"pdf page $p length $len overruns the ${bytes.length}-byte container")
      out += bytes.slice(off + 4, off + 4 + len)
      off += 4 + len
      p += 1
    }
    out.result()
  }

  /** nSamples = 0 draws the count from the Det stream; an explicit
    * count makes the container's metadata closed-form (the DuckDB
    * oracle for x09 recomputes it as pure arithmetic).
    */
  def synthAudio(i: Int, nSamples: Int = 0): Array[Byte] = {
    val seed = Det.mix64(0xa0d10L, i.toLong)
    val rate = 8000
    val n = if (nSamples > 0) nSamples else 4000 + Det.bounded(Det.at(seed, 0), 8000)
    val out = new java.io.ByteArrayOutputStream()
    out.write(AUD_MAGIC, 0, 4)
    putI32(out, rate); putI32(out, n)
    var s = 0
    while (s < n) {
      // deterministic wave-ish signal: two sines + keyed jitter
      val v = (40 * math.sin(s * 0.05) + 30 * math.sin(s * 0.013) +
        (Det.bounded(Det.at(seed, 16 + s.toLong), 9) - 4)).toInt
      out.write(v.max(-128).min(127) & 0xff)
      s += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // decode kernels (pure; run inside mapPartitions)
  // ------------------------------------------------------------------

  def kindOf(bytes: Array[Byte]): String =
    if (bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'V') "video"
    else if (bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'A') "audio"
    else if (bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'P') "pdf"
    else "image"

  def metaOf(ref: String, bytes: Array[Byte]): MediaMeta = kindOf(bytes) match {
    case "pdf" =>
      val n = i32(bytes, 4)
      // a structurally valid zero-page container is 8 bytes — there is
      // no first page record to read dimensions from
      if (n <= 0 || bytes.length < 12) MediaMeta(ref, "pdf", 0, 0, 0, 0, 0, bytes.length.toLong)
      else {
        val (w, h, _) = SynthRaster.parse(bytes.slice(12, 12 + i32(bytes, 8)))
        MediaMeta(ref, "pdf", w, h, n, 0, 0, bytes.length.toLong)
      }
    case "video" =>
      val n = i32(bytes, 4)
      if (n <= 0 || bytes.length < 12) MediaMeta(ref, "video", 0, 0, 0, 0, 0, bytes.length.toLong)
      else {
        // first frame carries the dimensions
        val (w, h, _) = SynthRaster.parse(bytes.slice(12, 12 + i32(bytes, 8)))
        MediaMeta(ref, "video", w, h, n, 0, 0, bytes.length.toLong)
      }
    case "audio" =>
      MediaMeta(ref, "audio", 0, 0, 0, i32(bytes, 4), i32(bytes, 8), bytes.length.toLong)
    case _ =>
      val (w, h, _) = graft.img.ImageCodec.decode(bytes)
      MediaMeta(ref, "image", w, h, 1, 0, 0, bytes.length.toLong)
  }

  /** Image decode: compressed formats (png/jpg/gif/bmp/tiff — the
    * reference's allowlist, app.py:229) via the JDK's ImageIO, the
    * synthetic raster via its parser. See [[graft.img.ImageCodec]].
    */
  def decodeImage(bytes: Array[Byte]): (Int, Int, Array[Int]) =
    graft.img.ImageCodec.decode(bytes)

  /** Frame sampling: every `stride`-th frame of a video container. */
  def sampleFrames(bytes: Array[Byte], stride: Int): Vector[(Int, Array[Byte])] = {
    require(kindOf(bytes) == "video", "not a video container")
    val n = i32(bytes, 4)
    var off = 8
    val out = Vector.newBuilder[(Int, Array[Byte])]
    var f = 0
    while (f < n) {
      val len = i32(bytes, off)
      if (f % stride == 0) out += ((f, bytes.slice(off + 4, off + 4 + len)))
      off += 4 + len
      f += 1
    }
    out.result()
  }

  def imageFeatures(ref: String, bytes: Array[Byte]): ImageFeatures = {
    val (w, h, px) = decodeImage(bytes)
    val hist = new Array[Long](16)
    var sum = 0.0
    var i = 0
    while (i < px.length) { hist(px(i) >> 4) += 1; sum += px(i); i += 1 }
    ImageFeatures(ref, w, h,
      math.round(sum / px.length * 10000) / 10000.0,
      hist.map(_.toDouble / px.length).toSeq)
  }

  def audioFeatures(ref: String, bytes: Array[Byte]): AudioFeatures = {
    require(kindOf(bytes) == "audio", "not an audio container")
    val rate = i32(bytes, 4); val n = i32(bytes, 8)
    var sq = 0.0; var zc = 0L
    var prev = 0
    var i = 0
    while (i < n) {
      val v = bytes(12 + i).toInt
      sq += v.toDouble * v
      if (i > 0 && ((v >= 0) != (prev >= 0))) zc += 1
      prev = v
      i += 1
    }
    AudioFeatures(ref, n * 1000.0 / rate,
      math.round(math.sqrt(sq / math.max(1, n)) * 10000) / 10000.0, zc)
  }

  // ------------------------------------------------------------------
  // Spark plumbing (the part that carries over to any real codec)
  // ------------------------------------------------------------------

  /** media(media_ref, bytes) -> typed metadata. */
  def metadata(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(col("media_ref"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions(_.map { case (r, b) => metaOf(r, b) })
  }

  /** Audio feature extraction (duration, RMS energy, zero-crossing
    * count) — the audio sibling of [[imageFeatureTable]]; non-audio
    * rows pass through as None.
    */
  def audioFeatureTable(spark: SparkSession, media: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.select(col("media_ref"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (r, b) =>
        if (kindOf(b) == "audio") Some(audioFeatures(r, b)) else None
      })
  }

  /** Image feature extraction (decode + 16-bin intensity histogram). */
  def imageFeatureTable(spark: SparkSession, media: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.select(col("media_ref"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (r, b) =>
        if (kindOf(b) == "image") Some(imageFeatures(r, b)) else None
      })
  }

  /** Resize pass: images over the cap are downscaled, others pass
    * through (the optimize_image_for_mobile shape, `app.py:323-362`).
    */
  def resizeImages(spark: SparkSession, media: DataFrame, cap: Int): DataFrame = {
    import spark.implicits._
    media.select(col("media_ref"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions(_.map { case (r, b) =>
        if (kindOf(b) == "image") {
          val compressed = graft.img.ImageCodec.isCompressedImage(b)
          val (w, h, px) = graft.img.ImageCodec.decode(b)
          val (px2, w2, h2) = ImageOps.resizeCap(px, w, h, cap)
          // format-preserving-ish: compressed in -> PNG out (lossless),
          // raster in -> raster out
          val out = if (compressed) graft.img.ImageCodec.encodePng(w2, h2, px2)
                    else SynthRaster.toBytes(w2, h2, px2)
          (r, out, w2, h2)
        } else (r, b, -1, -1)
      })
      .toDF("media_ref", "bytes", "width", "height")
  }

  /** Video frame sampling as a generator: one output row per kept
    * frame, ready for a per-frame kernel downstream.
    */
  def frameSampleTable(spark: SparkSession, videos: DataFrame, stride: Int): Dataset[FrameRow] = {
    import spark.implicits._
    videos.select(col("media_ref"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (r, b) =>
        if (kindOf(b) == "video") sampleFrames(b, stride).map { case (i, fb) => FrameRow(r, i, fb) }
        else Iterator.empty
      })
  }
}
