package graft.img

import graft.codec.SynthRaster

/** Image container decode/encode for the pipeline's binary columns.
  *
  * The reference's whole input surface is the compressed-image
  * allowlist png/jpg/jpeg/gif/bmp/tiff (`allowed_file`,
  * `app.py:317-320`, `ALLOWED_EXTENSIONS app.py:229`); the JDK's
  * `javax.imageio.ImageIO` decodes every one of those formats with
  * zero extra dependencies (verified via
  * `ImageIO.getReaderFormatNames()` in this environment), so compressed
  * inputs are decoded FOR REAL — no stub. Bytes that are not a known
  * compressed container fall through to the synthetic-raster parser
  * (the corpus generator's format).
  *
  * Grayscale conversion uses the same fixed-point BT.601 as
  * [[ImageOps.grayFromBgr]] (`cv2.cvtColor(BGR2GRAY)`, `app.py:521`),
  * so a decoded PNG and the equivalent raw raster binarize
  * identically.
  */
object ImageCodec {

  /** Magic-number sniff for the reference's allowlist formats. */
  def isCompressedImage(b: Array[Byte]): Boolean =
    if (b.length < 4) false
    else ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) || // JPEG
      ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') || // PNG
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') || // GIF
      (b(0) == 'B' && b(1) == 'M') || // BMP
      (b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) || // TIFF LE
      (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42) // TIFF BE

  /** Decode to (w, h, grayscale 0..255 row-major). Compressed formats
    * via ImageIO + BT.601; anything else is parsed as a synthetic
    * raster (which throws on garbage — the ingest guard's job).
    */
  def decode(bytes: Array[Byte]): (Int, Int, Array[Int]) =
    if (isCompressedImage(bytes)) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null)
        throw new IllegalArgumentException("unreadable compressed image")
      val w = img.getWidth
      val h = img.getHeight
      val px = new Array[Int](w * h)
      val cm = img.getColorModel
      if (cm.getColorSpace.getNumComponents == 1) {
        // gray color space (with or without alpha): read raster samples
        // directly — getRGB would push gray through sRGB gamma
        // (128 -> ~186) and break the lossless PNG round-trip. Keyed on
        // the COLOR space so gray+alpha doesn't fall to the gamma path.
        val raster = img.getRaster
        // scale by sample bit depth: 16-bit gray PNGs carry 0..65535
        // samples, and unscaled values blow past the 256-bin Otsu
        // histogram downstream
        val shift = math.max(0, cm.getComponentSize(0) - 8)
        var i = 0
        while (i < px.length) {
          px(i) = raster.getSample(i % w, i / w, 0) >> shift
          i += 1
        }
      } else {
        val rgb = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < px.length) {
          val v = rgb(i)
          val r = (v >>> 16) & 0xff
          val g = (v >>> 8) & 0xff
          val b = v & 0xff
          px(i) = (4899 * r + 9617 * g + 1868 * b + 8192) >> 14
          i += 1
        }
      }
      (w, h, px)
    } else SynthRaster.parse(bytes)

  /** Encode grayscale pixels as PNG (lossless — decode(encodePng(px))
    * round-trips exactly).
    */
  def encodePng(w: Int, h: Int, px: Array[Int]): Array[Byte] = encode(w, h, px, "png")

  /** Encode grayscale pixels as JPEG (lossy — pixel values survive only
    * approximately; used to exercise the lossy branch).
    */
  def encodeJpeg(w: Int, h: Int, px: Array[Int]): Array[Byte] = encode(w, h, px, "jpg")

  private def encode(w: Int, h: Int, px: Array[Int], format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < px.length) {
      raster.setSample(i % w, i / w, 0, px(i))
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, out)
    out.toByteArray
  }
}
