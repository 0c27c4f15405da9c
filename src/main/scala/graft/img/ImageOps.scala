package graft.img

/** Pure image kernels over `(Array[Int] 0..255 grayscale, w, h)` —
  * re-implementations (from the operations' public definitions, not
  * from any library source) of the exact chain the reference drives
  * through OpenCV in `preprocess_image` (`app.py:487-558`,
  * `app2.py:250-312`):
  *
  *   grayscale -> [Gaussian blur 3x3|5x5] ->
  *     {global-128 | adaptive-Gaussian(11,2) | Otsu | Otsu+close(1x1)}
  *
  * Numeric conventions (our pinned spec, SURVEY.md §7.5): border
  * handling is reflect-101 (OpenCV's BORDER_DEFAULT), integer blur
  * kernels are the binomial [1,2,1]/4 and [1,4,6,4,1]/16 separable
  * filters (what OpenCV uses for sigma=0 at these sizes), rounding is
  * half-up. These run inside the OCR `mapPartitions` kernel — tight
  * loops over primitive arrays, no boxing, JIT-friendly.
  */
object ImageOps {

  /** reflect-101 border index: -1 -> 1, n -> n-2 — clamped into
    * [0, n-1] afterwards: when the dimension is smaller than the
    * kernel radius (1x1 tracking pixels, sliver crops) the pure
    * reflection maps outside the array (n=1 sends -1 to 1) and the
    * blur kernels would throw mid-task.
    */
  @inline private def ref101(i: Int, n: Int): Int = {
    val r = if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i
    if (r < 0) 0 else if (r >= n) n - 1 else r
  }

  /** BGR -> gray with OpenCV's coefficients (ITU-R BT.601):
    * gray = 0.299 R + 0.587 G + 0.114 B, rounded half-up.
    * (`cv2.cvtColor(BGR2GRAY)`, `app.py:521`.) Input is B,G,R triplets.
    */
  def grayFromBgr(bgr: Array[Int], w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    var i = 0
    while (i < w * h) {
      val b = bgr(3 * i); val g = bgr(3 * i + 1); val r = bgr(3 * i + 2)
      // fixed-point: (4899 r + 9617 g + 1868 b + 8192) >> 14
      out(i) = (4899 * r + 9617 * g + 1868 * b + 8192) >> 14
      i += 1
    }
    out
  }

  /** Separable binomial Gaussian blur; ksize in {3, 5} mirrors
    * `cv2.GaussianBlur(img,(k,k),0)` (`app.py:530,538,547`).
    */
  def gaussianBlur(px: Array[Int], w: Int, h: Int, ksize: Int): Array[Int] =
    blur(px, w, h, ksize, null)

  /** The blur both [[gaussianBlur]] and [[blurOtsu]] run; a non-null
    * `hist` (256 bins) also counts every output value as the vertical
    * pass produces it.
    */
  private def blur(px: Array[Int], w: Int, h: Int, ksize: Int,
                   hist: Array[Long]): Array[Int] = {
    val (kern, norm) = ksize match {
      case 3 => (Array(1, 2, 1), 4)
      case 5 => (Array(1, 4, 6, 4, 1), 16)
      case k => throw new IllegalArgumentException(s"ksize $k")
    }
    val r = ksize / 2
    val half = norm / 2
    // Loop structure (round-6, profile-driven: preprocess was 33% of
    // flagship task samples): the interior skips the per-access
    // ref101 call/branches so the JIT can keep the convolution in
    // straight-line array code, and the vertical pass accumulates
    // whole rows per kernel tap (sequential reads instead of
    // stride-w column walks). Integer addition is exactly
    // associative, so the result is bit-identical to the naive form.
    val tmp = new Array[Int](w * h)
    var y = 0
    while (y < h) { // horizontal pass
      val row = y * w
      var x = 0
      val lo = math.min(r, w)
      val hi = math.max(lo, w - r)
      while (x < lo) { // left border (reflect-101)
        var acc = 0
        var k = -r
        while (k <= r) { acc += kern(k + r) * px(row + ref101(x + k, w)); k += 1 }
        tmp(row + x) = (acc + half) / norm
        x += 1
      }
      while (x < hi) { // interior: direct reads
        var acc = 0
        var k = -r
        while (k <= r) { acc += kern(k + r) * px(row + x + k); k += 1 }
        tmp(row + x) = (acc + half) / norm
        x += 1
      }
      while (x < w) { // right border
        var acc = 0
        var k = -r
        while (k <= r) { acc += kern(k + r) * px(row + ref101(x + k, w)); k += 1 }
        tmp(row + x) = (acc + half) / norm
        x += 1
      }
      y += 1
    }
    val out = new Array[Int](w * h)
    val acc = new Array[Int](w)
    y = 0
    while (y < h) { // vertical pass, row-accumulated
      java.util.Arrays.fill(acc, 0)
      var k = -r
      while (k <= r) {
        val src = ref101(y + k, h) * w
        val kv = kern(k + r)
        var x = 0
        while (x < w) { acc(x) += kv * tmp(src + x); x += 1 }
        k += 1
      }
      val row = y * w
      var x = 0
      if (hist == null) {
        while (x < w) { out(row + x) = (acc(x) + half) / norm; x += 1 }
      } else {
        while (x < w) {
          val v = (acc(x) + half) / norm
          out(row + x) = v
          hist(v) += 1
          x += 1
        }
      }
      y += 1
    }
    out
  }

  /** Global binary threshold: px > thresh -> 255 else 0
    * (`cv2.threshold(gray,128,255,BINARY)`, `app.py:526`).
    */
  def thresholdGlobal(px: Array[Int], thresh: Int): Array[Int] =
    px.map(p => if (p > thresh) 255 else 0)

  /** Otsu's threshold over a 256-bin histogram: argmax of the
    * between-class variance (first maximum wins); returns the chosen
    * threshold t, binarization is px > t -> 255.
    * (`THRESH_BINARY+THRESH_OTSU`, `app.py:539,548`.)
    */
  def otsuThreshold(px: Array[Int]): Int = {
    val hist = new Array[Long](256)
    var i = 0
    while (i < px.length) { hist(px(i)) += 1; i += 1 }
    otsuFromHist(hist, px.length)
  }

  /** Otsu argmax over a prebuilt 256-bin histogram — the shared tail of
    * [[otsuThreshold]] and the fused [[blurOtsu]] path; arithmetic is
    * identical (same double accumulation order over bins).
    */
  private def otsuFromHist(hist: Array[Long], n: Int): Int = {
    val total = n.toDouble
    var sumAll = 0.0
    var i = 0
    while (i < 256) { sumAll += i * hist(i).toDouble; i += 1 }
    var wB = 0.0; var sumB = 0.0
    var best = -1.0; var bestT = 0
    var t = 0
    while (t < 256) {
      wB += hist(t)
      if (wB > 0 && wB < total) {
        sumB += t * hist(t).toDouble
        val wF = total - wB
        val mB = sumB / wB
        val mF = (sumAll - sumB) / wF
        val between = wB * wF * (mB - mF) * (mB - mF)
        if (between > best) { best = between; bestT = t }
      }
      t += 1
    }
    bestT
  }

  /** Low-contrast guard: Otsu's criterion is meaningless on a page with
    * a single gray mode (a blank scan) — it would split the noise in
    * half. Pages whose dynamic range is under `minContrast` binarize to
    * all-background (our pinned spec; Tesseract likewise reads a blank
    * page as no text).
    */
  final val minContrast = 48

  def lowContrast(px: Array[Int]): Boolean = {
    var mn = 255; var mx = 0
    var i = 0
    while (i < px.length) {
      if (px(i) < mn) mn = px(i)
      if (px(i) > mx) mx = px(i)
      i += 1
    }
    mx - mn < minContrast
  }

  def thresholdOtsu(px: Array[Int], invert: Boolean = false): Array[Int] = {
    if (lowContrast(px)) {
      return if (invert) Array.fill(px.length)(0) else Array.fill(px.length)(255)
    }
    val t = otsuThreshold(px)
    if (invert) px.map(p => if (p > t) 0 else 255)
    else px.map(p => if (p > t) 255 else 0)
  }

  /** [[gaussianBlur]] fused with [[thresholdOtsu]] — the OCR
    * preprocess "default"/"quality" chain as 3 full-image passes
    * instead of 5 (round-6, profile-driven: preprocess was the hottest
    * flagship frame at 19% of task samples after the loop
    * restructure). The 256-bin histogram rides the blur's vertical
    * pass as each output value is produced; the low-contrast guard
    * reads min/max as the first/last nonzero bins (equal by definition
    * to the pixel min/max); the Otsu argmax runs on that histogram via
    * the shared [[otsuFromHist]]; binarization overwrites the blur
    * output in place. Every arithmetic step is the composition's own
    * (histogram counts are order-free, the bin walk is shared code),
    * so the result is bit-identical to the unfused chain — law-checked
    * in GraftProps including 1xN / Nx1 / w<r degenerates.
    *
    * Returns the binarized page and the Otsu threshold it used
    * (`otsuThreshold` of the blurred page), or -1 for a low-contrast
    * page, which binarizes to all-background.
    */
  def blurOtsu(px: Array[Int], w: Int, h: Int, ksize: Int): (Array[Int], Int) = {
    val hist = new Array[Long](256)
    val out = blur(px, w, h, ksize, hist)
    // low-contrast guard from the histogram: min/max pixel values are
    // the first/last nonzero bins
    var mn = 0
    while (mn < 255 && hist(mn) == 0L) mn += 1
    var mx = 255
    while (mx > 0 && hist(mx) == 0L) mx -= 1
    if (out.length == 0 || mx - mn < minContrast) {
      java.util.Arrays.fill(out, 255)
      return (out, -1)
    }
    val t = otsuFromHist(hist, out.length)
    var i = 0
    while (i < out.length) { out(i) = if (out(i) > t) 255 else 0; i += 1 }
    (out, t)
  }

  /** Adaptive Gaussian threshold, 11 x 11 window, bias C = 2:
    * out = 255 if px > (gaussianWeightedMean(window) - C) else 0.
    * (`cv2.adaptiveThreshold(...,ADAPTIVE_THRESH_GAUSSIAN_C,BINARY,11,2)`,
    * `app.py:531-533`.) Separable double-precision Gaussian with
    * OpenCV's derived sigma = 0.3*((k-1)*0.5 - 1) + 0.8.
    */
  def adaptiveGaussian(px: Array[Int], w: Int, h: Int): Array[Int] = {
    val blockSize = 11
    val c = 2.0
    val r = blockSize / 2
    val sigma = 0.3 * ((blockSize - 1) * 0.5 - 1) + 0.8
    val kern = new Array[Double](blockSize)
    var s = 0.0
    var i = 0
    while (i < blockSize) {
      val d = i - r
      kern(i) = math.exp(-(d * d) / (2 * sigma * sigma))
      s += kern(i)
      i += 1
    }
    i = 0
    while (i < blockSize) { kern(i) /= s; i += 1 }

    // Loop structure (round-6, profile-driven — see gaussianBlur):
    // interior columns read directly (no ref101 call/branch per tap),
    // and the vertical pass accumulates whole rows per kernel tap.
    // Per output pixel the taps still sum in ascending-k order, so
    // the double accumulation — and therefore every threshold
    // decision — is bit-identical to the naive form.
    val tmp = new Array[Double](w * h)
    var y = 0
    while (y < h) { // horizontal pass
      val row = y * w
      var x = 0
      val lo = math.min(r, w)
      val hi = math.max(lo, w - r)
      while (x < lo) { // left border (reflect-101)
        var acc = 0.0
        var k = -r
        while (k <= r) { acc += kern(k + r) * px(row + ref101(x + k, w)); k += 1 }
        tmp(row + x) = acc
        x += 1
      }
      while (x < hi) { // interior: direct reads
        var acc = 0.0
        var k = -r
        while (k <= r) { acc += kern(k + r) * px(row + x + k); k += 1 }
        tmp(row + x) = acc
        x += 1
      }
      while (x < w) { // right border
        var acc = 0.0
        var k = -r
        while (k <= r) { acc += kern(k + r) * px(row + ref101(x + k, w)); k += 1 }
        tmp(row + x) = acc
        x += 1
      }
      y += 1
    }
    val out = new Array[Int](w * h)
    val acc = new Array[Double](w)
    y = 0
    while (y < h) { // vertical pass, row-accumulated (ascending k)
      java.util.Arrays.fill(acc, 0.0)
      var k = -r
      while (k <= r) {
        val src = ref101(y + k, h) * w
        val kv = kern(k + r)
        var x = 0
        while (x < w) { acc(x) += kv * tmp(src + x); x += 1 }
        k += 1
      }
      val row = y * w
      var x = 0
      while (x < w) {
        out(row + x) = if (px(row + x) > acc(x) - c) 255 else 0
        x += 1
      }
      y += 1
    }
    out
  }

  /** Morphological close = dilate then erode with a rect kernel.
    * The reference uses a 1x1 kernel (`app.py:542-543`) — an identity,
    * retained for fidelity; the general form exists for ksize > 1.
    */
  def morphClose(px: Array[Int], w: Int, h: Int, kw: Int, kh: Int): Array[Int] = {
    if (kw <= 1 && kh <= 1) return px
    def dilate(in: Array[Int]): Array[Int] = minmax(in, math.max)
    def erode(in: Array[Int]): Array[Int] = minmax(in, math.min)
    def minmax(in: Array[Int], op: (Int, Int) => Int): Array[Int] = {
      val out = new Array[Int](w * h)
      val rx = kw / 2; val ry = kh / 2
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var v = in(y * w + x)
          var dy = -ry
          while (dy <= ry) {
            var dx = -rx
            while (dx <= rx) {
              val yy = y + dy; val xx = x + dx
              if (yy >= 0 && yy < h && xx >= 0 && xx < w) v = op(v, in(yy * w + xx))
              dx += 1
            }
            dy += 1
          }
          out(y * w + x) = v
          x += 1
        }
        y += 1
      }
      out
    }
    erode(dilate(px))
  }

  /** Bilinear resize — the LANCZOS-downscale stand-in for
    * `optimize_image_for_mobile` (`app.py:341-350`): if max(w,h) > cap,
    * scale preserving aspect so the long edge equals cap. Returns the
    * input untouched when under the cap (the common case for the
    * synthetic rasters, all of which fit the smallest v2 cap of 800px).
    */
  def resizeCap(px: Array[Int], w: Int, h: Int, cap: Int): (Array[Int], Int, Int) = {
    val m = math.max(w, h)
    if (m <= cap) return (px, w, h)
    val scale = cap.toDouble / m
    val nw = math.max(1, math.round(w * scale).toInt)
    val nh = math.max(1, math.round(h * scale).toInt)
    val out = new Array[Int](nw * nh)
    var y = 0
    while (y < nh) {
      val sy = (y + 0.5) * h / nh - 0.5
      val y0 = math.max(0, math.floor(sy).toInt)
      val y1 = math.min(h - 1, y0 + 1)
      val fy = sy - y0
      var x = 0
      while (x < nw) {
        val sx = (x + 0.5) * w / nw - 0.5
        val x0 = math.max(0, math.floor(sx).toInt)
        val x1 = math.min(w - 1, x0 + 1)
        val fx = sx - x0
        val v =
          px(y0 * w + x0) * (1 - fx) * (1 - fy) + px(y0 * w + x1) * fx * (1 - fy) +
            px(y1 * w + x0) * (1 - fx) * fy + px(y1 * w + x1) * fx * fy
        out(y * nw + x) = math.round(v).toInt.max(0).min(255)
        x += 1
      }
      y += 1
    }
    (out, nw, nh)
  }

  /** Conditional 3x3 median ("despeckle") — the denoise stage the
    * pipeline actually ships: a pixel is replaced by its 3x3 median
    * ONLY when no 8-neighbor is within +-64 gray levels of it (a true
    * salt/pepper outlier). The unconditional 3x3 median
    * (`cv2.medianBlur(img, 3)`) would erase this codec's 1-px glyph
    * strokes outright (a stroke pixel's neighborhood is majority
    * paper); the conditional form makes isolated speckles vanish while
    * strokes (which always continue into at least one similar
    * neighbor) are untouched. OPT-IN via `ExtractJob.Config.preStages`
    * ("denoise"): the reference code never median-filters (SURVEY's
    * discrepancy note), so it ships off by default to preserve span
    * equality.
    */
  def despeckle3(px: Array[Int], w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    val win = new Array[Int](9)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = px(y * w + x)
        var similar = 0
        var k = 0
        var dy = -1
        while (dy <= 1) {
          val yy = ref101(y + dy, h)
          var dx = -1
          while (dx <= 1) {
            val nv = px(yy * w + ref101(x + dx, w))
            win(k) = nv
            k += 1
            if ((dx != 0 || dy != 0) && math.abs(nv - v) <= 64) similar += 1
            dx += 1
          }
          dy += 1
        }
        out(y * w + x) =
          if (similar > 0) v
          else {
            var i = 0
            while (i <= 4) {
              var m = i
              var j = i + 1
              while (j < 9) { if (win(j) < win(m)) m = j; j += 1 }
              val t = win(i); win(i) = win(m); win(m) = t
              i += 1
            }
            win(4)
          }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Most frequent gray value — the rotation fill (a page's paper). */
  def modalValue(px: Array[Int]): Int = {
    val hist = new Array[Int](256)
    var i = 0
    while (i < px.length) { hist(px(i)) += 1; i += 1 }
    var best = 0
    i = 1
    while (i < 256) { if (hist(i) > hist(best)) best = i; i += 1 }
    best
  }

  /** Rotate about the image center by `deg` degrees (positive =
    * counter-clockwise in image coordinates), inverse mapping,
    * out-of-frame filled with `fill`. `bilinear = false` samples
    * nearest-neighbor (the harsh camera/scanner model the deskew test
    * synthesizes with); `true` interpolates (the correction path —
    * preserves 1-px glyph strokes through the blur+threshold chain far
    * better than a second NN pass).
    */
  def rotate(px: Array[Int], w: Int, h: Int, deg: Double, fill: Int,
             bilinear: Boolean = false): Array[Int] = {
    val rad = math.toRadians(deg)
    val c = math.cos(rad)
    val s = math.sin(rad)
    val cx = (w - 1) / 2.0
    val cy = (h - 1) / 2.0
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // inverse map: where did this output pixel come from?
        val dx = x - cx
        val dy = y - cy
        val sxd = c * dx + s * dy + cx
        val syd = -s * dx + c * dy + cy
        val v =
          if (!bilinear) {
            val sx = math.rint(sxd).toInt
            val sy = math.rint(syd).toInt
            if (sx >= 0 && sx < w && sy >= 0 && sy < h) px(sy * w + sx) else fill
          } else {
            val x0 = math.floor(sxd).toInt
            val y0 = math.floor(syd).toInt
            if (x0 < -1 || x0 > w - 1 || y0 < -1 || y0 > h - 1) fill
            else {
              val fx = sxd - x0
              val fy = syd - y0
              @inline def at(xx: Int, yy: Int): Int =
                if (xx >= 0 && xx < w && yy >= 0 && yy < h) px(yy * w + xx) else fill
              math.rint(
                at(x0, y0) * (1 - fx) * (1 - fy) + at(x0 + 1, y0) * fx * (1 - fy) +
                  at(x0, y0 + 1) * (1 - fx) * fy + at(x0 + 1, y0 + 1) * fx * fy)
                .toInt.max(0).min(255)
            }
          }
        out(y * w + x) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** Skew-angle estimate via a Hough-style vote: for each candidate
    * angle, ink pixels (Otsu over a light blur) vote into 1-px rho
    * bins of the line family at that angle; the angle whose vote
    * histogram is most CONCENTRATED (sum of squared bin counts —
    * text baselines collapse into few bins exactly when the candidate
    * matches the page skew) wins. Coarse 0.5 deg pass over +-8 deg,
    * then a 0.1 deg refinement around the winner. Returns the
    * estimated skew in degrees (rotate by -estimate to deskew).
    */
  def estimateSkew(px: Array[Int], w: Int, h: Int): Double = {
    val maxDeg = 8.0
    val (bin, _) = blurOtsu(px, w, h, 3)
    // sample ink pixels (cap keeps the vote O(points * angles))
    val xs = new Array[Int](20000)
    val ys = new Array[Int](20000)
    var n = 0
    val total = w * h
    val stride = math.max(1, total / 60000)
    var i = 0
    while (i < total && n < xs.length) {
      if (bin(i) == 0) { xs(n) = i % w; ys(n) = i / w; n += 1 }
      i += stride
    }
    if (n < 32) return 0.0 // blank page: nothing to align
    val diag = math.sqrt(w.toDouble * w + h.toDouble * h).toInt + 2
    val hist = new Array[Int](2 * diag)
    def score(deg: Double): Double = {
      java.util.Arrays.fill(hist, 0)
      val rad = math.toRadians(deg)
      val c = math.cos(rad)
      val s = math.sin(rad)
      var j = 0
      while (j < n) {
        // rho of the horizontal-line family at this angle
        val rho = math.rint(-s * xs(j) + c * ys(j)).toInt + diag
        hist(rho) += 1
        j += 1
      }
      var sc = 0.0
      var k = 0
      while (k < hist.length) { val v = hist(k); sc += v.toDouble * v; k += 1 }
      sc
    }
    var best = 0.0
    var bestScore = -1.0
    var d = -maxDeg
    while (d <= maxDeg + 1e-9) {
      val sc = score(d)
      if (sc > bestScore) { bestScore = sc; best = d }
      d += 0.5
    }
    var fine = best
    d = best - 0.4
    while (d <= best + 0.4 + 1e-9) {
      val sc = score(d)
      if (sc > bestScore) { bestScore = sc; fine = d }
      d += 0.1
    }
    fine
  }

  /** OPT-IN deskew stage (north_star: "deskew via Hough-line angle
    * estimation"; absent from the reference code — SURVEY discrepancy
    * note — so off by default, enabled via
    * `ExtractJob.Config.preStages`): estimate the skew, rotate it out
    * around the center with the page's modal (paper) value as fill.
    * Angles under 0.05 deg are treated as already straight.
    */
  def deskew(px: Array[Int], w: Int, h: Int): Array[Int] = {
    val a = estimateSkew(px, w, h)
    if (math.abs(a) < 0.05) px
    else rotate(px, w, h, -a, modalValue(px), bilinear = true)
  }
}
