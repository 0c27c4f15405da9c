package graft

import graft.codec.SynthRaster
import graft.img.ImageOps
import graft.nav.Nav
import graft.ocr.EnginePool
import graft.text.{Summarizer, TextOps}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based laws (SURVEY.md §5.3), run by sbt's native ScalaCheck
  * support. Generators stay within the domains the operators define
  * (renderable alphabet for codec laws, positive totals for clamps).
  */
object GraftProps extends Properties("graft") {

  // ---- clamp laws (app.py:1500-1505) ----
  private val totals = Gen.choose(1, 50)

  property("nav.next stays in [0, total-1]") =
    forAll(totals, Gen.choose(-100, 100)) { (total, cur) =>
      val v = Nav.nextI(cur, total)
      v >= math.min(cur + 1, total - 1) - math.abs(cur) - 100 && v <= total - 1
    }

  property("nav.goto clamps into range and is idempotent") =
    forAll(totals, Gen.choose(-1000, 1000)) { (total, pos) =>
      val g = Nav.gotoI(pos, total)
      g >= 0 && g <= total - 1 && Nav.gotoI(g, total) == g
    }

  property("nav.goto(next(x)) >= goto(x) (monotone step)") =
    forAll(totals) { total =>
      Prop.forAll(Gen.choose(0, total - 1)) { cur =>
        Nav.gotoI(Nav.nextI(cur, total), total) >= Nav.gotoI(cur, total)
      }
    }

  // ---- Otsu laws ----
  property("otsu threshold invariant under histogram replication") =
    forAll(Gen.choose(2, 10), Gen.choose(20, 100), Gen.choose(150, 250),
      Gen.choose(1, 20), Gen.choose(1, 20)) { (rep, lo, hi, nLo, nHi) =>
      val base = Array.fill(nLo)(lo) ++ Array.fill(nHi)(hi)
      val scaled = Array.fill(nLo * rep)(lo) ++ Array.fill(nHi * rep)(hi)
      ImageOps.otsuThreshold(base) == ImageOps.otsuThreshold(scaled)
    }

  property("otsu separates any two-level image with enough contrast") =
    forAll(Gen.choose(0, 100), Gen.choose(160, 255), Gen.choose(1, 30), Gen.choose(1, 30)) {
      (lo, hi, nLo, nHi) =>
        val px = Array.fill(nLo)(lo) ++ Array.fill(nHi)(hi)
        val t = ImageOps.otsuThreshold(px)
        t >= lo && t < hi
    }

  // ---- codec laws ----
  private val renderableText: Gen[String] = Gen.chooseNum(1, 12).flatMap { n =>
    Gen.listOfN(n, Gen.oneOf(
      "spark", "scan", "merge", "join", "table", "row", "data", "42", "cache."))
      .map(_.mkString(" "))
  }

  property("normalize is idempotent") = forAll(renderableText) { t =>
    val n = SynthRaster.normalize(t)
    SynthRaster.normalize(n) == n
  }

  property("wrap lines never exceed COLS and re-join to the normalized text") =
    forAll(renderableText) { t =>
      val lines = SynthRaster.wrap(SynthRaster.normalize(t))
      lines.forall(_.length <= SynthRaster.COLS) &&
        lines.mkString(" ") == SynthRaster.normalize(t)
    }

  property("decode(render(t)) == groundTruth(t) for random seeds, default chain") =
    forAll(renderableText, Gen.choose(0L, Long.MaxValue)) { (t, seed) =>
      val got = EnginePool.get("default").decode(SynthRaster.render(t, seed))
      got.text == SynthRaster.groundTruth(t)
    }

  // ---- summarizer laws (app.py:401-482) ----
  private val sentencesGen: Gen[String] = Gen.chooseNum(4, 15).flatMap { n =>
    Gen.listOfN(n, Gen.chooseNum(3, 8).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("alpha", "beta", "gamma", "delta", "query", "spark",
        "table", "merge", "row", "data")).map(_.mkString(" ") + ".")))
      .map(_.mkString(" "))
  }

  property("summary sentences are a subset of input sentences, in original order") =
    forAll(sentencesGen) { text =>
      val out = Summarizer.summarize(text, 0.3)
      val inSents = TextOps.splitSentences(text)
      val outSents = TextOps.splitSentences(out)
      // ordered-subsequence check with a forward cursor: duplicates of
      // the same sentence in the input are distinct occurrences, so a
      // plain indexOf would map a kept LATER occurrence back to the
      // first one and falsely read as out-of-order
      val idx = outSents.foldLeft(Vector.empty[Int]) { (acc, s) =>
        acc :+ inSents.indexOf(s, acc.lastOption.map(_ + 1).getOrElse(0))
      }
      idx.forall(_ >= 0)
    }

  property("summary picks k = max(1, floor(n*0.3)) sentences when guards pass") =
    forAll(sentencesGen) { text =>
      val n = TextOps.splitSentences(text).length
      val out = Summarizer.summarize(text, 0.3)
      if (text.trim.length >= 100 && n > 3) {
        // identical sentences may merge on split; compare counts loosely upward
        TextOps.splitSentences(out).length <= math.max(1, (n * 0.3).toInt)
      } else out == text
    }

  // ---- dedup invariant: same bytes -> same decode (cache semantics) ----
  property("decode is a pure function of bytes") =
    forAll(renderableText, Gen.choose(0L, 1000L)) { (t, seed) =>
      val bytes = SynthRaster.render(t, seed)
      val e = EnginePool.get("default")
      val a = e.decode(bytes); val b = e.decode(bytes)
      a.text == b.text && a.avgConfidence == b.avgConfidence
    }

  // ---- native vector kernel laws (pure-JVM, no Spark session) ----
  import graft.functions.{SigKernels, VectorKernels}
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private def fad(a: Array[Float]) = new GenericArrayData(a.map(x => Float.box(x): Any))
  private val vecGen: Gen[Array[Float]] =
    Gen.choose(2, 24).flatMap(d =>
      Gen.listOfN(d, Gen.choose(-100, 100).map(_ / 10.0f)).map(_.toArray))

  property("cosine kernel == reference fold; symmetric; self-cosine 1 for nonzero v") =
    forAll(vecGen, vecGen) { (a0, b0) =>
      val d = math.min(a0.length, b0.length)
      val (a, b) = (a0.take(d), b0.take(d))
      def ref(x: Array[Float], y: Array[Float]) = {
        val dot = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
        dot / (math.sqrt(x.map(p => p.toDouble * p).sum) * math.sqrt(y.map(q => q.toDouble * q).sum))
      }
      val k = VectorKernels.cosine(fad(a), fad(b), true, true)
      val kr = ref(a, b)
      val sym = VectorKernels.cosine(fad(b), fad(a), true, true)
      val eq = (k.isNaN && kr.isNaN) || math.abs(k - kr) < 1e-9
      val symOk = (k.isNaN && sym.isNaN) || math.abs(k - sym) < 1e-9
      val selfOk = a.forall(_ == 0f) ||
        math.abs(VectorKernels.cosine(fad(a), fad(a), true, true) - 1.0) < 1e-9
      eq && symOk && selfOk
    }

  property("ivfProbes is a distinct prefix of the true distance argsort") =
    forAll(vecGen, Gen.choose(2, 8), Gen.choose(1, 8)) { (v, nc, probes0) =>
      val dim = v.length
      val cb = Array.tabulate(nc, dim)((c, d) =>
        graft.util.Det.double01(graft.util.Det.at(0xabcdL + c, d.toLong)) * 4 - 2)
      val flat = cb.flatten
      val c2 = cb.map(_.map(x => x * x).sum)
      val probes = math.min(probes0, nc)
      val got = VectorKernels.ivfProbes(fad(v), true, flat, c2, dim, probes)
      val ids = (0 until got.numElements()).map(got.getInt)
      def d2(c: Int) = cb(c).zip(v).map { case (x, y) => (x - y) * (x - y) }.sum
      val want = (0 until nc).sortBy(c => (d2(c), c)).take(probes)
      ids == want
    }

  property("rhpProbes: head == bucket; probes flip exactly one bit each, all distinct") =
    forAll(vecGen, Gen.choose(1, 12), Gen.choose(0, 12)) { (v, np, probes0) =>
      val dim = v.length
      val planes = Array.tabulate(np, dim)((p, d) =>
        graft.util.Det.double01(graft.util.Det.at(0xfeedL + p, d.toLong)) - 0.5)
      val flat = planes.flatten
      val probes = math.min(probes0, np)
      val bucket = VectorKernels.rhpBucket(fad(v), true, flat, dim)
      val got = VectorKernels.rhpProbes(fad(v), true, flat, dim, probes)
      val arr = (0 until got.numElements()).map(got.getLong)
      arr.head == bucket && arr.distinct.length == arr.length &&
        arr.tail.forall(p => java.lang.Long.bitCount(p ^ bucket) == 1)
    }

  property("pq: encode is per-subspace argmin, adc matches naive twin, self-codebook adc is 0") =
    forAll(vecGen, Gen.choose(1, 4), Gen.choose(1, 6)) { (v0, m0, codes) =>
      val m = math.min(m0, v0.length)
      val subDim = v0.length / m
      val v = v0.take(m * subDim)
      subDim == 0 || {
        val cb = Array.tabulate(m, codes, subDim)((s, c, d) =>
          graft.util.Det.double01(graft.util.Det.at(0x99eL + s * 31 + c, d.toLong)) * 4 - 2)
        val flat = cb.flatten.flatten
        val code = graft.functions.PqKernels.encode(fad(v), true, flat, m, codes, subDim)
        def sd2(s: Int, c: Int): Double = (0 until subDim).map { d =>
          val diff = v(s * subDim + d) - cb(s)(c)(d); diff * diff
        }.sum
        val argOk = (0 until m).forall(s =>
          (code(s) & 0xff) == (0 until codes).minBy(c => (sd2(s, c), c)))
        val adc = graft.functions.PqKernels.adc(fad(v), code, true, flat, m, codes, subDim)
        val twin = (0 until m).map(s => sd2(s, code(s) & 0xff)).sum
        // self-codebook: each subspace's code 0 IS the subvector
        val self = Array.tabulate(m, 1, subDim)((s, _, d) => v(s * subDim + d).toDouble).flatten.flatten
        val selfCode = graft.functions.PqKernels.encode(fad(v), true, self, m, 1, subDim)
        val selfAdc = graft.functions.PqKernels.adc(fad(v), selfCode, true, self, m, 1, subDim)
        argOk && math.abs(adc - twin) < 1e-9 && selfAdc == 0.0
      }
    }

  property("residual pq: zero coarse == raw; shift law; ragged vectors and bad cells degrade, never crash") =
    forAll(vecGen, Gen.choose(1, 4), Gen.choose(1, 6), Gen.choose(0, 3)) { (v0, m0, codes, cell) =>
      val m = math.min(m0, v0.length)
      val subDim = v0.length / m
      val v = v0.take(m * subDim)
      subDim == 0 || {
        val dim = m * subDim
        val cb = Array.tabulate(m, codes, subDim)((s, c, d) =>
          graft.util.Det.double01(graft.util.Det.at(0x5a1L + s * 31 + c, d.toLong)) * 4 - 2)
        val flat = cb.flatten.flatten
        val nCells = 4
        // (a) zero coarse centroids: residual encode/adc == raw
        val zero = new Array[Double](nCells * dim)
        val raw = graft.functions.PqKernels.encode(fad(v), true, flat, m, codes, subDim)
        val res0 = graft.functions.PqKernels.encodeRes(fad(v), cell, true, flat, m, codes, subDim, zero)
        val adcRaw = graft.functions.PqKernels.adc(fad(v), raw, true, flat, m, codes, subDim)
        val adc0 = graft.functions.PqKernels.adcRes(fad(v), cell, raw, true, flat, m, codes, subDim, zero)
        // (b) shift law: encoding v against coarse c == encoding the
        // DOUBLE residual (v - c) raw (doubles, matching the kernel's
        // internal arithmetic exactly — a float round-trip would not)
        val coarse = Array.tabulate(nCells * dim)(i =>
          graft.util.Det.double01(graft.util.Det.at(0xc0aL, i.toLong)) * 2 - 1)
        val shifted = Array.tabulate(dim)(i => v(i).toDouble - coarse(cell * dim + i))
        val dad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          shifted.map(x => Double.box(x): Any))
        val resC = graft.functions.PqKernels.encodeRes(fad(v), cell, true, flat, m, codes, subDim, coarse)
        val rawShift = graft.functions.PqKernels.encode(dad, false, flat, m, codes, subDim)
        // (c) the corrupt-input contract: a ragged vector (shorter than
        // m*subDim) and an out-of-range cell id must degrade
        // deterministically, not read out of bounds
        val ragged = fad(v.take(math.max(1, dim / 2)))
        val r1 = graft.functions.PqKernels.encodeRes(ragged, -5, true, flat, m, codes, subDim, coarse)
        val r2 = graft.functions.PqKernels.adcRes(ragged, 99, raw, true, flat, m, codes, subDim, coarse)
        raw.sameElements(res0) && adcRaw == adc0 &&
          resC.sameElements(rawShift) &&
          r1.length == m && !r2.isNaN
      }
    }

  property("pq codes (array<int>) agree with the byte encoding") =
    forAll(vecGen, Gen.choose(1, 4), Gen.choose(1, 6)) { (v0, m0, codes) =>
      val m = math.min(m0, v0.length)
      val subDim = v0.length / m
      val v = v0.take(m * subDim)
      subDim == 0 || {
        val cb = Array.tabulate(m, codes, subDim)((s, c, d) =>
          graft.util.Det.double01(graft.util.Det.at(0x7c0L + s * 31 + c, d.toLong)) * 4 - 2)
        val flat = cb.flatten.flatten
        val bytes = graft.functions.PqKernels.encode(fad(v), true, flat, m, codes, subDim)
        val ints = graft.functions.PqKernels.encodeInts(fad(v), true, flat, m, codes, subDim)
        (0 until m).forall(s => ints.getInt(s) == (bytes(s) & 0xff))
      }
    }

  // ---- round-5 text-kernel laws (pure JVM sides of the codegen
  // expressions; the Spark-side twin equalities live in FunctionsSpec) ----

  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(" ", " ", "\t", "\n", ".", ",", "!", "?", "-", "_"),
    // includes a supplementary-plane codepoint (musical G clef) — the
    // codepoint-vs-char distinction the kernels must get right
    1 -> Gen.oneOf("é", "Ü", "ß", "中", "𝄞"))).map(_.mkString)

  property("NgramKernel == sliding-window mkString reference") =
    forAll(textGen, Gen.choose(1, 5)) { (s, n) =>
      import org.apache.spark.unsafe.types.UTF8String
      val toks = graft.functions.TokenizeKernel.evalRaw(UTF8String.fromString(s))
      val tokSeq = (0 until toks.numElements()).map(i => toks.getUTF8String(i).toString)
      val got = graft.functions.NgramKernel.eval(toks, n)
      val gotSeq = (0 until got.numElements()).map(i => got.getUTF8String(i).toString)
      val want =
        if (tokSeq.length < n) Seq.empty
        else tokSeq.sliding(n).map(_.mkString(" ")).toSeq
      gotSeq == want
    }

  property("TokenizeKernel raw == split-filter reference; lower == raw(lowercased) on ASCII") =
    forAll(textGen) { s =>
      import org.apache.spark.unsafe.types.UTF8String
      val raw = graft.functions.TokenizeKernel.evalRaw(UTF8String.fromString(s))
      val rawSeq = (0 until raw.numElements()).map(i => raw.getUTF8String(i).toString)
      val want = s.split("\\W+").filter(_.nonEmpty).toSeq
      rawSeq == want
    }

  property("TextOps.tokenize ASCII fast path == UNICODE \\w+ regex on any string") = {
    val wordPat = java.util.regex.Pattern.compile(
      "\\w+", java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    def ref(s: String): Vector[String] = {
      val m = wordPat.matcher(s.toLowerCase)
      val out = Vector.newBuilder[String]
      while (m.find()) out += m.group()
      out.result()
    }
    // chars chosen to cross the fast-path boundary: ASCII words,
    // punctuation, whitespace variants, accented letters (non-ASCII
    // \w members), NBSP, a Kelvin sign (lowercases INTO ascii 'k'),
    // and an emoji-class codepoint
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '\t', '\n', '.', ',', '!', '_', '-'),
      1 -> Gen.oneOf('é', 'Ü', 'ß', ' ', 'K', '世', ' '))
    forAll(Gen.listOf(charGen).map(_.mkString)) { s =>
      TextOps.tokenize(s) == ref(s)
    }
  }

  // boundary-crossing generator shared by the \W+ byte-scan law checks:
  // ASCII words/punct/ws, accented letters, NBSP, Kelvin sign (lowercases
  // INTO ascii 'k'), CJK, line/para separators — both fast and fallback
  // paths get exercised, and the lowercase-into-ASCII trap is covered
  private val wsplitCharGen = Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', '\t', '\n', '.', ',', '!', '_', '-'),
    1 -> Gen.oneOf('é', 'Ü', 'ß', ' ', 'K', '世', ' '))
  private val wsplitTextGen = Gen.listOf(wsplitCharGen).map(_.mkString)

  private def refWSplit(s: String): Vector[String] =
    Vector.from("\\W+".r.split(s)).filter(_.nonEmpty)

  property("TokenizeKernel byte scan == lower+\\W+ regex split on any string") =
    forAll(wsplitTextGen) { s =>
      import org.apache.spark.unsafe.types.UTF8String
      def arr(a: org.apache.spark.sql.catalyst.util.ArrayData): Vector[String] =
        Vector.tabulate(a.numElements())(i => a.getUTF8String(i).toString)
      val u = UTF8String.fromString(s)
      arr(graft.functions.TokenizeKernel.eval(u)) ==
        refWSplit(u.toLowerCase.toString) &&
        arr(graft.functions.TokenizeKernel.evalRaw(u)) == refWSplit(s)
    }

  property("ShingleKernel byte scan == string-set twin on any string and n") =
    forAll(wsplitTextGen, Gen.choose(1, 4)) { (s, n) =>
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.StringType
      import org.apache.spark.unsafe.types.UTF8String
      val toks = refWSplit(UTF8String.fromString(s).toLowerCase.toString)
      val shingles =
        if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toVector.distinct
        else Vector(toks.mkString(" "))
      val want = shingles.map(sh => java.lang.Math.floorMod(
        XxHash64Function.hash(UTF8String.fromString(sh), StringType, 42L), 2147483647L))
      val got = graft.functions.ShingleKernel.eval(UTF8String.fromString(s), n)
      Vector.tabulate(got.numElements())(i => got.getLong(i)) == want
    }

  property("tokenXxhash64 byte scan == regex+String hash path on any string") =
    forAll(wsplitTextGen) { s =>
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.StringType
      import org.apache.spark.unsafe.types.UTF8String
      val u = UTF8String.fromString(s)
      val want = refWSplit(u.toLowerCase.toString).map(t =>
        XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L))
      val got = graft.functions.TextKernels.tokenXxhash64(u)
      Vector.tabulate(got.numElements())(i => got.getLong(i)) == want
    }

  property("sentenceSplitSql byte scan == [.!?]\\s+ regex split + trim on any string") = {
    val sentPat = java.util.regex.Pattern.compile("[.!?]\\s+")
    def ref(s: String): Vector[String] =
      Vector.from(sentPat.split(s, -1))
        .map(p => { // SQL trim: spaces (0x20) only
          var a = 0; var b = p.length
          while (a < b && p.charAt(a) == ' ') a += 1
          while (b > a && p.charAt(b - 1) == ' ') b -= 1
          p.substring(a, b)
        })
        .filter(_.nonEmpty)
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar,
      3 -> Gen.oneOf('.', '!', '?', ' ', '\t', '\n', '\u000B', '\f', '\r'),
      1 -> Gen.oneOf('é', '世', ' ', ' '))
    forAll(Gen.listOf(charGen).map(_.mkString)) { s =>
      import org.apache.spark.unsafe.types.UTF8String
      val got = graft.functions.TextKernels.sentenceSplitSql(UTF8String.fromString(s))
      Vector.tabulate(got.numElements())(i => got.getUTF8String(i).toString) == ref(s)
    }
  }

  // random images mixing low-contrast (all-near-128) and full-range
  // pixels so both the guard branch and the otsu branch are exercised
  private val images: Gen[(Int, Int, Array[Int])] =
    for (w <- Gen.choose(1, 40); h <- Gen.choose(1, 40); seed <- Gen.choose(0L, Long.MaxValue))
    yield {
      val rnd = new scala.util.Random(seed)
      (w, h, if (seed % 3 == 0) Array.fill(w * h)(120 + rnd.nextInt(8))
             else Array.fill(w * h)(rnd.nextInt(256)))
    }

  property("blurOtsu == thresholdOtsu(gaussianBlur) bit-for-bit, incl. degenerates") =
    forAll(images, Gen.oneOf(3, 5)) { case ((w, h, px), k) =>
      val bl = ImageOps.gaussianBlur(px, w, h, k)
      val (got, t) = ImageOps.blurOtsu(px, w, h, k)
      got.toSeq == ImageOps.thresholdOtsu(bl).toSeq &&
        t == (if (ImageOps.lowContrast(bl)) -1 else ImageOps.otsuThreshold(bl))
    }

  /** The unfused reference composition of each preprocess chain
    * (`app.py:521-548`) with the global threshold it used.
    */
  private def preprocessRef(px: Array[Int], w: Int, h: Int, mode: String): (Array[Int], Int) =
    mode match {
      case "fast" => (ImageOps.thresholdGlobal(px, 128), 128)
      case "balanced" =>
        (ImageOps.adaptiveGaussian(ImageOps.gaussianBlur(px, w, h, 3), w, h), -1)
      case m =>
        val bl = ImageOps.gaussianBlur(px, w, h, if (m == "quality") 5 else 3)
        val t = if (ImageOps.lowContrast(bl)) -1 else ImageOps.otsuThreshold(bl)
        (ImageOps.morphClose(ImageOps.thresholdOtsu(bl), w, h, 1, 1), t)
    }

  property("preprocess == the unfused reference chain in every mode") =
    forAll(images, Gen.oneOf("fast", "balanced", "quality", "default")) { case ((w, h, px), mode) =>
      val (got, t) = graft.ocr.OcrEngine.preprocess(px, w, h, mode)
      val (want, wantT) = preprocessRef(px, w, h, mode)
      got.toSeq == want.toSeq && t == wantT
    }

  property("splitSentencesRaw char scan == lookbehind regex split on any string") = {
    val pat = java.util.regex.Pattern.compile("(?<=[.!?])\\s+")
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar,
      3 -> Gen.oneOf('.', '!', '?', ' ', '\t', '\n', '\u000B', '\f', '\r'),
      1 -> Gen.oneOf('é', '世', ' ', ' '))
    forAll(Gen.listOf(charGen).map(_.mkString)) { s =>
      TextOps.splitSentencesRaw(s).toSeq == pat.split(s).toSeq
    }
  }

  property("despeckle3 is identity when every pixel has a similar neighbor") =
    forAll(Gen.choose(3, 12), Gen.choose(3, 12), Gen.choose(0, 200)) { (w, h, base) =>
      // constant-ish image (gradient within +-1 per step): every pixel
      // has all neighbors within 64 -> despeckle must change nothing
      val px = Array.tabulate(w * h)(i => (base + (i % 3)).min(255))
      ImageOps.despeckle3(px, w, h).toSeq == px.toSeq
    }

  property("estimateSkew of an unrotated render is ~0; rotate round trip keeps ink mass") =
    forAll(Gen.choose(0, 20), Gen.choose(-30, 30)) { (ti, tenths) =>
      val text = graft.gen.Corpus.mediaTextFor(ti)
      val bytes = SynthRaster.render(text, seed = 1000L + ti)
      val (w, h, px) = graft.img.ImageCodec.decode(bytes)
      val zeroOk = math.abs(ImageOps.estimateSkew(px, w, h)) <= 0.2
      // bilinear rotate(a) then rotate(-a): ink mass (pixels below the
      // ink/paper midpoint) survives within a third — a sign/fill bug
      // in the rotation destroys it outright (near-zero mass), while
      // legitimate double-interpolation erosion of 1-px glyph strokes
      // bottoms out at 70.6% over this generator domain (exhaustive
      // ti x tenths sweep, round 6 — the old 75% bound sat INSIDE the
      // legitimate range and failed on seed ti=16, tenths=-27)
      val a = tenths / 10.0
      val fill = ImageOps.modalValue(px)
      val back = ImageOps.rotate(
        ImageOps.rotate(px, w, h, a, fill, bilinear = true),
        w, h, -a, fill, bilinear = true)
      def inkMass(p: Array[Int]) = p.count(_ < 124)
      val m0 = inkMass(px)
      val m1 = inkMass(back)
      val massOk = m0 == 0 || (m1 >= m0 * 2 / 3 && m1 <= m0 * 4 / 3)
      zeroOk && massOk
    }

  property("sig agreement: symmetric, bounded, k iff equal; band keys: equal slices share keys") =
    forAll(Gen.choose(1, 4), Gen.listOfN(8, Gen.choose(0L, 9L)), Gen.listOfN(8, Gen.choose(0L, 9L))) {
      (bands0, as, bs) =>
      val bands = math.min(bands0, 4)
      def lad(xs: Seq[Long]) = new GenericArrayData(xs.map(x => Long.box(x): Any).toArray)
      val agree = SigKernels.agreement(lad(as), lad(bs))
      val symOk = agree == SigKernels.agreement(lad(bs), lad(as))
      val boundOk = agree >= 0 && agree <= 8 && (agree == 8) == (as == bs)
      val ka = SigKernels.bandKeys(lad(as), bands)
      val kb = SigKernels.bandKeys(lad(bs), bands)
      val rows = 8 / bands
      val keysOk = (0 until bands).forall { b =>
        val sliceEq = as.slice(b * rows, b * rows + rows) == bs.slice(b * rows, b * rows + rows)
        !sliceEq || ka.getLong(b) == kb.getLong(b) // equal slices MUST share keys
      }
      symOk && boundOk && keysOk
    }
}
