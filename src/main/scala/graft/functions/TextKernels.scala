package graft.functions

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The one word scanner of the `\W+` tokenizer family.
  *
  * Java's default-mode `\w` is EXACTLY `[a-zA-Z0-9_]` (no
  * UNICODE_CHARACTER_CLASS anywhere in these kernels), so the tokens
  * of `split(s, "\\W+")` are precisely the maximal runs of those four
  * ASCII byte classes — every other character, including every byte of
  * a multi-byte UTF-8 codepoint (all >= 0x80), is a separator. The byte
  * scan [[runs]] therefore reproduces the regex split exactly on ANY
  * input. The only step that can escape ASCII is `toLowerCase` (e.g.
  * Kelvin sign U+212A lowercases INTO 'k'), so the lowercasing kernels
  * take the byte scan only under [[allAscii]] and otherwise the regex
  * form [[lowerWords]]. `TextOps.tokenize` (the summarizer's Unicode
  * `\w+` tokenizer) takes the same byte scan under the same guard.
  * Law-checked against the regex in GraftProps.
  */
private[graft] object AsciiScan {
  private val NON_WORD = java.util.regex.Pattern.compile("\\W+")

  @inline def isWord(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  @inline def lower(c: Byte): Byte =
    if (c >= 'A' && c <= 'Z') (c | 0x20).toByte else c

  /** true iff every byte is < 0x80 (bytes are signed: >= 0). */
  def allAscii(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) { if (b(i) < 0) return false; i += 1 }
    true
  }

  /** ASCII-lowercased copy of `b`. */
  def lowered(b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](b.length)
    var i = 0
    while (i < b.length) { out(i) = lower(b(i)); i += 1 }
    out
  }

  /** The maximal word-byte runs of `b` as flat offset pairs: run j is
    * `b[r(2j), r(2j + 1))`.
    */
  def runs(b: Array[Byte]): Array[Int] = {
    var r = new Array[Int](16)
    var n = 0
    var i = 0
    while (i < b.length) {
      if (isWord(b(i))) {
        if (n == r.length) r = java.util.Arrays.copyOf(r, n * 2)
        r(n) = i
        while (i < b.length && isWord(b(i))) i += 1
        r(n + 1) = i
        n += 2
      } else i += 1
    }
    java.util.Arrays.copyOf(r, n)
  }

  /** The regex form: nonempty pieces of `split(lower(s), "\\W+")`. */
  def lowerWords(s: UTF8String): Array[String] =
    NON_WORD.split(s.toLowerCase.toString).filter(_.nonEmpty)
}

/** Word tokens of a text: `filter(split(lower(text), "\\W+"), _ != "")`
  * ([[eval]]) and its case-preserving form ([[evalRaw]]).
  */
object TokenizeKernel {

  def eval(text: UTF8String): ArrayData = {
    val b = text.getBytes
    if (AsciiScan.allAscii(b)) tokens(AsciiScan.lowered(b))
    else new GenericArrayData(AsciiScan.lowerWords(text).map(t => UTF8String.fromString(t): Any))
  }

  /** `filter(split(text, "\\W+"), _ != "")` with NO lowercase — the
    * chunk/paragraph builders' tokenizer (their DuckDB oracles tokenize
    * case-preserving). No lowercase means no char can cross the ASCII
    * boundary, so the byte scan is exact on every input.
    */
  def evalRaw(text: UTF8String): ArrayData = tokens(text.getBytes)

  private def tokens(b: Array[Byte]): ArrayData = {
    val r = AsciiScan.runs(b)
    val out = new Array[Any](r.length / 2)
    var j = 0
    while (j < out.length) {
      out(j) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, r(2 * j), r(2 * j + 1)))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Every `n`-element window of a token array joined with one space —
  * the fused form of the gram-window pattern
  *
  * {{{ transform(sequence(0, size(toks) - n), i ->
  *       array_join(slice(toks, i + 1, lit(n)), " ")) }}}
  *
  * (law-checked in FunctionsSpec):
  *
  *  - fewer than `n` elements (including the empty array) -> EMPTY
  *    array; `sequence(0, size - n)` would step backwards there, so
  *    every call site of the twin guards with `when(size(toks) >= n, ...)`
  *    and the kernel folds that guard in;
  *  - a NULL element inside a window is skipped by the join exactly
  *    like `array_join` without a null replacement (separator not
  *    doubled);
  *  - join cost is linear in window bytes via one reused buffer.
  */
object NgramKernel {

  def eval(arr: ArrayData, n: Int): ArrayData = {
    val size = arr.numElements()
    if (size < n) return new GenericArrayData(new Array[Any](0))
    // decode each token to a java String ONCE (not once per window —
    // adjacent windows share n-1 tokens)
    val toks = new Array[String](size)
    var i = 0
    while (i < size) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      i += 1
    }
    val out = new Array[Any](size - n + 1)
    val sb = new java.lang.StringBuilder()
    var s = 0
    while (s < out.length) {
      sb.setLength(0)
      var first = true
      var w = 0
      while (w < n) {
        val t = toks(s + w)
        if (t != null) {
          if (!first) sb.append(' ')
          sb.append(t)
          first = false
        }
        w += 1
      }
      out(s) = UTF8String.fromString(sb.toString)
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Unicode NFC via `java.text.Normalizer` with a cheap already-normalized
  * fast path — `isNormalized` is a quick-check table walk that accepts
  * pure-ASCII (and most real text) without allocating, so the common
  * case returns the INPUT UTF8String untouched and only genuinely
  * decomposed rows pay the decompose+compose. Byte-level duplicates of
  * canonically-equal text (`e` + COMBINING ACUTE vs precomposed `é`)
  * must collapse BEFORE fingerprint/dedup keys are computed. Parity
  * note: JDK and utf8proc (DuckDB's `nfc_normalize`) implement the same
  * canonical composition — verified on combining-sequence, reordering
  * (ccc), and composition-exclusion cases.
  */
object NfcKernel {
  import java.text.Normalizer
  def eval(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** The remaining text kernels, each the fused form of an interpreted
  * expression chain (law-checked against it in FunctionsSpec/GraftProps).
  */
object TextKernels {

  /** [[graft.text.Summarizer.summarize]] at ratio 0.3, the extraction
    * output's summary.
    */
  def summarize(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.text.Summarizer.summarize(s.toString, 0.3))

  /** 64-bit polynomial rolling fingerprint (Rabin-Karp family, base
    * 1000003, wrap-around arithmetic) of the string's UTF-8 bytes.
    */
  def fingerprint64(s: UTF8String): Long = {
    val b = s.getBytes
    var h = 0L
    var i = 0
    while (i < b.length) {
      h = h * 1000003L + (b(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Occurrences (not distinct members) of `set` in a string array —
    * `size(filter(toks, t -> t.isin(set)))`; null elements never count.
    */
  def countInSet(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    var n = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }

  /** The SQL summarize chain's sentence splitter:
    * `filter(transform(split(text, "[.!?]\\s+"), trim), _ != "")` —
    * consuming split (the DuckDB-parity form; RE2 has no lookbehind),
    * SQL-standard trim (SPACE 0x20 only — Spark's `trim` and DuckDB's
    * `trim` both strip only spaces, unlike java.lang.String#trim),
    * empties dropped. (The KERNEL summarizer's lookbehind split lives in
    * [[graft.text.TextOps.splitSentences]].)
    */
  def sentenceSplitSql(s: UTF8String): ArrayData = {
    // byte-level twin of Pattern("[.!?]\\s+").split(str, -1) + trim(' ') + drop
    // empties (round-6). Exact on EVERY input, no ASCII guard needed:
    // the delimiter chars [.!?] and Java default-mode `\s` (six ASCII
    // bytes) are all < 0x80, and no byte of a multi-byte UTF-8
    // codepoint is < 0x80, so byte comparisons can never fire inside
    // one — the scan sees exactly the matches the regex engine sees,
    // greedy \s+ run included (law-checked in GraftProps).
    val b = s.getBytes
    val n = b.length
    @inline def isWs(c: Byte): Boolean =
      c == 0x20 || c == 0x09 || c == 0x0A || c == 0x0B || c == 0x0C || c == 0x0D
    val kept = new java.util.ArrayList[Any]()
    var start = 0
    var i = 0
    while (i <= n) {
      val atDelim = i < n && (b(i) == '.' || b(i) == '!' || b(i) == '?') &&
        i + 1 < n && isWs(b(i + 1))
      if (i == n || atDelim) {
        // piece = [start, i); SQL trim strips 0x20 only
        var a = start
        var e = i
        while (a < e && b(a) == 0x20) a += 1
        while (e > a && b(e - 1) == 0x20) e -= 1
        if (e > a) kept.add(UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(b, a, e))): Unit
        if (i < n) {
          i += 2 // consume the delimiter char + first ws byte
          while (i < n && isWs(b(i))) i += 1
          start = i
        } else i += 1
      } else i += 1
    }
    new GenericArrayData(kept.toArray)
  }

  /** Seed-42 xxhash64 of each lowercase word token — the fused form of
    * `transform(graft_tokenize(text), t -> xxhash64(t))`. On the ASCII
    * path each token is hashed straight from the lowercased bytes:
    * identical bytes, hence identical hashes, to the regex path's strings.
    */
  def tokenXxhash64(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val out =
      if (AsciiScan.allAscii(b)) {
        val lb = AsciiScan.lowered(b)
        val r = AsciiScan.runs(lb)
        val h = new Array[Long](r.length / 2)
        var j = 0
        while (j < h.length) {
          h(j) = XxHash64Function.hash(
            UTF8String.fromBytes(lb, r(2 * j), r(2 * j + 1) - r(2 * j)), StringType, 42L)
          j += 1
        }
        h
      } else AsciiScan.lowerWords(s).map(t =>
        XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L))
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** One-pass byte-level twin of `trim(regexp_replace(s, "\s+", " "))`
    * (round-6: the collapse ran as a java.util.regex
    * Matcher.appendReplacement loop on every text span of the
    * extraction pipeline and every fingerprint() call — measured ~7%
    * of flagship task samples). Java's `\s` without UNICODE_CHARACTER_CLASS
    * is exactly the six ASCII bytes [ \t\n\x0B\f\r]; every byte of a
    * multi-byte UTF-8 codepoint is >= 0x80, so the byte scan can never
    * split or match inside one, and SQL `trim` strips only the 0x20
    * the collapse itself produced at the ends — so emitting nothing
    * for leading/trailing runs and one 0x20 for interior runs is
    * byte-for-byte the regex+trim composition.
    */
  def collapseWs(s: UTF8String): UTF8String = {
    val b = s.getBytes
    val n = b.length
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c == 0x20 || c == 0x09 || c == 0x0A || c == 0x0B || c == 0x0C || c == 0x0D) {
        if (o > 0) pendingSpace = true // leading runs vanish under trim
      } else {
        if (pendingSpace) { out(o) = 0x20; o += 1; pendingSpace = false }
        out(o) = c
        o += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }
}
