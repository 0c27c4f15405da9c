package graft.functions

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `graft_shingle_hashes(text, n)` in one pass: tokenize -> word n-gram
  * shingles -> distinct -> 31-bit hash, replicating the declarative
  * chain `shingleHashes(Dedup.shingles(text, n))` (two nested
  * higher-order transforms; the twin is law-checked in FunctionsSpec)
  * step for step:
  *
  *  - tokens: `filter(split(lower(text), "\\W+"), _ != "")` — Spark's
  *    `lower` is `UTF8String.toLowerCase`, its `split` is the Java
  *    regex on the string form; both reproduced exactly;
  *  - shingles: `n`-token windows joined with " " when there are at
  *    least n tokens, else the single all-tokens join (empty string
  *    for an empty token list) — `Dedup.shingles`' degenerate branch;
  *  - distinct keeping FIRST occurrence (`array_distinct`);
  *  - hash: `pmod(xxhash64(shingle), 2^31-1)` — same seed-42 XxHash64
  *    Spark's `xxhash64` uses.
  */
object ShingleKernel {
  private val PRIME = 2147483647L // 2^31 - 1, the MinHash prime

  def eval(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    if (AsciiScan.allAscii(bytes)) evalAscii(bytes, n)
    else evalRegex(text, n)
  }

  /** Byte-level fast path (round-6): on pure-ASCII text the
    * lowercase+`\W+` tokenize is a byte scan (see [[AsciiScan]]), the
    * shingle join writes token bytes + 0x20 into one reused scratch
    * buffer, and the 31-bit hash is seed-42 XxHash64 over those bytes
    * directly — exactly what `XxHash64Function.hash(UTF8String(...))`
    * computes on the string form, since a pure-ASCII shingle's UTF-8
    * bytes ARE its chars. Distinctness stays on shingle CONTENT
    * (first-occurrence order, byte compare on 64-bit-hash ties), so
    * even a full xxhash64 collision between two distinct shingles in
    * one document emits the duplicate value exactly as the
    * LinkedHashSet-of-strings twin does.
    */
  private def evalAscii(b: Array[Byte], n: Int): ArrayData = {
    val lb = AsciiScan.lowered(b)
    val r = AsciiScan.runs(lb)
    val nTok = r.length / 2
    @inline def starts(t: Int): Int = r(2 * t)
    @inline def ends(t: Int): Int = r(2 * t + 1)
    val shingleCount = if (nTok >= n) nTok - n + 1 else 1
    val width = if (nTok >= n) n else nTok
    // max shingle byte length bounds the scratch buffer
    var maxLen = 0
    var s = 0
    while (s < shingleCount) {
      var l = if (width > 0) width - 1 else 0
      var w = 0
      while (w < width) { l += ends(s + w) - starts(s + w); w += 1 }
      if (l > maxLen) maxLen = l
      s += 1
    }
    val scratch = new Array[Byte](maxLen)
    // first-occurrence-ordered distinct on CONTENT: 64-bit hash keyed,
    // byte-verified on ties (a colliding distinct shingle re-emits the
    // value, matching the string-set twin)
    val seen = new java.util.HashMap[java.lang.Long, AnyRef](shingleCount * 2)
    val out = new java.util.ArrayList[java.lang.Long](shingleCount)
    s = 0
    while (s < shingleCount) {
      var o = 0
      var w = 0
      while (w < width) {
        if (w > 0) { scratch(o) = 0x20; o += 1 }
        val st = starts(s + w)
        val e = ends(s + w)
        System.arraycopy(lb, st, scratch, o, e - st)
        o += e - st
        w += 1
      }
      val h = XxHash64Function.hash(
        UTF8String.fromBytes(scratch, 0, o), StringType, 42L)
      val key = java.lang.Long.valueOf(h)
      val prev = seen.get(key)
      var isNew = false
      if (prev == null) {
        seen.put(key, java.util.Arrays.copyOf(scratch, o)): Unit
        isNew = true
      } else {
        prev match {
          case one: Array[Byte] =>
            if (!regionEquals(one, scratch, o)) {
              val list = new java.util.ArrayList[Array[Byte]](2)
              list.add(one): Unit
              list.add(java.util.Arrays.copyOf(scratch, o)): Unit
              seen.put(key, list): Unit
              isNew = true
            }
          case list: java.util.ArrayList[Array[Byte] @unchecked] =>
            var found = false
            var li = 0
            while (!found && li < list.size()) {
              if (regionEquals(list.get(li), scratch, o)) found = true
              li += 1
            }
            if (!found) {
              list.add(java.util.Arrays.copyOf(scratch, o)): Unit
              isNew = true
            }
        }
      }
      if (isNew) out.add(java.lang.Long.valueOf(java.lang.Math.floorMod(h, PRIME))): Unit
      s += 1
    }
    val res = new Array[Long](out.size())
    var k = 0
    while (k < res.length) { res(k) = out.get(k).longValue(); k += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(res)
  }

  private def regionEquals(stored: Array[Byte], scratch: Array[Byte], len: Int): Boolean = {
    if (stored.length != len) return false
    var i = 0
    while (i < len) { if (stored(i) != scratch(i)) return false; i += 1 }
    true
  }

  private def evalRegex(text: UTF8String, n: Int): ArrayData = {
    val toks = AsciiScan.lowerWords(text)
    val nTok = toks.length
    val shingleCount = if (nTok >= n) nTok - n + 1 else 1
    val seen = new java.util.LinkedHashSet[String](shingleCount * 2)
    if (nTok >= n) {
      val sb = new java.lang.StringBuilder()
      var s = 0
      while (s < shingleCount) {
        sb.setLength(0)
        var w = 0
        while (w < n) {
          if (w > 0) sb.append(' ')
          sb.append(toks(s + w))
          w += 1
        }
        seen.add(sb.toString): Unit
        s += 1
      }
    } else {
      seen.add(toks.mkString(" ")): Unit
    }
    val out = new Array[Long](seen.size)
    var k = 0
    val it = seen.iterator()
    while (it.hasNext) {
      val h = XxHash64Function.hash(UTF8String.fromString(it.next()), StringType, 42L)
      out(k) = java.lang.Math.floorMod(h, PRIME)
      k += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
