package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Micro-benchmark for the round-6 byte-scan kernel fast paths
  * (optimization tooling, guide §1.4 — NOT part of the driver
  * surface). Times each shipped kernel against its regex reference
  * over the REAL corpus texts, driver-side, so the per-byte claim is
  * isolated from Spark scheduling and host noise entirely.
  *
  * usage: KernelBench <sfDir> [reps]
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 30
    val spark = SparkSession.builder().master("local[2]")
      .appName("graft-kernelbench").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val utf8 = texts.map(UTF8String.fromString)
    val totalBytes = texts.map(_.getBytes("UTF-8").length.toLong).sum
    println(s"[kernelbench] ${texts.length} docs, $totalBytes bytes, $reps reps")

    val SPLIT = java.util.regex.Pattern.compile("\\W+")
    val SENT = java.util.regex.Pattern.compile("[.!?]\\s+")

    def time(name: String)(body: => Long): Unit = {
      var best = Double.MaxValue
      var sink = 0L
      var r = 0
      while (r < reps) {
        val t0 = System.nanoTime()
        sink = body // the last rep's value: a ref and its kernel must print the same
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best) best = dt
        r += 1
      }
      println(f"[kernelbench] $name%-28s best ${best * 1000}%8.2f ms  ${totalBytes / best / 1e6}%8.1f MB/s  (sink $sink)")
    }

    // regex references — the exact pre-round-6 kernel bodies
    def refTokenize(u: UTF8String): Long = {
      val raw = SPLIT.split(u.toLowerCase.toString)
      var acc = 0L; var i = 0
      while (i < raw.length) { if (raw(i).nonEmpty) acc += raw(i).length; i += 1 }
      acc
    }
    def refShingle(u: UTF8String, n: Int): Long = {
      val toks0 = SPLIT.split(u.toLowerCase.toString)
      val toks = toks0.filter(_.nonEmpty)
      val nTok = toks.length
      val seen = new java.util.LinkedHashSet[String]()
      if (nTok >= n) {
        var s = 0
        while (s < nTok - n + 1) {
          val sb = new java.lang.StringBuilder()
          var w = 0
          while (w < n) { if (w > 0) sb.append(' '); sb.append(toks(s + w)); w += 1 }
          seen.add(sb.toString): Unit
          s += 1
        }
      } else seen.add(toks.mkString(" ")): Unit
      var acc = 0L
      val it = seen.iterator()
      while (it.hasNext)
        acc ^= XxHash64Function.hash(UTF8String.fromString(it.next()), StringType, 42L)
      acc
    }
    def refSent(u: UTF8String): Long = {
      val pieces = SENT.split(u.toString, -1)
      var acc = 0L; var i = 0
      while (i < pieces.length) {
        // strip 0x20 only, like the shipped splitter's SQL trim, so the
        // two sinks printed below must agree
        val p = pieces(i)
        var a = 0
        var e = p.length
        while (a < e && p.charAt(a) == ' ') a += 1
        while (e > a && p.charAt(e - 1) == ' ') e -= 1
        acc += e - a
        i += 1
      }
      acc
    }

    def sumArr(a: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
      var acc = 0L; var i = 0
      while (i < a.numElements()) { acc += a.getUTF8String(i).numBytes(); i += 1 }
      acc
    }
    def sumLongs(a: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
      var acc = 0L; var i = 0
      while (i < a.numElements()) { acc ^= a.getLong(i); i += 1 }
      acc
    }

    time("tokenize regex (ref)") { utf8.foldLeft(0L)((a, u) => a + refTokenize(u)) }
    time("tokenize byte-scan") { utf8.foldLeft(0L)((a, u) => a + sumArr(graft.functions.TokenizeKernel.eval(u))) }
    time("shingle3 regex+set (ref)") { utf8.foldLeft(0L)((a, u) => a ^ refShingle(u, 3)) }
    time("shingle3 byte-scan") { utf8.foldLeft(0L)((a, u) => a ^ sumLongs(graft.functions.ShingleKernel.eval(u, 3))) }
    def refTokenHash(u: UTF8String): Long = {
      val raw = SPLIT.split(u.toLowerCase.toString)
      var acc = 0L; var i = 0
      while (i < raw.length) {
        if (raw(i).nonEmpty)
          acc ^= XxHash64Function.hash(UTF8String.fromString(raw(i)), StringType, 42L)
        i += 1
      }
      acc
    }
    time("tokenHash regex (ref)") { utf8.foldLeft(0L)((a, u) => a ^ refTokenHash(u)) }
    time("tokenHash byte-scan") { utf8.foldLeft(0L)((a, u) => a ^ sumLongs(graft.functions.TextKernels.tokenXxhash64(u))) }
    time("sentSplit regex (ref)") { utf8.foldLeft(0L)((a, u) => a + refSent(u)) }
    time("sentSplit byte-scan") { utf8.foldLeft(0L)((a, u) => a + sumArr(graft.functions.TextKernels.sentenceSplitSql(u))) }

    spark.stop()
  }
}
