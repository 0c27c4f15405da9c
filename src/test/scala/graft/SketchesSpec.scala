package graft

import graft.ops.Sketches
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SketchesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sketches")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("KMV: exact below k; within 15% at 20k distinct; invariant under partitioning") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val kmv = udaf(new Sketches.KmvDistinct(256), Encoders.scalaLong)
    // exact when distinct < k (with duplicates present)
    val small = (0 until 100).map(i => (i % 40).toLong).toDF("v")
    assert(small.agg(kmv(xxhash64(col("v")))).head().getLong(0) == 40L)
    // 20k distinct values, duplicated 3x, across partitions
    val big = (0 until 60000).map(i => (i % 20000).toLong).toDF("v").repartition(8)
    val est = big.agg(kmv(xxhash64(col("v")))).head().getLong(0)
    assert(math.abs(est - 20000.0) / 20000.0 < 0.15, s"KMV estimate $est off by >15%")
    // merge is a set union -> estimate identical under any partitioning
    val est1 = big.repartition(1).agg(kmv(xxhash64(col("v")))).head().getLong(0)
    val est32 = big.repartition(32).agg(kmv(xxhash64(col("v")))).head().getLong(0)
    assert(est == est1 && est == est32)
  }

  test("Misra-Gries candidates contain every item above n/(k+1); heavyHitters == exact HAVING") {
    import spark.implicits._
    // skewed stream: 4 heavy words + 500 distinct light words
    val words = (
      Seq.fill(400)("alpha") ++ Seq.fill(300)("beta") ++
        Seq.fill(200)("gamma") ++ Seq.fill(150)("delta") ++
        (0 until 500).map(i => s"tail$i")
      ).toDF("word").repartition(8)
    val n = 400 + 300 + 200 + 150 + 500
    val k = 16
    val mg = udaf(new Sketches.MisraGries(k), Encoders.STRING)
    val cands = words.agg(mg(col("word"))).head().getSeq[String](0).toSet
    val trueHeavy = Map("alpha" -> 400, "beta" -> 300, "gamma" -> 200, "delta" -> 150)
      .filter { case (_, c) => c > n / (k + 1.0) }.keySet
    assert(trueHeavy.subsetOf(cands),
      s"MG guarantee violated: $trueHeavy not all in $cands")
    assert(cands.size <= k)
    // two-pass operator: deterministic, equals the exact over-threshold query
    val got = Sketches.heavyHitters(words, k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = words.groupBy("word").count()
      .filter(col("count") > n / (k + 1.0))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact && got.keySet == trueHeavy)
    // null rows are not words: no NPE, counts unchanged for real words
    val withNulls = words.unionByName(
      Seq.fill(5)(null.asInstanceOf[String]).toDF("word"))
    val candsN = withNulls.agg(mg(col("word"))).head().getSeq[String](0).toSet
    assert(trueHeavy.subsetOf(candsN))
  }

  test("keySkewAudit reports exactly the keys above maxShare, with exact counts") {
    import spark.implicits._
    // 10_000 rows: one whale user at 30%, one at 5%, the rest spread
    // over 1000 users (~0.065% each)
    val rows = Seq.fill(3000)("whale") ++ Seq.fill(500)("mid") ++
      (0 until 6500).map(i => s"u${i % 1000}")
    val df = rows.toDF("user_id")
    val hot = graft.ops.Sketches.keySkewAudit(df, "user_id", maxShare = 0.02)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(hot.map(_._1).toSeq == Seq("whale", "mid"), s"got ${hot.toSeq}")
    assert(hot.head._2 == 3000L && hot(1)._2 == 500L)
    assert(math.abs(hot.head._3 - 0.30) < 1e-9)
    // no key above the threshold -> empty, with the declared schema
    val quiet = graft.ops.Sketches.keySkewAudit(df, "user_id", maxShare = 0.5)
    assert(quiet.count() == 0L)
    assert(quiet.columns.toSeq == Seq("user_id", "n", "share"))
  }

  test("CountMin never under-counts, is partitioning-invariant, and skips nulls") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // skewed multiset with known exact counts + nulls in the stream
    val exact = Map("alpha" -> 400L, "beta" -> 120L, "gamma" -> 7L, "delta" -> 1L)
    val rows: Seq[String] =
      exact.toSeq.flatMap { case (w, c) => Seq.fill(c.toInt)(w) } ++
        (0 until 2000).map(i => s"noise${i % 800}") ++
        Seq.fill(5)(null.asInstanceOf[String])
    val words = rows.toDF("word").repartition(8)
    val probes = exact.keys.toSeq :+ "never_seen"
    def est(df: org.apache.spark.sql.DataFrame, width: Int) =
      Sketches.cmsEstimates(df, probes, depth = 4, width = width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val e = est(words, 4096)
    // the CMS guarantee: min-of-counters NEVER under-counts
    exact.foreach { case (w, c) =>
      assert(e(w) >= c, s"$w under-counted: ${e(w)} < $c")
    }
    assert(e("never_seen") >= 0L)
    // at width >> distinct (804 keys), collisions are absent for this
    // deterministic corpus: estimates are exact, absent key reads 0
    val wide = est(words, 1 << 16)
    exact.foreach { case (w, c) => assert(wide(w) == c, s"$w: ${wide(w)} != $c") }
    assert(wide("never_seen") == 0L)
    // merge is counter addition -> identical under ANY partitioning
    assert(est(words.repartition(1), 4096) == e)
    assert(est(words.repartition(32), 4096) == e)
  }

  test("HLL: within bound at 5k distinct, partitioning-invariant, linear counting near-exact") {
    import spark.implicits._
    val n = 5000
    val base = (0 until n).map(i => ("g", s"val_$i")).toDF("source", "text")
    val dup = base.union(base) // duplicates must not move the estimate
    def run(d: org.apache.spark.sql.DataFrame) =
      Sketches.hllDistinct(d, "text", "source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq.sorted
    val got = run(dup)
    assert(got.size == 1 && got.head._2 == 1024L)
    val est5k = got.head._4
    // standard error 1.04/sqrt(1024) ~ 3.25%; 3 sigma ~ 10%
    assert(math.abs(est5k - n) / n < 0.10, s"estimate $est5k too far from $n")
    // register build is a max-agg: identical under any partitioning
    assert(run(dup.repartition(1)) == got)
    assert(run(dup.repartition(16)) == got)
    // tiny cardinality -> linear-counting branch, near-exact
    val small = (0 until 50).map(i => ("s", s"v$i")).toDF("source", "text")
    val se = run(small).head._4
    assert(math.abs(se - 50.0) <= 2.0, s"linear-counting estimate $se off from 50")
  }
}
