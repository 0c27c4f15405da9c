package graft

import graft.ops.Distrib
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DistribSpec extends AnyFunSuite {

  test("goodTuring: hand-computed spectrum, saturated slice has zero unseen mass") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // slice a: tokens [x x x y y z w] -> N=7 V=4 N1=2 (z,w) N2=1 (y)
    // p_unseen = 2/7 = 0.285714; chao1 = 4 + 2*1/(2*2) = 4.5
    // slice b: every type repeated -> N1=0 -> p_unseen 0, chao1 = V
    val docs = Seq(
      ("a", "x x x y y z w"),
      ("b", "p p q q")).toDF("source", "text")
    val got = Distrib.goodTuring(docs, "source")
      .orderBy("slice").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got(0) == (("a", 7L, 4L, 2L, 1L, 0.285714, 4.5)))
    assert(got(1) == (("b", 4L, 2L, 0L, 2L, 0.0, 2.0)))
  }

  test("temporalTvd: identical days 0, disjoint days 1, hand-computed mixed pair; gaps break the chain") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val ts = java.sql.Timestamp.valueOf(_: String)
    val rows = Seq(
      // day 1 and day 2 identical distribution {a:2, b:2}
      ("2024-03-01 10:00:00", "a"), ("2024-03-01 11:00:00", "a"),
      ("2024-03-01 12:00:00", "b"), ("2024-03-01 13:00:00", "b"),
      ("2024-03-02 10:00:00", "a"), ("2024-03-02 11:00:00", "a"),
      ("2024-03-02 12:00:00", "b"), ("2024-03-02 13:00:00", "b"),
      // day 3 all c -> disjoint from day 2 -> TVD 1
      ("2024-03-03 10:00:00", "c"), ("2024-03-03 11:00:00", "c"),
      // day 4: {a:1, c:3} vs day 3 {c:2}: TVD = 0.5*(|1/4-0| + |0-0| + |3/4-1|) = 0.25
      ("2024-03-04 10:00:00", "a"), ("2024-03-04 11:00:00", "c"),
      ("2024-03-04 12:00:00", "c"), ("2024-03-04 13:00:00", "c"),
      // day 6 after a gap: no (4,5) or (5,6) pair
      ("2024-03-06 10:00:00", "a")
    ).map { case (t, c) => (ts(t), c) }
    val out = Distrib.temporalTvd(rows.toDF("ts", "cat"), "ts", "cat")
      .orderBy("day_a").collect()
      .map(r => (r.getDate(0).toString, r.getDate(1).toString, r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("2024-03-01", "2024-03-02", 0.0),
      ("2024-03-02", "2024-03-03", 1.0),
      ("2024-03-03", "2024-03-04", 0.25)))
  }

  test("balanceIndex: uniform mixture maxes entropy with Gini 0; single slice degenerates cleanly") {
    import spark.implicits._
    val uniform = (0 until 40).map(i => s"src${i % 4}").toDF("source")
    val u = Distrib.balanceIndex(uniform, "source").collect().head
    assert(u.getLong(0) == 4L && u.getLong(1) == 40L)
    assert(u.getDouble(3) == 1.0)                       // norm entropy
    assert(math.abs(u.getDouble(4) - 4.0) < 1e-3)       // effective slices
    assert(u.getDouble(5) == 0.0)                       // gini
    // skewed 37:1:1:1 -> low norm-entropy, high gini
    val skew = (Seq.fill(37)("big") ++ Seq("s1", "s2", "s3")).toDF("source")
    val k = Distrib.balanceIndex(skew, "source").collect().head
    assert(k.getDouble(3) < 0.35 && k.getDouble(5) > 0.6)
    val one = Distrib.balanceIndex(Seq.fill(5)("only").toDF("source"), "source")
      .collect().head
    assert(one.getDouble(2) == 0.0 && one.getDouble(3) == 0.0 &&
      one.getDouble(4) == 1.0 && one.getDouble(5) == 0.0)
  }

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-distrib")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("slice KL: zero for a corpus-identical slice, hand-computed for a skewed one, always >= 0") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // two slices with the SAME distribution {a:2, b:1} -> corpus is
    // {a:4, b:2}, both KLs exactly 0
    val same = Seq(("s1", "a a b"), ("s2", "a b a")).toDF("source", "text")
    val kl0 = Distrib.sliceKlDivergence(same, "source")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(kl0("s1") == (3L, 0.0) && kl0("s2") == (3L, 0.0))
    // skewed: s1 = {a:2}, s2 = {a:1, b:1}; corpus = {a:3, b:1}
    //   KL(s1) = 1 * ln(1 / (3/4)) = ln(4/3)
    //   KL(s2) = .5 ln(.5/(3/4)) + .5 ln(.5/(1/4))
    val skew = Seq(("s1", "a a"), ("s2", "a b")).toDF("source", "text")
    val kl = Distrib.sliceKlDivergence(skew, "source")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    def r4(x: Double) = math.round(x * 10000) / 10000.0
    assert(kl("s1") == r4(math.log(4.0 / 3.0)))
    assert(kl("s2") == r4(0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)))
    assert(kl.values.forall(_ >= 0.0), "Gibbs: KL is never negative")
  }

  test("pairwise JSD: identical slices 0, disjoint slices ln 2, hand-computed mixed pair, every pair present") {
    import spark.implicits._
    def r4(x: Double) = math.round(x * 10000) / 10000.0
    val ln2 = math.log(2.0)
    // s1 == s2 ({a:2,b:1}); s3 is vocabulary-disjoint; s4 overlaps s1
    // on 'a' only: s1 p(a)=2/3, s4 q(a)=1/2 (plus d:1/2 unshared)
    val docs = Seq(
      ("s1", "a a b"), ("s2", "b a a"),
      ("s3", "x y z"), ("s4", "a d")
    ).toDF("source", "text")
    val out = Distrib.pairwiseJsd(docs, "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.size == 6, "all C(4,2) pairs present, incl. disjoint ones")
    assert(out(("s1", "s2")) == (2L, 0.0), "identical distributions -> exactly 0")
    assert(out(("s1", "s3")) == (0L, r4(ln2)), "disjoint -> exactly ln 2")
    assert(out(("s3", "s4")) == (0L, r4(ln2)))
    // hand-computed s1/s4: shared 'a' with p=2/3, q=1/2:
    //   0.5*(p ln(2p/(p+q)) + q ln(2q/(p+q))) + 0.5*(1-p)ln2 + 0.5*(1-q)ln2
    val (p, q) = (2.0 / 3.0, 0.5)
    val exp = 0.5 * (p * math.log(2 * p / (p + q)) + q * math.log(2 * q / (p + q))) +
      0.5 * (1 - p) * ln2 + 0.5 * (1 - q) * ln2
    assert(out(("s1", "s4"))._1 == 1L && out(("s1", "s4"))._2 == r4(exp))
    // bounds: JSD always within [0, ln 2]
    assert(out.values.forall { case (_, j) => j >= 0.0 && j <= r4(ln2) })
  }

  test("vocab Jaccard: identical 1, disjoint 0 (pair still present), hand-computed partial overlap") {
    import spark.implicits._
    // s1 vocab {a,b}; s2 vocab {a,b}; s3 {x,y,z}; s4 {a,d}
    val docs = Seq(
      ("s1", "a a b"), ("s2", "b a a"),
      ("s3", "x y z"), ("s4", "a d")
    ).toDF("source", "text")
    val out = Distrib.vocabJaccard(docs, "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(out.size == 6, "all C(4,2) pairs present, incl. disjoint ones")
    assert(out(("s1", "s2")) == (2L, 2L, 2L, 1.0), "identical vocabularies -> 1")
    assert(out(("s1", "s3")) == (2L, 3L, 0L, 0.0), "disjoint -> 0, pair still emitted")
    // s1 {a,b} vs s4 {a,d}: |inter|=1, |union|=3
    assert(out(("s1", "s4")) == (2L, 2L, 1L, math.round(1e6 / 3.0) / 1e6))
    assert(out.values.forall { case (_, _, _, j) => j >= 0.0 && j <= 1.0 })
  }

  test("zipf/heaps: hand-computed two-point fit, uniform corpus slope 0, beta in (0,1]") {
    import spark.implicits._
    def r4(x: Double) = math.round(x * 10000) / 10000.0
    // corpus {a:4, b:2}: ranks (1,ln4) (2,ln2) -> slope =
    // (ln4-ln2)/(ln1-ln2) = -1 exactly; vocab=2, tokens=6
    val docs = Seq(("d1", "a a a a b b")).toDF("doc_id", "text")
    val row = Distrib.zipfHeaps(docs).collect().head
    assert(row.getLong(0) == 2L && row.getLong(1) == 6L)
    assert(row.getDouble(2) == -1.0, "two-point ln-ln fit is exact")
    assert(row.getDouble(3) == r4(math.log(2.0) / math.log(6.0)))
    // uniform frequencies -> y constant -> slope exactly 0
    val flat = Seq(("d1", "a b c d")).toDF("doc_id", "text")
    val fr = Distrib.zipfHeaps(flat).collect().head
    assert(fr.getDouble(2) == 0.0 && fr.getDouble(3) > 0.0 && fr.getDouble(3) <= 1.0)
    // topN caps the fit head without touching vocab/token totals
    val capped = Distrib.zipfHeaps(docs, topN = 2).collect().head
    assert(capped.getLong(0) == 2L && capped.getLong(1) == 6L)
  }
}
