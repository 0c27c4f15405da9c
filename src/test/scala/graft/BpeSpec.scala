package graft

import graft.ops.Bpe
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-bpe")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // the Sennrich et al. 2016 worked example, frequencies included
  private val head = Array(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("learnMerges reproduces the hand-computed merge sequence (lexicographic tie rule)") {
    val m = Bpe.learnMerges(head, merges = 6, minPair = 2L)
    // hand-derived: (e,s)=9; (es,t)=9; (est,</w>)=9; (l,o)=7; (lo,w)=7;
    // then the 6-count tie {(e,w),(n,e),(w,est</w>)} -> (e,w) by lex rule
    assert(m.toSeq == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "est", Bpe.EndOfWord, "est" + Bpe.EndOfWord, 9L),
      (4, "l", "o", "lo", 7L),
      (5, "lo", "w", "low", 7L),
      (6, "e", "w", "ew", 6L)))
  }

  test("minPair floor stops learning; merge pass is left-to-right non-overlapping") {
    val m = Bpe.learnMerges(head, merges = 100, minPair = 8L)
    assert(m.length == 3 && m.forall(_._5 >= 8L), "only the count-9 merges survive the floor")
    // aab with ab->X must give aX (never Xb): merge right-anchored pair
    assert(Bpe.mergePair(Array("a", "a", "b"), "a", "b").toSeq == Seq("a", "ab"))
    // overlapping run aaa with aa->X: leftmost wins, remainder stays
    assert(Bpe.mergePair(Array("a", "a", "a"), "a", "a").toSeq == Seq("aa", "a"))
  }

  test("encodeWord generalizes learned merges to an UNSEEN word") {
    val table = Bpe.learnMerges(head, merges = 6, minPair = 2L).map(m => (m._2, m._3))
    // "lowest" never appears in the head; its pieces do
    assert(Bpe.encodeWord("lowest", table).toSeq == Seq("low", "est" + Bpe.EndOfWord))
    assert(Bpe.encodeWord("low", table).toSeq == Seq("low", Bpe.EndOfWord))
  }

  test("trainBpe (Spark) == learnMerges on the same corpus; bpeTokenCounts applies the table") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // a corpus whose word counts reproduce the head exactly
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq(("d1", text)).toDF("doc_id", "text")
    val got = Bpe.trainBpe(docs, merges = 6, vocabCap = 100)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Bpe.learnMerges(head, 6, 2L).toSeq)
    // counts: low -> [low, </w>] (2), lowest -> [low, est</w>] (2)
    val table = Bpe.trainBpe(docs, merges = 6, vocabCap = 100)
    val counts = Bpe.bpeTokenCounts(
        Seq(("a", "low lowest"), ("b", ""), ("c", null.asInstanceOf[String])).toDF("doc_id", "text"),
        table)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 4L, "b" -> 0L, "c" -> 0L))
  }
}
