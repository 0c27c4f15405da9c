package graft

import graft.ops.Graph
import graft.util.Pin
import org.apache.spark.{GraftFaults, SparkException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-graph")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Independent scalar reference of the exact documented semantics
    * (same per-round round(10), same dangling redistribution).
    */
  private def ref(edges: Seq[(String, String)], iters: Int,
                  d: Double): Map[String, Double] = {
    def r10(x: Double) = math.round(x * 1e10) / 1e10
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> r10(1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(outdeg.contains).map(r).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / outdeg(u) }.sum).toMap
      r = nodes.map(v => v ->
        r10((1.0 - d) / n + d * (in.getOrElse(v, 0.0) + dm / n))).toMap
    }
    r.map { case (k, v) => k -> (math.round(v * 1e8) / 1e8) }
  }

  test("pageRank == the scalar reference on a dangling-node graph; mass conserved; sink ranks highest") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // a -> b, a -> c, b -> c; c dangles (mass recycles uniformly)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"))
    val got = Graph.pageRank(edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == ref(edges, 3, 0.85))
    assert(math.abs(got.values.sum - 1.0) < 1e-6,
      "dangling redistribution conserves total mass")
    assert(got("c") > got("b") && got("b") > got("a"))
  }

  test("pageRank: parallel edges carry double mass; partitioning-invariant") {
    import spark.implicits._
    // b receives a's mass twice vs c once: contribution sums per edge
    val edges = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
    val got = Graph.pageRank(edges.toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == ref(edges, 4, 0.85))
    assert(got("b") > got("c"))
    val rep = Graph.pageRank(edges.toDF("src", "dst").repartition(7), iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rep == got, "per-round rounding pins the result under any partitioning")
  }

  test("pageRank and connectedComponents leave pinned only the pins their results read") {
    import spark.implicits._
    val sc = spark.sparkContext
    def leftPinned(run: => org.apache.spark.sql.DataFrame) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = run
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    // the edge and degree pins and every superseded round are released:
    // only the last round's truncated pin remains
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"))
    val (ranks, rankPins) = leftPinned(Graph.pageRank(edges.toDF("src", "dst"), iters = 5))
    assert(rankPins.size == 1 && rankPins == GraftFaults.pinsRead(ranks), s"left pinned: $rankPins")
    assert(ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap == ref(edges, 5, 0.85))
    // a diameter-9 path: ten label rounds, one pin left
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (cc, ccPins) = leftPinned(
      graft.ops.Dedup.connectedComponents(path, (0L to 9L).toDF("doc_id")))
    assert(ccPins.size == 1 && ccPins == GraftFaults.pinsRead(cc), s"left pinned: $ccPins")
    assert(cc.collect().map(_.getLong(1)).toSet == Set(0L))
    (rankPins ++ ccPins).foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  test("Pin.truncate: lost blocks fail the read with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; Pin.once recomputes") {
    import spark.implicits._
    val sc = spark.sparkContext
    val agg = (0L until 2000L).toDF("k")
      .groupBy((col("k") % 37).as("g")).agg(sum(col("k")).as("s"))
    val want = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cut = Pin.truncate(agg)
    val kept = Pin.once(agg)
    val pins = Seq(cut, kept).flatMap(GraftFaults.pinsRead)
    pins.foreach(GraftFaults.dropBlocks)
    assert(kept.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
    // a truncated frame has no lineage to recompute from: the read must
    // fail, never return other rows
    val err = intercept[SparkException](cut.collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), err.getMessage)
    Pin.release(cut)
    Pin.release(kept)
  }
}
