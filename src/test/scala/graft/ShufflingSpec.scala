package graft

import graft.ops.{Sampling, Shuffling}
import org.apache.spark.GraftFaults
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ShufflingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-shuffling")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("prefix form == naive global window; permutation; balanced shards; parts-invariant") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val n = 5003L
    val shards = 7
    val df = (0L until n).toDF("doc_id")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(Sampling.detRank(col("doc_id")), col("doc_id"))
    val naive = df
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .withColumn("shard", pmod(col("pos"), lit(shards.toLong)).cast("int"))
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    for (parts <- Seq(1, 4, 13)) {
      val got = Shuffling.deterministicShuffle(df, shards, parts = parts)
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      assert(got == naive, s"parts=$parts diverged from the naive global window")
    }
    // pos is a permutation of 0..n-1 and shard sizes differ by <= 1
    val poss = naive.map(_(1).asInstanceOf[Long]).sorted
    assert(poss == (0L until n))
    val sizes = naive.groupBy(_(2)).values.map(_.size)
    assert(sizes.max - sizes.min <= 1)
    // the order is a real shuffle, not id order
    assert(naive.map(_(1).asInstanceOf[Long]).take(20) != (0L until 20L).toSeq)
  }

  test("globalRank recomputes lost pinned blocks: every pos still equals the naive row_number") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val sc = spark.sparkContext
    val df = (0L until 30000L).toDF("doc_id")
      .withColumn("__r", Sampling.detRank(col("doc_id")))
    val order = Seq(col("__r"), col("doc_id"))
    val naive = df.withColumn("pos", row_number().over(Window.orderBy(order: _*)).cast("long") - 1)
      .select(col("doc_id"), col("pos")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = sc.getPersistentRDDs.keySet.toSet
    val ranked = Shuffling.globalRank(df, order, parts = 16)
    val pins = sc.getPersistentRDDs.keySet.toSet -- before
    assert(pins.nonEmpty, "the range partitioning is pinned")
    // the totals job has run on the driver; lose every pinned block
    // before the output job reads them
    pins.foreach(GraftFaults.dropBlocks)
    val got = ranked.select(col("doc_id"), col("pos")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive)
    pins.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }
}
