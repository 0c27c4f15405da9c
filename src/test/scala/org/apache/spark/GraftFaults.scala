package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Fault injection for the pin tests. The block manager master is
  * `private[spark]`, so the helper lives inside the package.
  */
object GraftFaults {

  /** Drop every cached block of an RDD, as losing the executors that
    * held them would; the RDD stays registered as persisted.
    */
  def dropBlocks(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)

  /** Ids of the persisted RDDs `df` still reads: the pinned RDDs at its
    * plan's leaves and every persisted RDD in their lineage.
    */
  def pinsRead(df: DataFrame): Set[Int] = {
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs.keySet
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => walk(l.rdd)
      case _ => ()
    }
    seen.toSet.intersect(persisted.toSet)
  }
}
