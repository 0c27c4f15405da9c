package graft.ops

import graft.util.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph rank propagation — the web-curation side of the graph
  * family ([[Dedup.connectedComponents]] is the dedup side): a
  * domain/page authority score for harvest prioritization and
  * spam-demotion, PageRank with the standard damping + dangling-mass
  * redistribution, run for a FIXED number of power iterations (the
  * production form at web scale: convergence checks cost a pass each
  * and the downstream consumer wants a stable, reproducible score,
  * not a fixpoint certificate).
  *
  * Exact reference semantics per iteration (N = |nodes|, d = damping):
  *
  *   r'(v) = (1-d)/N + d * ( sum over in-edges (u,v) of r(u)/outdeg(u)
  *                           + sum over dangling u of r(u)/N )
  *
  * Cross-engine determinism: every iteration rounds to 10 decimals —
  * the per-node in-edge sums are the only order-sensitive float work
  * (ulp-level), and the per-round round re-agrees both engines before
  * drift can compound; ranks are O(1)-magnitude so round(10) is far
  * below signal. Output rounds to 8.
  *
  * Scale shape: outdeg is one edge aggregation; each iteration is one
  * contribution join (edges x ranks, shuffle on node key) + one
  * node-keyed aggregation + two O(1) broadcast scalars (N, dangling
  * mass). Each round's ranks are a [[Pin.truncate]] that releases the
  * round before, and the edge and degree frames every round reads are
  * truncated too (the [[Dedup.connectedComponents]] pattern). Skew
  * note: a mega-hub's in-edge sum serializes one reducer; pre-aggregate
  * per (dst, salt) upstream if a node's in-degree approaches partition
  * scale.
  */
object Graph {

  /** @param edges (src, dst) directed edges, duplicates allowed
    *              (parallel edges each carry mass, matching the sum
    *              semantics above).
    */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters >= 1")
    val damping = 0.85
    // e and base are read by every round
    val e = Pin.truncate(edges.select(col("src"), col("dst")))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // nodes with outdeg joined once; dangling = null outdeg
    val base = nodes.join(outdeg, nodes("node") === outdeg("src"), "left")
      .select(col("node"), col("outdeg"))
      .transform(Pin.truncate)
    val nNodes = base.count().toDouble
    // outdeg rides the rank frame across rounds, so no round re-joins
    // the degree table; the new-rank join is keyed on `base` so nodes
    // with no inbound edges still receive the teleport + dangling mass
    var ranks = base.select(col("node"), col("outdeg"),
        round(lit(1.0) / lit(nNodes), 10).as("rank"))
    var it = 0
    while (it < iters) {
      val dangling = ranks.filter(col("outdeg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      val contrib = ranks.filter(col("outdeg").isNotNull)
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__in"))
      val next = base
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("outdeg"),
          round(lit((1.0 - damping) / nNodes) +
            lit(damping) * (coalesce(col("__in"), lit(0.0)) +
              col("__dm") / lit(nNodes)), 10).as("rank"))
        .transform(Pin.truncate)
      Pin.release(ranks)
      ranks = next
      it += 1
    }
    Pin.release(e)
    Pin.release(base)
    ranks.select(col("node"), round(col("rank"), 8).as("rank"))
  }
}
