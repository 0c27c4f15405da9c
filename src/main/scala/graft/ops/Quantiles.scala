package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Quantiles at corpus scale, two regimes:
  *
  *  - [[exactIntQuantiles]]: EXACT percentiles of an integer-valued
  *    metric (token counts, char lengths, span counts) whose DOMAIN is
  *    bounded even when the row count isn't — the 10^12-row shape is a
  *    value-domain histogram (one map-side-combine hash agg, state =
  *    distinct values), never a global sort.
  *  - [[DdHistogram]]: a DDSketch-style mergeable log-bucket sketch for
  *    unbounded / real-valued metrics, with a relative-error GUARANTEE
  *    (est within alpha of the true quantile value) and EXACT
  *    partitioning invariance (bucket index is a pure function of the
  *    value; merge is counter addition — unlike Misra-Gries there is
  *    no arrival-order dependence at all).
  *
  * Probabilities are taken as integer PER-MILLE (500 = median) so the
  * rank rule is pure integer arithmetic — rank = ceil(pm * n / 1000)
  * computed as (pm*n + 999) div 1000 — and any engine reproduces the
  * selection bit-for-bit (no 0.9*n floating-point boundary to disagree
  * on). This is percentile_disc semantics: the smallest value whose
  * cumulative count reaches the rank.
  */
object Quantiles {

  /** Exact per-mille quantiles of `valueCol` (cast to LONG) per group.
    *
    * Plan shape: groupBy(keys :+ value).count is the ONLY input-sized
    * aggregation; the cumulative walk is a window over the per-group
    * DISTINCT VALUES (domain-sized — thousands of rows for any real
    * length metric, one task per group key, NOT per input row). With
    * no `keys` the window is a single task over the global value
    * domain — intentional and bounded, the domain is the state.
    *
    * Output: keys ++ (permille INT, rank BIGINT, value BIGINT),
    * one row per (group, permille).
    */
  def exactIntQuantiles(df: DataFrame, valueCol: String, permille: Seq[Int],
                        keys: Seq[String] = Nil): DataFrame = {
    require(permille.nonEmpty && permille.forall(p => p >= 1 && p <= 1000),
      "permille values must be in [1, 1000]")
    val spark = df.sparkSession
    import spark.implicits._
    val kc = keys.map(col)
    val hist = df
      .select((kc :+ col(valueCol).cast("long").as("__v")): _*)
      .where(col("__v").isNotNull)
      .groupBy((kc :+ col("__v")): _*).agg(count(lit(1)).as("__c"))
    val w = if (keys.isEmpty) Window.orderBy(col("__v"))
            else Window.partitionBy(kc: _*).orderBy(col("__v"))
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(
        if (keys.isEmpty) Window.partitionBy()
        else Window.partitionBy(kc: _*)))
    val ps = permille.distinct.sorted.toDF("permille")
    cum.crossJoin(broadcast(ps))
      .withColumn("rank",
        expr("CAST((permille * __n + 999) DIV 1000 AS BIGINT)"))
      .where(col("__cum") >= col("rank"))
      .groupBy((kc ++ Seq(col("permille"), col("rank"))): _*)
      .agg(min(col("__v")).as("value"))
  }

  /** DDSketch-style quantile histogram: values bucket at
    * i = ceil(ln(v) / ln(gamma)) with gamma = (1+alpha)/(1-alpha), so
    * any value in bucket i lies within relative error alpha of the
    * bucket estimate 2*gamma^i/(gamma+1). State is O(log_gamma(max/min))
    * counters per group regardless of input size; non-positive values
    * count into a dedicated underflow bucket (estimate 0.0).
    *
    * The sketch map is a pure function of the multiset of values —
    * reduce and merge are counter addition — so the buffer (not just
    * the estimate) is identical under any partitioning (spec-asserted).
    */
  class DdHistogram(alpha: Double) extends Aggregator[Double, Map[Int, Long], Map[Int, Long]]
      with Serializable {
    require(alpha > 0.0 && alpha < 1.0, "alpha in (0, 1)")
    private val lnGamma = math.log((1.0 + alpha) / (1.0 - alpha))

    def bucketOf(v: Double): Int =
      if (v <= 0.0 || v.isNaN) Int.MinValue
      else math.ceil(math.log(v) / lnGamma).toInt

    override def zero: Map[Int, Long] = Map.empty

    override def reduce(m: Map[Int, Long], v: Double): Map[Int, Long] = {
      val b = bucketOf(v)
      m.updated(b, m.getOrElse(b, 0L) + 1L)
    }

    override def merge(a: Map[Int, Long], b: Map[Int, Long]): Map[Int, Long] =
      (a.keySet ++ b.keySet).iterator
        .map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

    override def finish(m: Map[Int, Long]): Map[Int, Long] = m

    override def bufferEncoder: Encoder[Map[Int, Long]] =
      ExpressionEncoder[Map[Int, Long]]()
    override def outputEncoder: Encoder[Map[Int, Long]] =
      ExpressionEncoder[Map[Int, Long]]()
  }

  /** Quantile estimate from a [[DdHistogram]] sketch at integer
    * per-mille rank (same ceil-rank rule as [[exactIntQuantiles]]).
    * Returns 0.0 when the rank lands in the underflow bucket; the
    * relative-error guarantee |est - true| <= alpha * true holds for
    * every positive true value.
    */
  def ddQuantile(sketch: Map[Int, Long], alpha: Double, pm: Int): Double = {
    require(pm >= 1 && pm <= 1000, "permille in [1, 1000]")
    val gamma = (1.0 + alpha) / (1.0 - alpha)
    val n = sketch.valuesIterator.sum
    if (n == 0L) return Double.NaN
    val rank = (pm * n + 999L) / 1000L
    var cum = 0L
    for ((b, c) <- sketch.toSeq.sortBy(_._1)) {
      cum += c
      if (cum >= rank)
        return if (b == Int.MinValue) 0.0
               else 2.0 * math.pow(gamma, b) / (gamma + 1.0)
    }
    Double.NaN // unreachable: cum reaches n >= rank
  }

  /** Robust per-slice outlier audit: median + MAD (median absolute
    * deviation) of an integer metric, and the count of rows whose
    * |x - median| exceeds 3 * MAD — the heavy-tail-safe sibling of
    * a mean/stddev z-score (one whale document cannot move either
    * statistic). percentile_disc medians via [[exactIntQuantiles]],
    * so every statistic is an actual data value and the whole result
    * is integer-exact (cross-engine hash-safe; the only arithmetic is
    * subtraction, abs, and integer comparison — `outlier_ppm` uses
    * integer DIV, no float division anywhere).
    *
    * Scale shape: three corpus passes, inherent to exact MAD — the
    * median must exist before deviations can (pass 1 histogram,
    * pass 2 deviation histogram, pass 3 outlier count); each is one
    * hash aggregation, and both cumulative walks are domain-sized.
    * The per-slice medians table is slice-bounded and broadcast into
    * the deviation and count passes. MAD = 0 (>= half the slice sits
    * at the median) makes every x != median an outlier under the
    * strict > rule — intentional: a degenerate slice SHOULD light up.
    */
  def madOutliers(df: DataFrame, valueCol: String, sliceCol: String): DataFrame = {
    val base = df.select(col(sliceCol), col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
    val med = exactIntQuantiles(base, "__v", Seq(500), keys = Seq(sliceCol))
      .select(col(sliceCol), col("value").as("median"))
    val dev = base.join(broadcast(med), Seq(sliceCol))
      .withColumn("__d", abs(col("__v") - col("median")))
    val mad = exactIntQuantiles(
        dev.select(col(sliceCol), col("__d")), "__d", Seq(500),
        keys = Seq(sliceCol))
      .select(col(sliceCol), col("value").as("mad"))
    val stats = med.join(mad, Seq(sliceCol))
    base.join(broadcast(stats), Seq(sliceCol))
      .groupBy(col(sliceCol), col("median"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("__v") - col("median")) > lit(3L) * col("mad"),
          1L).otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_ppm",
        expr("CAST((n_outliers * 1000000) DIV n AS BIGINT)"))
      .select(col(sliceCol), col("median"), col("mad"), col("n"),
        col("n_outliers"), col("outlier_ppm"))
  }

  /** Exact trimmed mean per group — the robust location estimate
    * between the mean (skew-poisoned) and the median (throws away
    * 100% of the shape): drop the lowest and highest
    * k = n·trimPermille DIV 1000 values, average the rest. Runs on
    * the q66 value-domain histogram, so the only input-sized work is
    * the (group, value) count agg; each distinct value v with count c
    * occupying cumulative ranks (cum−c, cum] contributes
    * kept = clamp(min(cum, n−k) − max(cum−c, k), ≥0) copies to the
    * kept band [k+1, n−k]. The numerator Σ v·kept is INTEGER-exact
    * (Σ v·kept ≤ max|v|·n must fit LONG — fine for any length-ish
    * metric; ANSI raises rather than wrapping if not), one division
    * at the end, round(6). Groups with n − 2k ≤ 0 report NULL.
    */
  def trimmedMean(df: DataFrame, valueCol: String, keys: Seq[String],
                  trimPermille: Int = 100): DataFrame = {
    require(trimPermille >= 0 && trimPermille < 500,
      "trimPermille must be in [0, 500) — trimming half from each end leaves nothing")
    val kc = keys.map(col)
    val hist = df
      .select((kc :+ col(valueCol).cast("long").as("__v")): _*)
      .where(col("__v").isNotNull)
      .groupBy((kc :+ col("__v")): _*).agg(count(lit(1)).as("__c"))
    val wOrd =
      if (keys.isEmpty) Window.orderBy(col("__v"))
      else Window.partitionBy(kc: _*).orderBy(col("__v"))
    val wAll =
      if (keys.isEmpty) Window.partitionBy()
      else Window.partitionBy(kc: _*)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(wOrd))
      .withColumn("n", sum(col("__c")).over(wAll))
      .withColumn("__k",
        expr(s"CAST((n * $trimPermille) DIV 1000 AS BIGINT)"))
      .withColumn("__kept", greatest(
        least(col("__cum"), col("n") - col("__k")) -
          greatest(col("__cum") - col("__c"), col("__k")),
        lit(0L)))
    cum.groupBy((kc ++ Seq(col("n"), col("__k"))): _*)
      .agg(sum(col("__v") * col("__kept")).as("__num"))
      .select((kc ++ Seq(col("n"), col("__k").as("k_trimmed"),
        round(when(col("n") - lit(2L) * col("__k") > 0L,
            col("__num").cast("double") /
              (col("n") - lit(2L) * col("__k")).cast("double")), 6)
          .as("trimmed_mean"))): _*)
  }
}
