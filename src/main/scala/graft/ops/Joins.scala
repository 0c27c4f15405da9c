package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join shapes Spark lacks natively — as-of join and range join — in
  * their corpus-scale forms. Both avoid the inequality-join explosion
  * (Catalyst plans a raw `l.t >= r.t` theta join as a per-key nested
  * loop): as-of is ONE key-partitioned window pass over the tagged
  * union of both sides; range join replicates each interval only to
  * the time buckets it covers so the sole shuffle is an equi-join on
  * (key, bucket).
  */
object Joins {

  /** As-of join: for each left row, the single most recent right row
    * with right time <= left time on the same key (DuckDB/kdb ASOF
    * semantics — a right row at exactly the left time matches).
    *
    * Union-window form: tag sides (right sorts before left at equal
    * time), one running `last(payload, ignoreNulls)` window carries
    * the latest right payload forward, keep the left rows. One
    * shuffle on the key, one sort — no inequality join. Determinism
    * requires (key, time) unique per side (ties would make "the"
    * most-recent row ambiguous — same caveat as any ASOF engine).
    *
    * SKEW caveat (inherent to ASOF on any engine): the running window
    * is per-key sequential, so one pathological key holding a large
    * share of the rows serializes into a single task. When the key
    * distribution is unknown, run
    * [[graft.ops.Sketches.keySkewAudit]] first (O(k) state, two
    * scans) and split/quarantine the reported keys — time-range
    * pre-bucketing with boundary stitching is the standard split.
    *
    * Output: all left columns + `asof_time_us` + each requested right
    * payload column prefixed `asof_` (all null when no prior right
    * row exists).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightPayload: Seq[String]): DataFrame = {
    val reserved = left.columns.filter(c => c.startsWith("__") || c.startsWith("asof_"))
    require(reserved.isEmpty,
      s"asofJoin reserves '__*' and 'asof_*' column names; left side has: ${reserved.mkString(", ")}")
    val rUs = unix_micros(col(rightTime).cast("timestamp"))
    val payloadCols = rUs.as("asof_time_us") +:
      rightPayload.map(c => col(c).as(s"asof_$c"))
    // ASOF semantics: a right row with NULL key or NULL time never
    // matches anything (DuckDB/kdb: `l.t >= NULL` is false). Unfiltered
    // it would sort nulls-first and its non-null payload struct would
    // carry into every left row with no real prior match.
    val r = right
      .filter(col(key).isNotNull && col(rightTime).isNotNull)
      .select(Seq(col(key), rUs.as("__t"),
        struct(payloadCols: _*).as("__rp"), lit(0).as("__side")): _*)
    val l = left
      .withColumn("__t", unix_micros(col(leftTime).cast("timestamp")))
      .withColumn("__side", lit(1))
    val w = Window.partitionBy(col(key)).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outPayload = col("__last.asof_time_us") +:
      rightPayload.map(c => col(s"__last.asof_$c").as(s"asof_$c"))
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("__last", last(col("__rp"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++ outPayload: _*)
  }

  /** Skew-proof [[asofJoin]] — identical output, bounded tasks.
    *
    * The union-window form serializes a whale key into one task; this
    * form windows per (key, `bucketUs` time bucket) instead, so no
    * task holds more than one bucket of one key. Matches that cross a
    * bucket edge are preserved by a CARRY row per (key, left-bucket):
    * the latest right row strictly before the bucket start, placed at
    * the bucket start with a side tag sorting before any real right
    * at the same instant (a real right at exactly the bucket start
    * has time >= the carry's true time, so it correctly supersedes).
    *
    * The carry itself is computed skew-free: rights first collapse to
    * per-(key, bucket) latest rows (a hash AGGREGATE — map-side
    * combine absorbs a whale key), then one small union-window over
    * those aggregates and the left's distinct (key, bucket)s — per
    * key that is #buckets rows, bounded by time-span / bucketUs, not
    * by data volume. Three shuffles total (right agg, carry window,
    * main window), all on keys that include the bucket or operate on
    * bucket-granular rows.
    *
    * Same semantics and contracts as [[asofJoin]]: right time <= left
    * time, NULL right key/time never matches, (key, time) unique per
    * side for determinism.
    */
  def asofJoinSkewAware(left: DataFrame, right: DataFrame, key: String,
                        leftTime: String, rightTime: String,
                        rightPayload: Seq[String],
                        bucketUs: Long = 24L * 3600 * 1000 * 1000): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    val reserved = left.columns.filter(c => c.startsWith("__") || c.startsWith("asof_"))
    require(reserved.isEmpty,
      s"asofJoinSkewAware reserves '__*' and 'asof_*' column names; left side has: ${reserved.mkString(", ")}")
    def fdiv(c: org.apache.spark.sql.Column) =
      graft.util.SqlCols.floorDiv(c, bucketUs)
    val rUs = unix_micros(col(rightTime).cast("timestamp"))
    val payloadCols = rUs.as("asof_time_us") +:
      rightPayload.map(c => col(c).as(s"asof_$c"))
    val r = right
      .filter(col(key).isNotNull && col(rightTime).isNotNull)
      .select(Seq(col(key), rUs.as("__t"), struct(payloadCols: _*).as("__rp")): _*)
      .withColumn("__b", fdiv(col("__t")))
    // per-(key, bucket) latest right — an aggregate, whale-safe
    val rAgg = r.groupBy(col(key), col("__b"))
      .agg(max(col("__t")).as("__bt"), max_by(col("__rp"), col("__t")).as("__bp"))
    val l = left
      .withColumn("__t", unix_micros(col(leftTime).cast("timestamp")))
      .withColumn("__b", fdiv(col("__t")))
    // carry per (key, left bucket): latest bucket-aggregate strictly
    // before the bucket start (probe time bucketStart - 1), via the
    // same union-window trick over the SMALL per-bucket tables
    val cw = Window.partitionBy(col(key)).orderBy(col("__ct"), col("__cs"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = l.select(col(key), col("__b")).distinct()
      .withColumn("__ct", col("__b") * bucketUs - 1)
      .withColumn("__cs", lit(1))
      .unionByName(
        rAgg.select(col(key), col("__b"), col("__bt").as("__ct"),
          lit(0).as("__cs"), col("__bp")),
        allowMissingColumns = true)
      .withColumn("__carry", last(col("__bp"), ignoreNulls = true).over(cw))
      .filter(col("__cs") === 1 && col("__carry").isNotNull)
      .select(col(key), col("__b"), col("__carry"))
    // main pass: per (key, bucket) — carry (side -1) < rights (0) <
    // lefts (1) at equal time
    val carryRows = carry
      .select(col(key), col("__b"), (col("__b") * bucketUs).as("__t"),
        col("__carry").as("__rp"), lit(-1).as("__side"))
    val rRows = r.withColumn("__side", lit(0))
    val lRows = l.withColumn("__side", lit(1))
    val w = Window.partitionBy(col(key), col("__b")).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outPayload = col("__last.asof_time_us") +:
      rightPayload.map(c => col(s"__last.asof_$c").as(s"asof_$c"))
    lRows.unionByName(rRows, allowMissingColumns = true)
      .unionByName(carryRows, allowMissingColumns = true)
      .withColumn("__last", last(col("__rp"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++ outPayload: _*)
  }

  /** Range (interval-containment) join: points to the intervals
    * [startUs, endUs) that contain them, per key. `pointUs`,
    * `startUs`, `endUs` are epoch-micros LONG columns.
    *
    * Bucketed form: each interval replicates to the `bucketUs`-wide
    * buckets it covers (bounded by interval length / bucket width —
    * pick bucketUs near the typical interval length), each point
    * lives in exactly one bucket, so the shuffle is an equi-join on
    * (key, bucket) and every matched pair appears exactly once — no
    * post-join dedup. Integer bucket arithmetic (DIV), no float
    * boundaries.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, key: String,
                pointUs: String, startUs: String, endUs: String,
                bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    def fdiv(c: org.apache.spark.sql.Column) =
      graft.util.SqlCols.floorDiv(c, bucketUs)
    val p = points.withColumn("__bucket", fdiv(col(pointUs)))
    // empty/inverted intervals ([s, e) with e <= s) match nothing by
    // definition — and MUST be dropped before the explode: Spark's
    // sequence(from, to) steps -1 when from > to, so a corrupt
    // inverted interval would otherwise replicate into (s-e)/bucketUs
    // spurious bucket rows
    val i = intervals
      .filter(col(endUs) > col(startUs))
      .withColumn("__bucket",
        explode(sequence(fdiv(col(startUs)), fdiv(col(endUs) - 1))))
    p.join(i, Seq(key, "__bucket"))
      .filter(col(pointUs) >= col(startUs) && col(pointUs) < col(endUs))
      .drop("__bucket")
  }

  /** Bloom-filter-accelerated semi-join on an integral key — the
    * middle regime between broadcast-hash (dim side fits in executor
    * memory as a HASH RELATION) and plain shuffle semi-join (it
    * doesn't fit anywhere): a 10^9-key dim side at 1% fpp is ~1.2 GB
    * of bloom BITS — broadcastable — so the fact side is pre-filtered
    * MAP-SIDE and only the ~selectivity + fpp fraction ever reaches
    * the shuffle. The exact shuffle semi-join on the survivors then
    * removes the false positives, so the RESULT is exactly the plain
    * semi-join (bloom superset property); the bloom only cuts shuffle
    * volume, never changes semantics — which is what makes this
    * operator DuckDB-oracleable against `WHERE key IN (SELECT ...)`.
    *
    * This is Spark's own runtime row-level bloom injection
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) made
    * explicit, sized by the caller, and independent of optimizer
    * heuristics. The probe is a driver-built
    * `org.apache.spark.util.sketch.BloomFilter` broadcast to
    * executors; the per-row probe is a few xxhash rounds — off the
    * codegen path but far cheaper than the shuffle bytes it saves.
    * Construction is one treeAggregate over the dim side (merging
    * ~GB bitmaps up the tree — a one-off, amortized over the join).
    *
    * `expectedKeys` sizes the filter: undersizing inflates fpp (more
    * survivors shuffle — still correct); at 10^12-scale pass the dim
    * side's known cardinality or a KMV estimate
    * ([[graft.ops.Sketches]]).
    */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    expectedKeys: Long = 1000000L): DataFrame = {
    // concrete-type membership, not typeName: IntegerType.typeName is
    // "integer" ("int" is only its simpleString), so a name list
    // silently rejects int32 parquet keys
    val keyType = fact.schema(factKey).dataType
    require(Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
        .contains(keyType),
      s"bloomSemiJoin requires an integral key; $factKey is ${keyType.typeName}")
    val bf = dim.stat.bloomFilter(col(dimKey).cast("long"), expectedKeys, 0.01)
    val bc = fact.sparkSession.sparkContext.broadcast(bf)
    val might = udf((v: java.lang.Long) => v != null && bc.value.mightContainLong(v))
    fact
      .filter(col(factKey).isNotNull && might(col(factKey).cast("long")))
      .join(dim.select(col(dimKey).cast("long").as("__dk")).distinct(),
        col(factKey).cast("long") === col("__dk"), "left_semi")
  }
}
