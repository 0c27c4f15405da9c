package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference itself has no streaming
  * (SURVEY.md §2.8) — its closest analogs are the async worker queue
  * (micro-batching, `app2.py:164-195`) and TTL caches (state eviction,
  * `app2.py:120-161`). These jobs provide the streaming counterparts a
  * production extraction pipeline needs: watermarked event-time window
  * aggregation and TTL session state via flatMapGroupsWithState (the
  * principled form of SESSION_TIMEOUT eviction, `app.py:282-304`).
  *
  * Each has a batch-equivalent used for verification: the streaming
  * query over a bounded source must agree with the batch aggregation.
  */
object StreamingJobs {

  /** Batch-equivalent of the windowed aggregation (also the DuckDB
    * oracle shape): hourly tumbling counts + value sums per event_type.
    */
  def hourlyBatch(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> LTZ (UTC session)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  /** Streaming form: event-time tumbling window + watermark. */
  def hourlyStreaming(spark: SparkSession, sourceDir: String,
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .withColumn("ts", col("ts").cast("timestamp")) // watermark needs LTZ
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Streaming exact dedup: keep the first occurrence per normalized
    * content fingerprint with BOUNDED state —
    * `dropDuplicatesWithinWatermark` expires fingerprints once the
    * event-time watermark passes them (the streaming form of
    * [[graft.ops.Dedup.exact]], and the principled analog of the
    * reference's TTL'd OCR cache, `app2.py:120-161`: entries are
    * remembered exactly as long as a duplicate could still arrive).
    */
  def dedupStreaming(docs: DataFrame, textCol: String = "text",
                     horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("h", graft.ops.Dedup.fingerprint(col(textCol)))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("h")

  /** Streaming form of the FLAGSHIP extraction (span level): documents
    * arrive as a file-source stream, media is the STATIC side of a
    * stream-static join (the right scale shape — the media corpus is a
    * lookup side, the documents flow). Fully append-mode stateless:
    * explode + text branch are the same shared stages as the batch job
    * ([[graft.pipe.ExtractJob.explodedSpans]]/`textBranch`); the media
    * branch joins bytes and OCRs in `mapPartitions` with the batch
    * form's kernel ([[graft.pipe.ExtractJob.ocrKernel]]: per-executor
    * engine pool, per-task content-hash memo — the
    * streaming analog of the reference's TTL OCR cache: repeated
    * content inside a micro-batch decodes once per task; batch mode
    * keeps the stronger global decode-once via its content-hash
    * shuffle, which streaming trades away to stay stateless).
    *
    * Per-row output is IDENTICAL to the batch `extractSpans` for the
    * same input (decode is deterministic; memoization is only perf) —
    * StreamingSpec asserts stream==batch on the fixture corpus.
    */
  def extractSpansStreaming(spark: SparkSession, docsDir: String,
                            docsSchema: org.apache.spark.sql.types.StructType,
                            media: DataFrame,
                            cfg: graft.pipe.ExtractJob.Config =
                              graft.pipe.ExtractJob.Config()): DataFrame = {
    import spark.implicits._
    import graft.pipe.ExtractJob
    // the batch form's plan-time check: a bad config throws on the
    // driver, not as per-task failures in every micro-batch
    ExtractJob.checkConfig(cfg)
    val docs = spark.readStream.schema(docsSchema).parquet(docsDir)
    val exploded = ExtractJob.explodedSpans(docs)
    val textOut = ExtractJob.textBranch(exploded)

    val mediaOut = exploded
      .filter($"kind" === "media")
      .select($"doc_id", $"kind", $"media_ref", $"offset")
      .join(media.filter(length($"bytes") <= cfg.maxMediaBytes), Seq("media_ref"), "left")
      .select($"doc_id", $"media_ref", $"offset", $"bytes", ExtractJob.contentHash)
      // Option[Int], not Int: a null span offset (nullable in parquet)
      // must flow through like the batch path does, not kill the
      // micro-batch in the deserializer
      .as[(String, String, Option[Int], Array[Byte], String)]
      .mapPartitions { it =>
        val ocr = ExtractJob.ocrKernel(cfg)
        it.map { case (docId, ref, offset, bytes, h) =>
          val (text, conf) =
            if (bytes == null) ("", 0.0) // dangling ref: empty span, conf 0
            else ocr(h, bytes)
          (docId, "media", text, ref, offset, conf)
        }
      }
      .toDF("doc_id", "kind", "text", "media_ref", "offset", "confidence")

    textOut.unionByName(mediaOut)
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)
  final case class SessionAgg(user_id: Long, n_events: Long, total_value: Double,
                              first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)

  final val SESSION_GAP_MS: Long = 30L * 60 * 1000 // SESSION_TIMEOUT, app.py:238

  /** Session state: accumulate per-user activity, close a session after
    * 30 minutes of inactivity — the SESSION_TIMEOUT analog. Gaps are
    * split both ACROSS batches (event-time timeout) and WITHIN a batch
    * (sort + gap scan), so session boundaries don't depend on how the
    * source happens to micro-batch.
    */
  def sessionize(events: org.apache.spark.sql.Dataset[Event]): org.apache.spark.sql.Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAgg, SessionAgg](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            Iterator.single(out)
          } else {
            val evs = it.toSeq.sortBy(_.ts.getTime)
            if (evs.isEmpty) Iterator.empty
            else {
              val closed = scala.collection.mutable.ArrayBuffer.empty[SessionAgg]
              var cur = state.getOption.orNull
              evs.foreach { e =>
                if (cur == null)
                  cur = SessionAgg(uid, 1L, e.value, e.ts, e.ts)
                else {
                  val t = e.ts.getTime
                  if (t - cur.last_ts.getTime > SESSION_GAP_MS) {
                    closed += cur
                    cur = SessionAgg(uid, 1L, e.value, e.ts, e.ts)
                  } else if (t < cur.first_ts.getTime - SESSION_GAP_MS) {
                    // late-but-in-watermark straggler gapped BEFORE the
                    // open session: its own closed session, never a
                    // merge (matching the globally-sorted batch twin)
                    closed += SessionAgg(uid, 1L, e.value, e.ts, e.ts)
                  } else {
                    // merge without letting a late event move the
                    // session bounds backward: last_ts must stay the
                    // MAX seen or the next on-time event measures its
                    // gap against a rewound clock and splits spuriously
                    cur = cur.copy(n_events = cur.n_events + 1,
                      total_value = cur.total_value + e.value,
                      first_ts = if (t < cur.first_ts.getTime) e.ts else cur.first_ts,
                      last_ts = if (t > cur.last_ts.getTime) e.ts else cur.last_ts)
                  }
                }
              }
              state.update(cur)
              // clamp to strictly after the current event-time watermark:
              // a micro-batch delivering only late events for a group
              // (flatMapGroupsWithState does not pre-filter late rows)
              // would otherwise compute a timeout below the watermark and
              // Spark fails the query with IllegalArgumentException.
              state.setTimeoutTimestamp(math.max(
                cur.last_ts.getTime + SESSION_GAP_MS,
                state.getCurrentWatermarkMs() + 1))
              closed.iterator
            }
          }
      }
  }
}
