package graft

import graft.streaming.StreamingJobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-stream")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("sessionization: 30-min inactivity splits sessions; totals preserved") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    // user 1: two bursts separated by > 30 min -> 2 sessions
    // user 2: one burst -> 1 session
    val events = Seq(
      StreamingJobs.Event(1L, ts(0), "click", 1.0),
      StreamingJobs.Event(1L, ts(5), "click", 2.0),
      StreamingJobs.Event(1L, ts(60), "click", 4.0),
      StreamingJobs.Event(1L, ts(62), "buy", 8.0),
      StreamingJobs.Event(2L, ts(10), "click", 16.0),
      // watermark driver: a late-enough event to close everything
      StreamingJobs.Event(99L, ts(600), "tick", 0.0))

    val dir = java.nio.file.Files.createTempDirectory("graft-sess")
    events.toDS().repartition(1).write.mode("overwrite").parquet(s"$dir/in")

    val src = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingJobs.Event]].schema)
      .parquet(s"$dir/in")
      .as[StreamingJobs.Event]
    val q = StreamingJobs.sessionize(src)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .start()
    q.processAllAvailable()
    q.stop()

    val out = spark.sql("SELECT * FROM sessions ORDER BY user_id, first_ts").collect()
    // user 99's session never times out (no later watermark) — expect
    // user 1 x2 and user 2 x1 emitted
    val u1 = out.filter(_.getLong(0) == 1L)
    val u2 = out.filter(_.getLong(0) == 2L)
    assert(u1.length == 2, s"user1 sessions: ${u1.length}")
    assert(u1(0).getLong(1) == 2L && u1(0).getDouble(2) == 3.0) // burst 1: 2 events, 1+2
    assert(u1(1).getLong(1) == 2L && u1(1).getDouble(2) == 12.0) // burst 2: 4+8
    assert(u2.length == 1 && u2(0).getLong(1) == 1L && u2(0).getDouble(2) == 16.0)
  }

  test("cross-batch late event merges without rewinding the session clock") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingJobs.Event](
      spark)
    val q = StreamingJobs.sessionize(src.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("late_sessions")
      .start()
    try {
      // batch 1: on-time event at min 60 -> watermark advances to min 0
      src.addData(StreamingJobs.Event(1L, ts(60), "click", 4.0))
      q.processAllAvailable()
      // batch 2: a LATE event (min 50, within the 1h watermark) plus an
      // on-time one at min 85. True sequence 50,60,85 has max gap 25min
      // -> ONE session; the pre-fix code rewound last_ts to 50 and then
      // split at 85 (35 > 30)
      src.addData(
        StreamingJobs.Event(1L, ts(50), "click", 1.0),
        StreamingJobs.Event(1L, ts(85), "click", 2.0))
      q.processAllAvailable()
      // batch 3: watermark driver closes everything for user 1
      src.addData(StreamingJobs.Event(99L, ts(600), "tick", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.sql("SELECT * FROM late_sessions WHERE user_id = 1").collect()
    assert(out.length == 1, s"expected one merged session, got ${out.length}")
    assert(out(0).getLong(1) == 3L && out(0).getDouble(2) == 7.0)
    assert(out(0).getTimestamp(3) == ts(50) && out(0).getTimestamp(4) == ts(85))
  }

  test("batch sessionize twin agrees with the streaming operator on closed sessions") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    val events = Seq(
      StreamingJobs.Event(1L, ts(0), "click", 1.0),
      StreamingJobs.Event(1L, ts(5), "click", 2.0),
      StreamingJobs.Event(1L, ts(35), "click", 4.0),  // gap exactly 30 min: SAME session
      StreamingJobs.Event(1L, ts(66), "buy", 8.0),    // gap 31 min: new session
      StreamingJobs.Event(2L, ts(10), "click", 16.0))
    val batch = graft.ops.Sessions.sessionize(events.toDF())
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(batch == Set(
      (1L, 1700000000000L * 1000, 3L, 7.0),
      (1L, (1700000000000L + 66 * 60000) * 1000, 1L, 8.0),
      (2L, (1700000000000L + 10 * 60000) * 1000, 1L, 16.0)))

    // streaming twin on the same input (plus a watermark-driving tick
    // that closes everything): identical closed-session set
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-twin")
    (events :+ StreamingJobs.Event(99L, ts(600), "tick", 0.0))
      .toDS().repartition(1).write.mode("overwrite").parquet(s"$dir/in")
    val src = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingJobs.Event]].schema)
      .parquet(s"$dir/in")
      .as[StreamingJobs.Event]
    val q = StreamingJobs.sessionize(src)
      .writeStream.outputMode("append").format("memory").queryName("sess_twin")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_twin")
      .filter(col("user_id") =!= 99L)
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("first_ts").getTime * 1000,
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(streamed == batch)
  }

  test("streaming extraction (stream-static media join) row-equals batch extractSpans") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    import graft.gen.{InDoc, InSpan, MediaRow}
    // plus one poison media row: a 4-byte JPEG header that fails to decode
    val docs = graft.gen.Corpus.documents(spark, "/root/testdata/sf0.001").toDF()
      .filter(xxhash64(col("doc_id")) % 10 === 0) // ~10% slice keeps the test fast
      .unionByName(Seq(InDoc("d-poison", Seq(InSpan("media", "", "poison", 0)))).toDS().toDF())
    val media = graft.gen.Corpus.media(spark, "/root/testdata/sf0.001").toDF()
      .unionByName(Seq(MediaRow("poison", Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte))).toDS().toDF())
    val dir = java.nio.file.Files.createTempDirectory("graft-sx")
    docs.write.mode("overwrite").parquet(s"$dir/in")

    val q = StreamingJobs.extractSpansStreaming(spark, s"$dir/in", docs.schema, media)
      .writeStream.outputMode("append")
      .format("memory").queryName("sx")
      .start()
    q.processAllAvailable()
    q.stop()

    val key = Seq("doc_id", "offset", "kind", "media_ref", "text", "confidence")
    val streamed = spark.sql("SELECT * FROM sx")
      .select(key.map(col): _*).orderBy(key.map(col): _*).collect()
    val batch = graft.pipe.ExtractJob.extractSpans(spark,
        spark.read.parquet(s"$dir/in"), media)
      .select(key.map(col): _*).orderBy(key.map(col): _*).collect()
    assert(streamed.length == batch.length && streamed.length > 0,
      s"rows: streamed=${streamed.length} batch=${batch.length}")
    streamed.zip(batch).foreach { case (a, b) => assert(a == b) }
    assert(streamed.filter(_.getString(0) == "d-poison").map(_.toSeq) ===
      Array(Seq("d-poison", 0, "media", "poison", "", 0.0)))
  }

  test("streaming extraction fails fast on an unknown language at plan time (batch parity)") {
    import spark.implicits._
    val media = Seq.empty[(String, Array[Byte])].toDF("media_ref", "bytes")
    val cfg = graft.pipe.ExtractJob.Config()
    Seq(cfg.copy(language = "xyz") -> "unknown language",
        cfg.copy(quality = "hgih") -> "unknown quality",
        cfg.copy(preStages = Seq("deskew", "median")) -> "unknown preStage").foreach {
      case (bad, msg) =>
        val ex = intercept[IllegalArgumentException] {
          StreamingJobs.extractSpansStreaming(spark, "/tmp/nonexistent-dir",
            org.apache.spark.sql.types.StructType(Seq.empty), media, bad)
        }
        assert(ex.getMessage.contains(msg), ex.getMessage)
    }
  }

  test("streaming dedup: one survivor per fingerprint, set equals batch exact dedup") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000)
    val docs = Seq(
      (1L, ts(0), "Hello  World"), (2L, ts(1), "hello world"), // dups (normalized)
      (3L, ts(2), "something else"), (4L, ts(3), "HELLO\nWORLD"),
      (5L, ts(4), "third thing")).toDF("doc_id", "ts", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup")
    docs.repartition(1).write.mode("overwrite").parquet(s"$dir/in")

    val src = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
    val q = graft.streaming.StreamingJobs.dedupStreaming(src)
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT h FROM sdedup").collect().map(_.getString(0)).toSet
    val batch = graft.ops.Dedup.exact(docs).collect().map(_.getString(0)).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    assert(streamed.size == 3)
  }
}
