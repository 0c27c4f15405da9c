package graft

import graft.gen.Corpus
import graft.pipe.ExtractJob
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, CompressionCodecName}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end north-rule verification: the extraction pipeline's output
  * span sequence must equal, per document, the golden expected spans
  * derived from the generator's ground truth + the pinned rules —
  * span-sequence equality on (kind, text, media_ref, order), plus the
  * confidence rules (90/70 for text spans; media confidence in (0,100]).
  * Goldens are computed by `Corpus.expectedSpans` (pure functions),
  * never by running the engine.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def extracted(): DataFrame = {
    val docs = Corpus.documents(spark, sfDir).toDF()
    val media = Corpus.media(spark, sfDir).toDF()
    ExtractJob.run(spark, docs, media)
  }

  test("north rule: span-sequence equality (kind, text, media_ref, order) on all fixture docs") {
    spark.sparkContext.setLogLevel("WARN")
    val out = extracted()
      .select(col("doc_id"), col("spans"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1))
      .toMap

    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val m = Corpus.mediaCountHint(spark, sfDir)

    assert(out.size == src.length, "one output row per input document")

    var checkedMedia = 0
    src.foreach { case (id, text) =>
      val docId = f"doc-$id%08d"
      val got = out(docId)
      val want = Corpus.expectedSpans(id, text, m)
      assert(got.size == want.size, s"$docId span count")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g.getString(0) == w._1, s"$docId span $i kind")
        assert(g.getString(1) == w._2, s"$docId span $i text:\n got=[${g.getString(1)}]\nwant=[${w._2}]")
        assert(g.getString(2) == w._3, s"$docId span $i media_ref")
        assert(g.getInt(3) == w._4, s"$docId span $i offset/order")
        val conf = g.getDouble(4)
        if (w._1 == "text") assert(conf == w._5, s"$docId span $i text confidence")
        else { assert(conf > 0 && conf <= 100.0, s"$docId span $i media confidence $conf"); checkedMedia += 1 }
      }
    }
    assert(checkedMedia > 100, s"fixture corpus must exercise media spans (got $checkedMedia)")
  }

  test("document assembly: text joined by \\n\\n, confidence = mean of positive span confs") {
    val row = extracted().orderBy(col("doc_id")).limit(1).collect()(0)
    val spans = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("spans"))
    val text = row.getString(row.fieldIndex("text"))
    assert(text == spans.map(_.getString(1)).mkString("\n\n"))
    val confs = spans.map(_.getDouble(4)).filter(_ > 0)
    val expected = if (confs.nonEmpty) confs.sum / confs.size else 0.0
    assert(math.abs(row.getDouble(row.fieldIndex("confidence")) - expected) < 1e-9)
  }

  test("content-hash dedup: OCR output identical for repeated media_refs across docs") {
    val spans = ExtractJob.extractSpans(spark,
      Corpus.documents(spark, sfDir).toDF(), Corpus.media(spark, sfDir).toDF())
    val distinctPerRef = spans.filter(col("kind") === "media")
      .groupBy(col("media_ref"))
      .agg(countDistinct(col("text")).as("n_texts"), count(lit(1)).as("n_spans"))
    assert(distinctPerRef.filter(col("n_texts") =!= 1).count() == 0)
    // the Zipf skew must actually repeat refs (dedup is exercised)
    assert(distinctPerRef.filter(col("n_spans") > 1).count() > 0)
  }

  test("resumable run: partial manifest -> only missing buckets recompute; output equals full run") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val docs = Corpus.documents(spark, sfDir).toDF()
    val media = Corpus.media(spark, sfDir).toDF()
    val cfg = ExtractJob.Config(outputBuckets = 8)

    // simulate a killed run: process only buckets 0-3 (filter input),
    // committing their manifest rows
    val firstHalf = docs.filter(ExtractJob.bucketCol(8) < 4)
    ExtractJob.runResumable(spark, firstHalf, media, outDir, cfg)
    val committed = spark.read.parquet(s"$outDir/manifest")
    val firstBuckets = committed.select("bucket").collect().map(_.getInt(0)).toSet
    assert(firstBuckets.nonEmpty && firstBuckets.subsetOf((0 until 4).toSet))

    // a manifest written before the commit writes used zstd: rewrite the
    // committed manifest files with snappy, Spark's default codec
    val manifestDir = java.nio.file.Paths.get(outDir, "manifest")
    val snappy = java.nio.file.Files.createTempDirectory("graft-resume-snappy").resolve("manifest")
    committed.write.option("compression", "snappy").parquet(snappy.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(manifestDir.toFile)
    java.nio.file.Files.move(snappy, manifestDir)
    assert(columnChunks(manifestDir).map(_._2.getCodec).toSet == Set(CompressionCodecName.SNAPPY))

    // resume with the full input: only the uncommitted buckets run
    val resumedRun = ExtractJob.runResumable(spark, docs, media, outDir, cfg)
    val manifest2 = spark.read.parquet(s"$outDir/manifest")
    assert(manifest2.select("bucket").distinct().count() ==
      manifest2.count(), "each bucket committed exactly once")
    assert(resumedRun.newBuckets == manifest2.count() - firstBuckets.size)
    assert(columnChunks(manifestDir).map(_._2.getCodec).toSet ==
      Set(CompressionCodecName.SNAPPY, CompressionCodecName.ZSTD), "a mixed-codec manifest")
    val health = graft.pipe.Health.check(spark, s"$outDir/manifest").collect()(0)
    assert(health.getString(0) == "success")
    assert(health.getLong(health.fieldIndex("committed_docs")) == docs.count())

    val resumed = spark.read.parquet(s"$outDir/extracted")
      .select(col("doc_id"), col("text")).orderBy("doc_id").collect()
    val full = ExtractJob.run(spark, docs, media)
      .select(col("doc_id"), col("text")).orderBy("doc_id").collect()
    assert(resumed.length == full.length)
    resumed.zip(full).foreach { case (a, b) => assert(a == b) }

    // idempotence: a third run with everything committed is a no-op
    ExtractJob.runResumable(spark, docs, media, outDir, cfg)
    assert(spark.read.parquet(s"$outDir/manifest").count() == manifest2.count())

    // manifest lineage fields present and sane
    val mrow = manifest2.orderBy("bucket").collect()(0)
    assert(mrow.getLong(mrow.fieldIndex("span_count")) > 0)
    assert(mrow.getSeq[Long](mrow.fieldIndex("conf_histogram")).sum ==
      mrow.getLong(mrow.fieldIndex("doc_count")))
    assert(mrow.getString(mrow.fieldIndex("input_snapshot_id")).startsWith("files:"),
      "manifest rows carry the input snapshot lineage id")

    // manifest metrics (observe-collected) agree with the written data
    val byBucket = spark.read.parquet(s"$outDir/extracted")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("d"), sum(size(col("spans"))).as("s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    manifest2.select("bucket", "doc_count", "span_count").collect().foreach { r =>
      assert(byBucket(r.getInt(0)) == ((r.getLong(1), r.getLong(2))),
        s"bucket ${r.getInt(0)} manifest metrics match written data")
    }
  }

  test("resume refuses a manifest committed from a different input snapshot") {
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    val inA = java.nio.file.Files.createTempDirectory("graft-inA").toString
    val inB = java.nio.file.Files.createTempDirectory("graft-inB").toString
    val media = spark.createDataset(Seq.empty[(String, Array[Byte])]).toDF("media_ref", "bytes")
    def mk(n: Int) = spark.createDataset((0 until n).map(i =>
      graft.gen.InDoc(f"ln-$i%02d", Seq(graft.gen.InSpan("text", s"doc $i", "", 0))))).toDF()
    mk(6).write.mode("overwrite").parquet(inA)
    mk(9).write.mode("overwrite").parquet(inB)
    val cfg = ExtractJob.Config(outputBuckets = 4)
    ExtractJob.runResumable(spark, spark.read.parquet(inA), media, outDir, cfg)
    // same input resumes fine (no-op: everything committed)
    val again = ExtractJob.runResumable(spark, spark.read.parquet(inA), media, outDir, cfg)
    assert(again.newBuckets == 0)
    // different input files -> different snapshot id -> loud refusal
    val ex = intercept[IllegalStateException] {
      ExtractJob.runResumable(spark, spark.read.parquet(inB), media, outDir, cfg)
    }
    assert(ex.getMessage.contains("refusing to resume"))
    // an EXISTING but unreadable manifest must also fail loudly — a
    // swallowed read error would bypass the lineage guard entirely
    // (regression: catch-all fell back to empty prior snapshots)
    val manifestDir = new java.io.File(outDir, "manifest")
    manifestDir.listFiles().foreach(_.delete())
    java.nio.file.Files.write(new java.io.File(manifestDir, "part-corrupt.parquet").toPath,
      "not parquet".getBytes)
    val ex2 = intercept[IllegalStateException] {
      ExtractJob.runResumable(spark, spark.read.parquet(inA), media, outDir, cfg)
    }
    assert(ex2.getMessage.contains("cannot be read"))
  }

  test("S10 health probe: capability row + live manifest counters") {
    import spark.implicits._
    val fresh = graft.pipe.Health.check(spark).collect()(0)
    assert(fresh.getString(0) == "success" && fresh.getBoolean(fresh.fieldIndex("pdf_ok")))
    assert(fresh.getString(fresh.fieldIndex("languages")).split(",").toSet ==
      graft.codec.Glyphs.languages.toSet)
    assert(fresh.getLong(fresh.fieldIndex("committed_buckets")) == 0L)

    val outDir = java.nio.file.Files.createTempDirectory("graft-health-spec").toString
    val docs = spark.createDataset((0 until 12).map(i =>
      graft.gen.InDoc(f"hs-$i%02d", Seq(graft.gen.InSpan("text", s"doc $i", "", 0))))).toDF()
    val media = spark.createDataset(Seq.empty[(String, Array[Byte])]).toDF("media_ref", "bytes")
    ExtractJob.runResumable(spark, docs, media, outDir, ExtractJob.Config(outputBuckets = 4))
    val live = graft.pipe.Health.check(spark, s"$outDir/manifest").collect()(0)
    assert(live.getLong(live.fieldIndex("committed_docs")) == 12L)
    assert(live.getLong(live.fieldIndex("committed_buckets")) >= 1L)
  }

  test("health reports an unreadable manifest as error, an absent one as empty") {
    val absent = graft.pipe.Health.check(spark, "/nonexistent/graft-health/manifest").collect()(0)
    assert(absent.getString(0) == "success")
    assert(absent.getLong(absent.fieldIndex("committed_docs")) == 0L)

    val manifestDir = java.nio.file.Files.createTempDirectory("graft-health-corrupt")
    java.nio.file.Files.write(manifestDir.resolve("part-corrupt.parquet"), "not parquet".getBytes)
    val bad = graft.pipe.Health.check(spark, manifestDir.toString).collect()(0)
    assert(bad.getString(0) == "error")
    assert(bad.getString(bad.fieldIndex("message")).contains("manifest unreadable"))
  }

  test("batch extraction fails fast on an unknown language, quality or preStage at plan time") {
    import spark.implicits._
    val docs = spark.createDataset(Seq(
      graft.gen.InDoc("ff-0", Seq(graft.gen.InSpan("text", "doc", "", 0))))).toDF()
    val media = Seq.empty[(String, Array[Byte])].toDF("media_ref", "bytes")
    val cfg = ExtractJob.Config()
    Seq(cfg.copy(language = "xyz") -> "unknown language",
        cfg.copy(quality = "hgih") -> "unknown quality",
        cfg.copy(preStages = Seq("deskew", "median")) -> "unknown preStage").foreach {
      case (bad, msg) =>
        val ex = intercept[IllegalArgumentException](ExtractJob.extractSpans(spark, docs, media, bad))
        assert(ex.getMessage.contains(msg), ex.getMessage)
    }
  }

  test("resumable run never re-reads the output path (single-pass manifest via observe)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val outDir = java.nio.file.Files.createTempDirectory("graft-onescan").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = plans.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      val docs = Corpus.documents(spark, sfDir).toDF()
      val media = Corpus.media(spark, sfDir).toDF()
      val summary = ExtractJob.runResumable(spark, docs, media, outDir,
        ExtractJob.Config(outputBuckets = 4))
      assert(summary.docCount > 0 && summary.spanCount > summary.docCount)

      // the execution-listener bus is async: wait until the write showed up
      def allScans(p: SparkPlan): Seq[FileSourceScanExec] =
        p.collect { case f: FileSourceScanExec => Seq(f)
                    case a: AdaptiveSparkPlanExec => allScans(a.executedPlan) }.flatten
      val deadline = System.nanoTime() + 15L * 1000000000L
      def sawWrite = plans.toArray.exists(_.toString.contains("InsertIntoHadoopFsRelation"))
      while (!sawWrite && System.nanoTime() < deadline) Thread.sleep(100)
      assert(sawWrite, "write execution observed")
      Thread.sleep(300) // settle any trailing events
      val offenders = plans.toArray(Array.empty[SparkPlan]).flatMap(allScans)
        .filter(_.relation.location.rootPaths.exists(_.toString.contains(s"$outDir/extracted")))
      assert(offenders.isEmpty,
        s"no execution may scan the just-written output path; found: ${offenders.mkString(";")}")
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every column chunk in the footers of the `.parquet` files under
    * `dir`, with its file, read with parquet-hadoop.
    */
  private def columnChunks(dir: java.nio.file.Path): Seq[(java.nio.file.Path, ColumnChunkMetaData)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(dir)
    val files = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq finally walk.close()
    files.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(f -> _))
      finally r.close()
    }
  }

  /** Permission bits (0 to 07777) of a local path. */
  private def modeOf(p: java.nio.file.Path): Int =
    java.nio.file.Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  test("NioLocalFileSystem sets the stock file system's modes in-process; sticky bits take the stock path") {
    import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = java.net.URI.create("file:///")
    val stock = new RawLocalFileSystem()
    stock.initialize(root, conf)
    val nio = new graft.pipe.NioLocalFileSystem.Raw()
    nio.initialize(root, conf)
    val dir = java.nio.file.Files.createTempDirectory("graft-perm")
    Seq("600", "640", "700", "755").foreach { m =>
      val a = java.nio.file.Files.createFile(dir.resolve(s"stock-$m"))
      val b = java.nio.file.Files.createFile(dir.resolve(s"nio-$m"))
      stock.setPermission(new Path(a.toUri), new FsPermission(oct(m).toShort))
      nio.setPermission(new Path(b.toUri), new FsPermission(oct(m).toShort))
      assert(modeOf(a) == oct(m), s"stock sets $m")
      assert(modeOf(b) == modeOf(a), s"nio reads back what stock sets for $m")
    }
    // the POSIX permission set cannot carry the sticky bit: only the
    // stock (chmod) path can have set it
    val sticky = java.nio.file.Files.createDirectory(dir.resolve("sticky"))
    nio.setPermission(new Path(sticky.toUri), new FsPermission(oct("1755").toShort))
    assert(modeOf(sticky) == oct("1755"))
    // the writer options resolve `file:` to it, by reflection and uncached
    val wconf = new org.apache.hadoop.conf.Configuration()
    graft.pipe.NioLocalFileSystem.writerOptions.foreach { case (k, v) => wconf.set(k, v) }
    val fs = new Path(dir.toUri).getFileSystem(wconf)
    assert(fs.isInstanceOf[graft.pipe.NioLocalFileSystem])
    assert(fs.asInstanceOf[graft.pipe.NioLocalFileSystem].getRawFileSystem
      .isInstanceOf[graft.pipe.NioLocalFileSystem.Raw])
  }

  test("resumable run writes at most populated buckets + width - 1 data files, with the stock modes") {
    import org.apache.hadoop.fs.{LocalFileSystem, Path}
    val outDir = java.nio.file.Files.createTempDirectory("graft-files")
    val docs = Corpus.documents(spark, sfDir).toDF()
    val media = Corpus.media(spark, sfDir).toDF()
    val summary = ExtractJob.runResumable(spark, docs, media, outDir.toString,
      ExtractJob.Config(outputBuckets = 64))
    val walk = java.nio.file.Files.walk(outDir)
    val paths = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq finally walk.close()
    val data = paths.filter(p => p.startsWith(outDir.resolve("extracted")) &&
      p.getFileName.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
    val width = ExtractJob.exchangeWidth(spark)
    assert(summary.newBuckets > width, "the corpus populates more buckets than the exchange has tasks")
    assert(data.size <= summary.newBuckets + width - 1,
      s"${data.size} data files for ${summary.newBuckets} populated buckets at width $width")

    // both commit writes: zstd pages, binary min/max statistics of at
    // most 64 bytes (whole document texts otherwise), exact doc_id bounds
    val chunks = columnChunks(outDir.resolve("extracted")) ++ columnChunks(outDir.resolve("manifest"))
    assert(chunks.map(_._1).toSet.size > data.size, "every data file and a manifest file")
    chunks.foreach { case (f, c) =>
      assert(c.getCodec == CompressionCodecName.ZSTD, s"codec of ${c.getPath} in $f")
      val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
      if (c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.BINARY && st.hasNonNullValue)
        assert(st.getMinBytes.length <= 64 && st.getMaxBytes.length <= 64,
          s"min/max of ${c.getPath} in $f hold ${st.getMinBytes.length}/${st.getMaxBytes.length} bytes")
    }
    val docIdBounds = spark.read.parquet(outDir.resolve("extracted").toString)
      .groupBy(input_file_name()).agg(min("doc_id"), max("doc_id")).collect()
      .map(r => java.nio.file.Paths.get(java.net.URI.create(r.getString(0))) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(docIdBounds.keySet == data.toSet)
    chunks.filter(_._2.getPath.toDotString == "doc_id").groupBy(_._1).foreach { case (f, cs) =>
      def str(b: Array[Byte]) = new String(b, java.nio.charset.StandardCharsets.UTF_8)
      assert((cs.map(c => str(c._2.getStatistics.getMinBytes)).min,
        cs.map(c => str(c._2.getStatistics.getMaxBytes)).max) == docIdBounds(f), s"doc_id bounds of $f")
    }

    // every written file and directory has the mode the stock (forking)
    // local file system gives a fresh file and directory
    val probe = java.nio.file.Files.createTempDirectory("graft-files-stock")
    val stock = new LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    stock.create(new Path(probe.resolve("f").toUri)).close()
    stock.mkdirs(new Path(probe.resolve("d").toUri)): Unit
    val (dirs, files) = paths.filter(_ != outDir).partition(java.nio.file.Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.endsWith(".crc")), "the .crc side files stay")
    files.foreach(p => assert(modeOf(p) == modeOf(probe.resolve("f")), s"file mode of $p"))
    dirs.foreach(p => assert(modeOf(p) == modeOf(probe.resolve("d")), s"directory mode of $p"))
  }

  test("doc preservation: empty spans / all-unknown kinds still yield one output row each") {
    import spark.implicits._
    import graft.gen.{InDoc, InSpan, MediaRow}
    // poison media: each one throws in decode or in the container parse
    val pdf = graft.ops.Multimodal.synthPdf(Seq("alpha page", "beta page"), 5L)
    val poison = Seq(
      "bad-jpeg4" -> Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte), // JPEG SOI + APP0 marker, no body
      "bad-empty" -> Array.empty[Byte],
      "bad-pdf-truncated" -> pdf.dropRight(1),
      "bad-pdf-neglen" -> (Array[Byte]('G', 'P', 'D', 'F', 0x7F, -1, -1, -1, -1, -1, -1, -4) ++
        new Array[Byte](4))) // page count Int.MaxValue, first page length -4
    val cleanBytes = graft.codec.SynthRaster.render(Corpus.mediaTextFor(3), 33L)
    val media = (("clean", cleanBytes) +: poison)
      .map { case (r, b) => MediaRow(r, b) }.toDS().toDF()
    val poisonDocs = poison.map { case (r, _) =>
      InDoc(s"d-$r", Seq(InSpan("text", "before  it", "", 0), InSpan("media", "", r, 1),
        InSpan("media", "", "clean", 2), InSpan("text", "after it", "", 3)))
    }
    val docs = (Seq(
      InDoc("d-empty", Seq.empty),
      InDoc("d-unknown", Seq(InSpan("blob", "xx", "", 0), InSpan("blob2", "yy", "", 1))),
      InDoc("d-mixed", Seq(InSpan("text", "hello  world", "", 0), InSpan("blob", "", "", 1)))
    ) ++ poisonDocs).toDS().toDF()
    val rows = ExtractJob.run(spark, docs, media)
      .select(col("doc_id"), col("spans"), col("text"), col("confidence")).collect()
    val out = rows.map(r => r.getString(0) -> ((r.getSeq[Any](1).size, r.getString(2), r.getDouble(3)))).toMap
    assert(rows.length == 3 + poison.size && out.size == rows.length,
      "one output row per input document, even with no surviving spans or undecodable media")
    assert(out("d-empty") == ((0, "", 0.0)))
    assert(out("d-unknown") == ((0, "", 0.0)))
    assert(out("d-mixed") == ((1, "hello world", 90.0)) ||
      out("d-mixed") == ((1, "hello world", 70.0)))
    // a poison item becomes ("", 0.0) in place; the clean spans of the
    // same doc keep their order, and the clean media span is what the
    // kernel decodes for that item alone
    val (cleanText, cleanConf) = ExtractJob.decodeMedia(
      graft.ocr.EnginePool.get("balanced"), cleanBytes, "medium", "standard")
    assert(cleanConf > 0.0)
    val spans = rows.map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
      .map(s => (s.getString(0), s.getString(1), s.getString(2), s.getInt(3), s.getDouble(4)))).toMap
    poisonDocs.foreach { d =>
      assert(spans(d.doc_id) == Seq(
        ("text", "before it", "", 0, 70.0),
        ("media", "", d.spans(1).media_ref, 1, 0.0),
        ("media", cleanText, "clean", 2, cleanConf),
        ("text", "after it", "", 3, 70.0)), d.doc_id)
    }
  }

  test("structure jobs: a poison item yields its fallback row, never a failed job") {
    import spark.implicits._
    import graft.gen.MediaRow
    import graft.layout.StructureAnalyzer
    import graft.pipe.StructureJob
    val clean = Seq(
      "clean-a" -> graft.codec.SynthRaster.render(Corpus.mediaTextFor(3), 33L),
      "clean-b" -> graft.codec.SynthRaster.render(Corpus.mediaTextFor(7), 34L))
    // each one throws in the analyzer: a multi-page container, a JPEG
    // with no body, no bytes at all
    val poison = Seq(
      "bad-pdf" -> graft.ops.Multimodal.synthPdf(Seq("alpha page", "beta page"), 5L),
      "bad-jpeg4" -> Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte),
      "bad-empty" -> Array.empty[Byte])
    // a second ref to the same bytes: the memo hit still yields its own row
    val cleanRefs = clean :+ ("clean-a-copy" -> clean.head._2)
    val items = cleanRefs ++ poison
    val media = items.map { case (r, b) => MediaRow(r, b) }.toDS().toDF()
    val roi = (g: Array[Int], w: Int, h: Int) => graft.ocr.OcrEngine.decodeRoi(g, w, h)
    poison.foreach { case (r, b) =>
      assert(scala.util.Try(StructureAnalyzer.analyze(b, roi)).isFailure, s"$r must throw alone")
    }

    val structures = StructureJob.run(spark, media).as[StructureJob.StructureRow].collect()
    assert(structures.map(_.media_ref).sorted.toSeq == items.map(_._1).sorted,
      "one structure row per media_ref")
    val structureOf = structures.map(r => r.media_ref -> r.structure).toMap
    poison.foreach { case (r, _) => assert(structureOf(r) == StructureAnalyzer.Blank, r) }
    cleanRefs.foreach { case (r, b) =>
      assert(structureOf(r) == StructureAnalyzer.analyze(b, roi), r)
    }

    val viz = StructureJob.visualizations(spark, media).as[StructureJob.VizRow].collect()
    assert(viz.map(_.media_ref).sorted.toSeq == items.map(_._1).sorted,
      "one visualization row per media_ref")
    val vizOf = viz.map(r => r.media_ref -> r.viz_jpeg.toSeq).toMap
    poison.foreach { case (r, _) => assert(vizOf(r).isEmpty, r) }
    cleanRefs.foreach { case (r, b) =>
      assert(vizOf(r) == StructureAnalyzer.visualize(b, StructureAnalyzer.analyze(b, roi)).toSeq, r)
    }
  }

  test("corpus generation is deterministic and partitioning-independent") {
    val a = Corpus.documents(spark, sfDir).toDF().orderBy("doc_id")
      .select(to_json(struct(col("*")))).collect().map(_.getString(0))
    val b = Corpus.documents(spark, sfDir).toDF().repartition(17).orderBy("doc_id")
      .select(to_json(struct(col("*")))).collect().map(_.getString(0))
    assert(a.sameElements(b))
    val ma = Corpus.media(spark, sfDir).toDF()
      .select(col("media_ref"), sha2(col("bytes"), 256)).orderBy("media_ref")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val mb = Corpus.media(spark, sfDir).toDF().repartition(13)
      .select(col("media_ref"), sha2(col("bytes"), 256)).orderBy("media_ref")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(ma.sameElements(mb))
  }

  test("streaming hourly agg over bounded source equals batch aggregation") {
    import spark.implicits._
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val batch = graft.streaming.StreamingJobs.hourlyBatch(events)
      .orderBy("hour", "event_type").collect()

    // file stream source wants a directory
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val q = graft.streaming.StreamingJobs
      .hourlyStreaming(spark, srcDir.toString, events.schema)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    q.processAllAvailable()
    val streamed = spark.sql(
      "SELECT * FROM hourly_out ORDER BY hour, event_type").collect()
    q.stop()

    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("preStages plumb through the pipeline: crooked+speckled scans decode exactly with them on") {
    // end-to-end Config.preStages coverage (CodecSpec tests the engine
    // hook; this drives the mapPartitions kernel closure): media
    // rendered then optically rotated 1 degree and speckled with
    // grid-isolated salt/pepper — the full pipeline must restore
    // exact span text with the stages on, and misread with them off.
    import spark.implicits._
    val texts = (0 until 6).map(Corpus.mediaTextFor)
    def pack(px: Array[Int], w: Int, h: Int): Array[Byte] =
      graft.codec.SynthRaster.toBytes(w, h, px)
    def crooked(i: Int): Array[Byte] = {
      val clean = graft.codec.SynthRaster.render(texts(i), seed = 700L + i)
      val (w, h, px) = graft.img.ImageCodec.decode(clean)
      val fill = graft.img.ImageOps.modalValue(px)
      pack(graft.img.ImageOps.rotate(px, w, h, 1.0, fill, bilinear = true), w, h)
    }
    def speckled(i: Int): Array[Byte] = {
      val clean = graft.codec.SynthRaster.render(texts(i), seed = 700L + i)
      val (w, h, px) = graft.img.ImageCodec.decode(clean)
      // ink-isolated PAPER speckles only (black dots whose whole 3x3
      // neighborhood is paper): an outlier touching a stroke has a
      // similar ink neighbor and survives the conditional median BY
      // DESIGN (stroke preservation), so whether it flips a glyph is
      // a margin coin-toss, not the stage's contract. Isolated dots
      // are exactly the contract — and they still break the raw
      // decode (a dot in a blank cell reads as a confident non-space).
      def isolatedPaper(j: Int): Boolean = {
        val x = j % w
        val y = j / w
        if (x < 1 || y < 1 || x >= w - 1 || y >= h - 1) return false
        var dy = -1
        while (dy <= 1) {
          var dx = -1
          while (dx <= 1) {
            if (px((y + dy) * w + (x + dx)) <= 128) return false
            dx += 1
          }
          dy += 1
        }
        true
      }
      var j = 0
      while (j < px.length) {
        if (j % w % 2 == 0 && j / w % 2 == 0 && isolatedPaper(j) &&
            graft.util.Det.bounded(graft.util.Det.at(0xccdL + i, j.toLong), 12) == 0)
          px(j) = 0
        j += 1
      }
      pack(px, w, h)
    }
    def run(mk: Int => Array[Byte], cfg: ExtractJob.Config): Map[String, String] = {
      val media = spark.createDataset(texts.indices.map(i =>
        (f"crk-$i%02d", mk(i)))).toDF("media_ref", "bytes")
      val docs = spark.createDataset(texts.indices.map(i =>
        graft.gen.InDoc(f"crkdoc-$i%02d",
          Seq(graft.gen.InSpan("media", "", f"crk-$i%02d", 0))))).toDF()
      ExtractJob.extractSpans(spark, docs, media, cfg)
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    }
    val truths = texts.map(graft.codec.SynthRaster.groundTruth)
    // v1 quality = the default blur3+Otsu chain (the CodecSpec-proven
    // deskew margin lives on that chain)
    val deskewOn = run(crooked, ExtractJob.Config(quality = "v1",
      preStages = Seq("deskew")))
    val deskewOff = run(crooked, ExtractJob.Config(quality = "v1"))
    val denoiseOn = run(speckled, ExtractJob.Config(quality = "v1",
      preStages = Seq("denoise")))
    val denoiseOff = run(speckled, ExtractJob.Config(quality = "v1"))
    texts.indices.foreach { i =>
      assert(denoiseOn(f"crkdoc-$i%02d") == truths(i),
        s"denoise-on decode of doc $i must be exact, got '${denoiseOn(f"crkdoc-$i%02d")}'")
    }
    assert(texts.indices.exists(i => denoiseOff(f"crkdoc-$i%02d") != truths(i)),
      "the speckled corpus should misread somewhere with denoise off")
    val exactDeskew = texts.indices.count(i => deskewOn(f"crkdoc-$i%02d") == truths(i))
    val exactRaw = texts.indices.count(i => deskewOff(f"crkdoc-$i%02d") == truths(i))
    assert(exactRaw == 0, "the crooked corpus should misread with deskew off")
    assert(exactDeskew >= 4,
      s"deskew through the pipeline should recover most docs exactly ($exactDeskew/6)")
  }
}
