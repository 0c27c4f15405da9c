package graft

import graft.gen.Corpus
import graft.pipe.{ExtractJob, Scope, StructureJob}
import graft.text.Summarizer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scope assembly (T9, app.py:1893-2011) + the ingest guards. */
class ScopeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-scope")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val extracted = {
    spark.sparkContext.setLogLevel("WARN")
    ExtractJob.run(spark,
      Corpus.documents(spark, sfDir).toDF().limit(50),
      Corpus.media(spark, sfDir).toDF()).cache()
  }

  test("full scope: summary equals the kernel summarizer on the doc text") {
    // the full scope is the extraction output's own text, summary and
    // compression ratio (T8, app.py:2033)
    val rows = extracted.select("doc_id", "text", "summary", "compression_ratio")
      .orderBy("doc_id").limit(10).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val text = r.getString(1)
      val summary = r.getString(2)
      assert(summary == Summarizer.summarize(text, 0.3))
      assert(r.getDouble(3) ==
        (if (text.isEmpty) 0.0 else summary.length.toDouble / text.length))
    }
    // the committed `summary` field stays OPTIONAL
    assert(extracted.schema("summary").nullable)
  }

  test("page scope: one row per span, offsets dense") {
    val pages = Scope.pageScope(extracted)
    val spanCount = extracted.select(explode(col("spans"))).count()
    assert(pages.count() == spanCount)

    // a NULL-text text span is a page whose summary is ""
    import scala.jdk.CollectionConverters._
    val schema = Corpus.documents(spark, sfDir).toDF().schema
    val docs = spark.createDataFrame(Seq(org.apache.spark.sql.Row("doc-null", Seq(
      org.apache.spark.sql.Row("text", null, "", 0)))).asJava, schema)
    val nullPages = Scope.pageScope(
      ExtractJob.run(spark, docs, Corpus.media(spark, sfDir).toDF())).collect()
    assert(nullPages.length == 1 && nullPages.head.isNullAt(2))
    assert(nullPages.head.getString(3) == "")
  }

  test("column scope matches paragraph membership and \\n\\n join order") {
    val structures = StructureJob.run(spark, Corpus.media(spark, sfDir).toDF().limit(5)).cache()
    val cols = Scope.columnScope(structures).collect()
    val paras = structures.select(col("media_ref"), col("structure.paragraphs").as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(cols.nonEmpty)
    cols.foreach { r =>
      val ref = r.getString(0); val cid = r.getInt(1)
      val expected = paras(ref)
        .filter(p => p.getInt(p.fieldIndex("column")) == cid)
        .map(p => p.getString(p.fieldIndex("text"))).mkString("\n\n")
      assert(r.getString(2) == expected, s"$ref column $cid")
    }
  }

  test("ingest guards: unknown kinds dropped; oversized media yields empty span, conf 0") {
    import scala.jdk.CollectionConverters._
    val schema = Corpus.documents(spark, sfDir).toDF().schema
    // 45 chars inside whitespace that is not all spaces: stripped
    // length 45, so 70.0 (Spark's one-argument trim would leave 52)
    val padded45 = "a quick brown fox jumps over the lazy dog, ok"
    val paddedText = "\n\n\t" + padded45 + "\n  \n"
    assert(padded45.length == 45)
    val rows = Seq(
      org.apache.spark.sql.Row("doc-x", Seq(
        org.apache.spark.sql.Row("text", "hello there world", "", 0),
        org.apache.spark.sql.Row("weird", "zzz", "", 1), // unknown kind
        org.apache.spark.sql.Row("media", "", "m-big", 2),
        org.apache.spark.sql.Row("media", "", "m-dangling", 3),
        org.apache.spark.sql.Row("text", paddedText, "", 4))))
    val docs = spark.createDataFrame(rows.asJava, schema)
    val media = {
      import spark.implicits._
      Seq(("m-big", graft.codec.SynthRaster.render("big page", 1L)))
        .toDF("media_ref", "bytes")
    }
    val all = ExtractJob.extractSpans(spark, docs, media,
      ExtractJob.Config(maxMediaBytes = 10)) // cap below any raster
      .orderBy("offset").collect()
    // the unknown kind is dropped from the span sequence but leaves a
    // null-kind doc-preservation sentinel (filtered out by assembleDocs)
    val sentinels = all.filter(_.isNullAt(1))
    assert(sentinels.length == 1 && sentinels.forall(_.getString(2) == ""))
    val out = all.filterNot(_.isNullAt(1))
    assert(out.map(_.getInt(4)).toSeq == Seq(0, 2, 3, 4)) // 'weird' dropped
    val padded = out.find(_.getInt(4) == 4).get
    assert(padded.getString(2) == padded45) // collapsed + trimmed
    assert(padded.getDouble(5) == 70.0)
    assert(padded.getDouble(5) == graft.text.TextOps.directTextConfidence(paddedText))
    val mediaRows = out.filter(_.getString(1) == "media")
    mediaRows.foreach { r =>
      assert(r.getString(2) == "") // empty text
      assert(r.getDouble(5) == 0.0) // conf 0
    }
  }
}
