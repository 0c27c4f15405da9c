package graft

import graft.ops.Web
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WebSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-web")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def canon(urls: String*): Seq[String] = {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    urls.toDF("u").select(Web.canonicalizeUrl(col("u"))).collect().map(_.getString(0)).toSeq
  }

  test("scheme/host lowercase; path and query case preserved") {
    assert(canon("HTTPS://WWW.Site.COM/Path/File?Q=Val") ==
      Seq("https://site.com/Path/File?Q=Val"))
  }

  test("fragment, default ports, www stripped; non-default port kept") {
    assert(canon(
      "https://site.com:443/a#sec",
      "http://site.com:80/a",
      "https://site.com:8443/a",
      "http://www.site.com/a?x=1#f") ==
      Seq("https://site.com/a", "http://site.com/a",
        "https://site.com:8443/a", "http://site.com/a?x=1"))
  }

  test("tracking params drop in runs; real params survive; dangling separators tidied") {
    assert(canon(
      "https://s.com/p?utm_source=a&utm_campaign=b&id=7&gclid=x",
      "https://s.com/p?id=7&utm_a=1&utm_b=2&lang=en",
      "https://s.com/p?utm_only=1",
      "https://s.com/p?fbclid=9",
      "https://s.com/p?xref=keep&ref=drop") ==
      Seq("https://s.com/p?id=7",
        "https://s.com/p?id=7&lang=en",
        "https://s.com/p",
        "https://s.com/p",
        "https://s.com/p?xref=keep"))
  }

  test("host and registered domain extraction, incl. two-part ccTLD suffixes") {
    import spark.implicits._
    val rows = Seq(
      "https://a.b.site.com/x",
      "https://news.site.co.uk/x",
      "https://site.com",
      "https://localhost/x").toDF("u")
      .select(Web.hostOf(col("u")).as("h"))
      .withColumn("d", Web.registeredDomainOf(col("h")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(
      ("a.b.site.com", "site.com"),
      ("news.site.co.uk", "site.co.uk"),
      ("site.com", "site.com"),
      ("localhost", "localhost")))
  }

  test("domainBoilerplate: cross-page repeats flagged, within-page repeats don't inflate df") {
    import spark.implicits._
    val lines = Seq(
      // domain a, 4 docs: footer on 3 of them (df_frac .75 -> boilerplate),
      // a rare line on 1, and doc 1 repeats the footer TWICE (distinct
      // collapses it)
      ("a", 1L, "footer line"), ("a", 1L, "footer line"), ("a", 1L, "unique 1"),
      ("a", 2L, "footer line"), ("a", 2L, "unique 2"),
      ("a", 3L, "footer line"),
      ("a", 4L, "unique 4"), ("a", 4L, "shared pair"),
      ("a", 3L, "shared pair"),   // df 2 of 4 = 0.5 -> boilerplate at 0.3
      // domain b: same footer text but only 1 of 2 docs -> below minDf
      ("b", 5L, "footer line"), ("b", 6L, "other")
    ).toDF("domain", "doc_id", "line")
    val got = graft.ops.Web.domainBoilerplate(lines, "domain")
      .orderBy("domain", "line").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      ("a", "footer line", 3L, 4L, 0.75, true),
      ("a", "shared pair", 2L, 4L, 0.5, true)))
    // stricter threshold drops the weaker line
    val strict = graft.ops.Web.domainBoilerplate(lines, "domain", minFrac = 0.6)
      .filter(col("boilerplate")).collect()
    assert(strict.map(_.getString(1)).toSeq == Seq("footer line"))
  }

  test("linkEdges: extracts, canonicalizes, keeps absolute http(s) only; null html emits none") {
    import spark.implicits._
    val pages = Seq(
      (1L, "<a HREF=\"HTTPS://WWW.Site.COM:443/doc/7?utm_source=x&id=7#top\">a</a> " +
        "<a href=\"http://other.org/p\">b</a> <a href=\"/rel\">r</a> " +
        "<a href=\"mailto:x@y.z\">m</a>"),
      (2L, null.asInstanceOf[String]),
      (3L, "no links here")
    ).toDF("doc_id", "html")
    val got = Web.linkEdges(pages, col("html"), col("doc_id"))
      .orderBy("src_id", "url").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, "http://other.org/p", "other.org"),
      (1L, "https://site.com/doc/7?id=7", "site.com")))
  }
}
