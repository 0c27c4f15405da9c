package graft.ops

import graft.util.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization and host/domain extraction — the web-curation
  * preamble (CCNet / RefinedWeb style): before any host-level quality
  * gate, blocklist join, or per-domain quota, raw crawl URLs must
  * collapse to a canonical form so that `HTTPS://WWW.Site.com:443/a`
  * and `https://site.com/a` are the same key. Everything here is a
  * pure column expression (codegen'd `regexp_replace` chains, RE2-
  * compatible patterns — no lookarounds), so canonicalization runs
  * map-side at scan speed and the only shuffle in a host-level
  * aggregation is the final groupBy on the canonical domain.
  *
  * Canonical form (applied in order):
  *   1. strip the fragment (`#...`);
  *   2. lowercase the scheme and authority (path/query case is
  *      significant and preserved);
  *   3. strip default ports (`:443` for https, `:80` for http);
  *   4. strip a leading `www.`;
  *   5. drop tracking query params (`utm_*`, `gclid`, `fbclid`,
  *      `msclkid`, `ref`) — runs of them collapse in one RE2 pass;
  *   6. strip a dangling `?`/`&`.
  *
  * `registeredDomainOf` is a public-suffix-LITE rule: last two host
  * labels, or last three when the suffix is a two-part country
  * registry (`co.uk`-style: co|com|org|net|ac|gov + 2-letter ccTLD).
  * The full public-suffix list is a data file, not an algorithm —
  * at deployment, swap the CASE for a broadcast join against the PSL
  * snapshot; the operator shape (map-side derive, group on domain)
  * is unchanged.
  */
object Web {

  private val TRACKING =
    "([?&])((?:utm_[a-zA-Z0-9_]+|gclid|fbclid|msclkid|ref)=[^&#]*&?)+"

  /** Raw URL -> canonical URL (rules above). */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val loweredAuth = concat(
      lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
      regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""))
    val noPort = regexp_replace(
      regexp_replace(loweredAuth, "^(https://[^/:?#]*):443([/?#].*)?$", "$1$2"),
      "^(http://[^/:?#]*):80([/?#].*)?$", "$1$2")
    val noWww = regexp_replace(noPort, "^(https?://)www\\.", "$1")
    val noTracking = regexp_replace(noWww, TRACKING, "$1")
    regexp_replace(noTracking, "[?&]+$", "")
  }

  /** Canonical URL -> host ('' when the URL has no authority). */
  def hostOf(canonUrl: Column): Column =
    regexp_extract(canonUrl, "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)

  /** Host -> registered domain (public-suffix-lite; see object doc). */
  def registeredDomainOf(host: Column): Column =
    coalesce(
      Seq(
        regexp_extract(host, "([^.]+\\.(?:co|com|org|net|ac|gov)\\.[a-z][a-z])$", 1),
        regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
        .map(c => when(c =!= "", c)) :+ host: _*)

  /** Per-domain boilerplate-line detector — the RefinedWeb/CCNet
    * template-strip signal the per-document line dedup cannot see: a
    * line that repeats ACROSS a large fraction of one domain's pages
    * (nav bars, cookie banners, copyright footers) is boilerplate
    * even though each page contains it once. Emits the detector
    * table: every (domain, line) present in ≥ 2 documents with
    * its document frequency and frequency fraction, flagged when
    * df/domain_docs ≥ `minFrac` — the table a strip pass would
    * broadcast-anti-join against the corpus.
    *
    * Scale shape: distinct(domain, doc, line) then ONE
    * (domain, line) count agg — map-side combine absorbs the repeat
    * mass; domain doc totals re-aggregate the distinct pairs; the
    * df ≥ 2 filter keeps the output detector-sized. Integer-operand
    * fraction, round(6).
    */
  def domainBoilerplate(lines: DataFrame, domainCol: String,
                        minFrac: Double = 0.3): DataFrame = {
    val distinctLines = lines
      .select(col(domainCol).as("domain"), col("doc_id").as("id"), col("line"))
      .distinct()
      .transform(Pin.once)
    val docTot = distinctLines.select(col("domain"), col("id")).distinct()
      .groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
    distinctLines.groupBy(col("domain"), col("line"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2L)
      .join(broadcast(docTot), Seq("domain"))
      .select(col("domain"), col("line"), col("df"), col("n_docs"),
        round(col("df").cast("double") / col("n_docs").cast("double"), 6)
          .as("df_frac"))
      .withColumn("boilerplate",
        col("df_frac") >= lit(minFrac))
  }

  /** `href="..."` attribute values, double-quoted form (the synthetic
    * corpus and most crawl HTML; single-quoted/bare attrs are a
    * deployment-time second pattern in the same shape).
    */
  val hrefRe: String = "(?i)href\\s*=\\s*\"([^\"]*)\""

  /** Outlink extraction — the link-graph half of web extraction
    * (PageRank/harmonic-centrality inputs, anchor audits, crawl
    * frontier expansion all start here): pull every `href` from a
    * page, canonicalize it, keep absolute http(s) targets. One row
    * per (page, link) with the raw href, its canonical URL, and the
    * destination host.
    *
    * Scale shape: `regexp_extract_all` + `posexplode`-free `explode`
    * is a pure map-side projection (codegen'd, no shuffle); the output
    * is edge-list-sized, and every downstream degree/host aggregation
    * shuffles on the edge key it needs, nothing wider. A page with no
    * links (or null html) emits zero edges — degree joins must outer-
    * join back to the page table, which is what a degree audit does
    * anyway.
    */
  def linkEdges(pages: DataFrame, htmlCol: Column, idCol: Column): DataFrame =
    pages
      .select(idCol.as("src_id"),
        explode(regexp_extract_all(coalesce(htmlCol, lit("")),
          lit(hrefRe), lit(1))).as("href"))
      .withColumn("url", canonicalizeUrl(col("href")))
      .filter(col("url").rlike("^https?://"))
      .withColumn("dst_host", hostOf(col("url")))
}
