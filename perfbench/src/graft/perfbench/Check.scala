package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** The per-run output check, run outside the timed region.
  *
  *  - the run committed exactly the docs it was given;
  *  - the manifest holds every bucket the input populates, once, and
  *    its doc counts add up to the input total;
  *  - for a seeded sample of docs, the output span sequence
  *    (kind, text, media_ref, offset) equals the generator's golden spans.
  */
object Check {

  /** None when the output is correct, else the first failure found. */
  def apply(spark: SparkSession, outDir: String, runDocs: Long, expectedRunDocs: Long,
            bed: PerfBench.Bed): Option[String] = {
    import bed.{golden, totalDocs, buckets}
    if (runDocs != expectedRunDocs)
      return Some(s"run committed $runDocs docs, expected $expectedRunDocs")
    val manifest = spark.read.parquet(s"$outDir/manifest")
      .select(col("bucket"), col("doc_count")).collect()
    val mBuckets = manifest.map(_.getInt(0))
    if (mBuckets.length != mBuckets.distinct.length || mBuckets.toSet != buckets)
      return Some(s"manifest holds ${mBuckets.length} bucket rows (${mBuckets.toSet.size} " +
        s"distinct), expected the ${buckets.size} populated buckets once each")
    val committed = manifest.map(_.getLong(1)).sum
    if (committed != totalDocs)
      return Some(s"manifest commits $committed docs, input has $totalDocs")
    // only the sampled docs' bucket directories are read
    val out = spark.read.option("basePath", s"$outDir/extracted")
      .parquet(bed.sampleBuckets.map(b => s"$outDir/extracted/bucket=$b"): _*)
      .filter(col("doc_id").isin(golden.keys.toSeq: _*))
      .select(col("doc_id"), col("spans")).collect()
    if (out.length != golden.size || out.map(_.getString(0)).toSet != golden.keySet)
      return Some(s"sample: ${out.length} output rows for ${golden.size} sampled docs")
    out.iterator.flatMap { r =>
      val got = r.getSeq[Row](1).map(s =>
        GoldSpan(s.getAs[String]("kind"), s.getAs[String]("text"),
          s.getAs[String]("media_ref"), s.getAs[Int]("offset")))
      val want = golden(r.getString(0))
      if (got == want) None
      else {
        val i = got.zipAll(want, null, null).indexWhere { case (g, w) => g != w }
        def show(s: Seq[GoldSpan]) = s.lift(i).fold("none")(_.toString.replace("\n", "\\n"))
        Some(s"span $i of ${r.getString(0)} differs from the golden spans: " +
          s"got ${show(got)}, want ${show(want)}")
      }
    }.nextOption()
  }

  /** Bytes of the committed parquet files (data and manifest). */
  def outputBytes(outDir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(outDir))
    try s.filter(p => p.getFileName.toString.endsWith(".parquet"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }
}
