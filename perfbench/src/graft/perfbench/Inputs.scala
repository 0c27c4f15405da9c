package graft.perfbench

import graft.codec.SynthRaster
import graft.gen.{Corpus, InDoc, MediaRow}
import graft.util.Det
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One golden span: the north-rule tuple (kind, text, media_ref, offset). */
final case class GoldSpan(kind: String, text: String, media_ref: String, offset: Int)

/** The benchmark's inputs, generated from the workload seed alone.
  *
  * Base documents are the [[Corpus]] document shape (2-6 spans, ~35%
  * media, Zipf-reused media refs) over a synthetic word-stream source
  * text sized like the generator's documents table (8-96 words, no
  * sentence punctuation). The seed picks the replica namespaces: every
  * doc_id and media_ref carries one, and a raster's noise is keyed by
  * its ref, so doc_ids, output buckets and content hashes all change
  * with the seed while the work per document stays the same.
  */
object Inputs {
  final val Workloads = Seq("mixed_zipf", "media_unique", "text_only", "resume_half")

  /** Base documents per replica, and replicas, per workload family. */
  final val BaseDocs = 1000
  final val MixedReplicas = 4
  final val UniqueReplicas = 1
  /** Share of media_unique items that are multi-page GPDF containers. */
  final val PdfShare = 0.2

  private final val TextSeed = 0x7065726662L // "perfb"

  private val words = Array(
    "a", "b", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window")

  /** Source text of base document `id`: a seeded word stream. */
  def srcText(id: Long): String = {
    val seed = Det.mix64(TextSeed, id)
    val n = 8 + Det.bounded(Det.at(seed, 0), 89)
    (1 to n).map(i => words(Det.bounded(Det.at(seed, i.toLong), words.length))).mkString(" ")
  }

  /** Media pool per replica: the generator's pool size for BaseDocs. */
  val mediaPerReplica: Int = Corpus.mediaCount(BaseDocs.toLong)

  def replicas(workload: String): Int =
    if (workload == "media_unique") UniqueReplicas else MixedReplicas

  def docCount(workload: String): Int = BaseDocs * replicas(workload)

  /** Seeded replica namespaces (the index keeps them distinct). */
  def namespaces(seed: Long, n: Int): IndexedSeq[String] =
    (0 until n).map(r => f"n$r${Det.mix64(seed, r.toLong) & 0xffffffL}%06x")

  private def docId(ns: String, base: Int): String = f"$ns-doc-$base%08d"

  /** media_unique: every media span gets its own ref, and a seeded
    * share of those items are GPDF containers of 2-4 pages.
    */
  private def uniqueRef(ns: String, base: Int, offset: Int): String = f"$ns-u$base%06d-$offset"

  /** Page texts of a media_unique item (one page = a plain raster). */
  def uniquePages(ref: String): (Boolean, Seq[String]) = {
    val h = Det.hashString(ref)
    val pdf = Det.double01(Det.at(h, 1)) < PdfShare
    val n = if (pdf) 2 + Det.bounded(Det.at(h, 2), 3) else 1
    (pdf, (0 until n).map(p => Corpus.mediaTextFor(Det.bounded(Det.at(h, 10L + p), 1000))))
  }

  def uniqueBytes(ref: String): Array[Byte] = uniquePages(ref) match {
    case (true, pages) => graft.ops.Multimodal.synthPdf(pages, Det.hashString(ref))
    case (false, pages) => SynthRaster.render(pages.head, Det.hashString(ref))
  }

  /** Input document `j` (0 until docCount) of a workload. */
  def doc(workload: String, ns: IndexedSeq[String], j: Int): InDoc = {
    val n = ns(j / BaseDocs)
    val base = j % BaseDocs
    val spans = Corpus.spansFor(base.toLong, srcText(base.toLong), mediaPerReplica)
    val out = workload match {
      case "media_unique" => spans.map(s =>
        if (s.kind == "media") s.copy(media_ref = uniqueRef(n, base, s.offset)) else s)
      case "text_only" => spans.filter(_.kind == "text").zipWithIndex
        .map { case (s, i) => s.copy(offset = i) }
      case _ => spans.map(s => if (s.kind == "media") s.copy(media_ref = s"$n-${s.media_ref}") else s)
    }
    InDoc(docId(n, base), out)
  }

  /** Golden spans of input document `j`, from the generator's ground
    * truth ([[Corpus.expectedSpans]] and [[SynthRaster.groundTruth]]),
    * never from the engine.
    */
  def golden(workload: String, ns: IndexedSeq[String], j: Int): (String, Seq[GoldSpan]) = {
    val n = ns(j / BaseDocs)
    val base = j % BaseDocs
    val exp = Corpus.expectedSpans(base.toLong, srcText(base.toLong), mediaPerReplica)
      .map { case (k, t, r, o, _) => GoldSpan(k, t, r, o) }
    val out = workload match {
      case "media_unique" => exp.map { s =>
        if (s.kind != "media") s
        else {
          val ref = uniqueRef(n, base, s.offset)
          s.copy(media_ref = ref,
            text = uniquePages(ref)._2.map(SynthRaster.groundTruth).mkString("\n\n"))
        }
      }
      case "text_only" => exp.filter(_.kind == "text").zipWithIndex
        .map { case (s, i) => s.copy(offset = i) }
      case _ => exp.map(s => if (s.kind == "media") s.copy(media_ref = s"$n-${s.media_ref}") else s)
    }
    (docId(n, base), out)
  }

  /** Write the workload's documents and media parquet under `dir`;
    * returns (docsPath, mediaPath). text_only keeps the mixed media
    * table: production jobs see the media table even when no span
    * references it.
    */
  def write(spark: SparkSession, workload: String, seed: Long, dir: String): (String, String) = {
    import spark.implicits._
    val ns = namespaces(seed, replicas(workload))
    val docsPath = s"$dir/documents"
    val mediaPath = s"$dir/media"
    val docs = spark.range(0, docCount(workload), 1, 8).map(j => doc(workload, ns, j.toInt))
    docs.write.mode("overwrite").parquet(docsPath)
    val media =
      if (workload == "media_unique")
        docs.flatMap(_.spans.filter(_.kind == "media").map(_.media_ref))
          .map(ref => MediaRow(ref, uniqueBytes(ref)))
      else {
        val m = mediaPerReplica
        spark.range(0, ns.size.toLong * m, 1, 16).map { x =>
          val i = (x % m).toInt
          val ref = s"${ns((x / m).toInt)}-${Corpus.mediaRefFor(i)}"
          MediaRow(ref, SynthRaster.render(Corpus.mediaTextFor(i), Det.hashString(ref)))
        }
      }
    media.write.mode("overwrite").parquet(mediaPath)
    (docsPath, mediaPath)
  }

  /** Seeded sample of input document indices for the output check. */
  def sample(seed: Long, workload: String, n: Int): Seq[Int] =
    (0 until n).map(i => Det.bounded(Det.at(Det.mix64(seed, 0x5a3c), i.toLong), docCount(workload)))
      .distinct

  /** Seeded half of the output buckets (the resume pre-commit). */
  def committedHalf(seed: Long, buckets: Int): Seq[Int] =
    (0 until buckets).sortBy(b => Det.at(Det.mix64(seed, 0xb0c7), b.toLong)).take(buckets / 2).sorted

  /** The media_ref of every media span of a docs frame. */
  def mediaSpanRefs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(explode(col("spans")).as("s")).filter(col("s.kind") === "media")
      .select(col("s.media_ref").as("media_ref"))
  }
}
