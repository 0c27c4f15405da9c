package graft.layout

import graft.codec.{Glyphs, SynthRaster}
import graft.img.{ConnectedComponents, ImageOps}
import graft.text.TextOps

/** Document-structure records, mirroring the response shapes built in
  * `analyze_document_structure` (`app.py:845-1007`). The debug
  * visualization (`app.py:871-960`) is produced by [[StructureAnalyzer
  * .visualize]] as JPEG bytes (base64 is transport, not data — a
  * binary column is the table form of `viz_base64`).
  */
final case class Bounds(x: Int, y: Int, width: Int, height: Int)
final case class SentenceRec(id: Int, text: String)
final case class Paragraph(id: Int, bounds: Bounds, text: String,
                           sentences: Seq[SentenceRec], column: Int)
final case class ColumnGroup(id: Int, paragraphs: Seq[Int])
final case class SuggestedAction(`type`: String, description: String)
final case class DocStructure(paragraphs: Seq[Paragraph], columns: Seq[ColumnGroup],
                              total_paragraphs: Int, total_columns: Int,
                              suggested_actions: Seq[SuggestedAction])

/** Layout analysis over a grayscale page, step-for-step with
  * `analyze_document_structure`:
  *
  *   L1 inverse-Otsu binarize (`app.py:859`) — directly on gray, no blur
  *   L2 4-connected components with stats (`app.py:863-864`)
  *   L3 region filter: minArea < area < maxArea (0.1% / 80% of page)
  *      and 0.1 < w/h < 10 (`app.py:868-883`)
  *   L4 per-ROI OCR (`--psm 6`, `app.py:891-893`); empty text drops the
  *      region; paragraph id = emission order (`app.py:895-900`)
  *   L5 sentence split on the RAW split list — sentence ids are indices
  *      into the unfiltered `re.split` result (`app.py:903-909`)
  *   L6 column boundaries at x-gaps > 10% of page width over
  *      x-sorted paragraphs (`app.py:916-927`)
  *   L7 nearest-boundary assignment by min |x - boundary|
  *      (`app.py:934-944`)
  *   L8 suggested actions from counts (`app.py:981-1007`)
  */
object StructureAnalyzer {

  private val ReadFull = SuggestedAction("read_full", "Read full text")

  /** The structure of a page with no paragraphs (a blank page): no
    * paragraphs, no columns, only the read-full action.
    */
  val Blank: DocStructure = DocStructure(Vector.empty, Vector.empty, 0, 0, Vector(ReadFull))

  def analyze(bytes: Array[Byte], ocrRoi: (Array[Int], Int, Int) => String): DocStructure = {
    // ImageCodec.decode, not SynthRaster.parse: the structure path must
    // accept every media format the OCR path does (PNG/JPEG included) —
    // visualize() below already decodes this way
    val (w, h, gray) = graft.img.ImageCodec.decode(bytes)
    analyzeGray(gray, w, h, ocrRoi)
  }

  def analyzeGray(gray: Array[Int], w: Int, h: Int,
                  ocrRoi: (Array[Int], Int, Int) => String): DocStructure = {
    val binary = ImageOps.thresholdOtsu(gray, invert = true)
    val (_, stats) = ConnectedComponents.label(binary, w, h)

    val minArea = w.toDouble * h * 0.001
    val maxArea = w.toDouble * h * 0.8

    val paragraphs = scala.collection.mutable.ArrayBuffer.empty[Paragraph]
    stats.foreach { s =>
      val aspect = s.w.toDouble / s.h
      if (s.area > minArea && s.area < maxArea && aspect > 0.1 && aspect < 10) {
        val roi = new Array[Int](s.w * s.h)
        var y = 0
        while (y < s.h) {
          System.arraycopy(gray, (s.y + y) * w + s.x, roi, y * s.w, s.w)
          y += 1
        }
        val text = ocrRoi(roi, s.w, s.h)
        if (text.trim.nonEmpty) {
          val raw = TextOps.splitSentencesRaw(text)
          val sents = raw.iterator.zipWithIndex.collect {
            case (t, j) if t.trim.nonEmpty => SentenceRec(j, t.trim)
          }.toVector
          paragraphs += Paragraph(paragraphs.length, Bounds(s.x, s.y, s.w, s.h),
            text.trim, sents, column = 0)
        }
      }
    }

    val (withColumns, columns) =
      if (paragraphs.isEmpty) (Vector.empty[Paragraph], Vector.empty[ColumnGroup])
      else {
        val boundaries = columnBoundaries(paragraphs.map(_.bounds.x).toVector, w)
        val cols = Array.fill(boundaries.length)(Vector.newBuilder[Int])
        val updated = paragraphs.map { p =>
          val x = p.bounds.x
          // distances.index(min(distances)) — first minimum wins
          var best = 0; var bestD = Int.MaxValue
          var j = 0
          while (j < boundaries.length) {
            val d = math.abs(x - boundaries(j))
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          cols(best) += p.id
          p.copy(column = best)
        }.toVector
        (updated, boundaries.indices.map(i => ColumnGroup(i, cols(i).result())).toVector)
      }

    val actions = scala.collection.mutable.ArrayBuffer.empty[SuggestedAction]
    if (withColumns.length > 1)
      actions += SuggestedAction("read_by_paragraph", "Read paragraph by paragraph")
    if (columns.length > 1)
      actions += SuggestedAction("read_by_column", "Read column by column")
    if (withColumns.iterator.map(_.sentences.size).sum > 5)
      actions += SuggestedAction("summarize", "Read summary of text")
    actions += ReadFull

    DocStructure(withColumns, columns, withColumns.length, columns.length, actions.toVector)
  }

  /** L6 column boundaries: x-gaps > 10% of page width over sorted
    * paragraph x positions (`app.py:916-927`) — shared by the analyzer
    * and the visualization so the drawn lines are the assigned ones.
    */
  def columnBoundaries(xs: Seq[Int], w: Int): Vector[Int] = {
    if (xs.isEmpty) return Vector.empty
    val sorted = xs.sorted
    val out = Vector.newBuilder[Int]
    out += sorted.head
    var i = 1
    while (i < sorted.length) {
      if (sorted(i) - sorted(i - 1) > w * 0.1) out += sorted(i)
      i += 1
    }
    out.result()
  }

  /** L9 — the structure visualization (`app.py:871-960`): a copy of
    * the page with a 2px rectangle outline around every kept paragraph
    * (`cv2.rectangle(..., (0,255,0), 2)` at `app.py:914`) and a 1px
    * vertical line at each paragraph's assigned column boundary
    * (`cv2.line(..., (0,0,255), 1)` at `app.py:946`), JPEG-encoded
    * like the `cv2.imwrite(...jpg)` + base64 step. On our grayscale
    * pages the overlay colors land at their BT.601 grays: pure green
    * -> 150, pure red -> 76.
    */
  final val RectGray = 150 // BT.601 of (0,255,0)
  final val LineGray = 76 // BT.601 of (0,0,255)

  def visualize(bytes: Array[Byte], structure: DocStructure): Array[Byte] = {
    val (w, h, gray) = graft.img.ImageCodec.decode(bytes)
    val px = gray.clone()
    def set(x: Int, y: Int, v: Int): Unit =
      if (x >= 0 && x < w && y >= 0 && y < h) px(y * w + x) = v
    structure.paragraphs.foreach { p =>
      val b = p.bounds
      var t = 0
      while (t < 2) { // thickness 2, outward like cv2
        var x = b.x - t
        while (x <= b.x + b.width + t) {
          set(x, b.y - t, RectGray); set(x, b.y + b.height + t, RectGray)
          x += 1
        }
        var y = b.y - t
        while (y <= b.y + b.height + t) {
          set(b.x - t, y, RectGray); set(b.x + b.width + t, y, RectGray)
          y += 1
        }
        t += 1
      }
    }
    if (structure.paragraphs.nonEmpty) {
      val bs = columnBoundaries(structure.paragraphs.map(_.bounds.x), w)
      structure.paragraphs.foreach { p =>
        val bx = bs(p.column)
        var y = 0
        while (y < h) { set(bx, y, LineGray); y += 1 }
      }
    }
    graft.img.ImageCodec.encodeJpeg(w, h, px)
  }
}
