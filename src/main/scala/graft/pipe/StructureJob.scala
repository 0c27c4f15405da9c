package graft.pipe

import graft.layout.{DocStructure, StructureAnalyzer}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Layout/structure analysis as a batch job: structure is a pure
  * function of the media bytes (`analyze_document_structure`,
  * `app.py:845-1007`), so it runs on the OCR kernel's decode-once shape
  * — [[ExtractJob.byContent]] partitions rows by content hash and an
  * [[ExtractJob.decodeOnce]] memo runs the analyzer once per distinct
  * content — and is keyed by media_ref. An item the analyzer throws on
  * (a corrupt image, a multi-page container) yields a fallback row
  * instead of failing the job. Downstream consumers join it to
  * extracted spans on media_ref; the reference's lazy "analyze on first
  * navigation" (`app.py:1576-1624`) disappears in batch (everything is
  * computed once, up front).
  */
object StructureJob {

  final case class StructureRow(media_ref: String, structure: DocStructure)
  final case class VizRow(media_ref: String, viz_jpeg: Array[Byte])

  private def analyze(bytes: Array[Byte]): DocStructure =
    StructureAnalyzer.analyze(bytes, (roi, w, h) => graft.ocr.OcrEngine.decodeRoi(roi, w, h))

  /** One structure per media_ref; a poison item gets the structure of a
    * blank page ([[StructureAnalyzer.Blank]]).
    */
  def run(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    ExtractJob.byContent(spark, media)
      .mapPartitions { it =>
        val structure = ExtractJob.decodeOnce(StructureAnalyzer.Blank)(analyze)
        it.map { case (ref, bytes, h) => StructureRow(ref, structure(h, bytes)) }
      }
      .toDF()
  }

  /** L9 visualization as a batch operator: one JPEG per media page with
    * paragraph rectangles + column lines drawn (`app.py:871-960`).
    * Same kernel shape as [[run]]; a poison item gets zero-length bytes.
    * Emit alongside or join on media_ref.
    */
  def visualizations(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    ExtractJob.byContent(spark, media)
      .mapPartitions { it =>
        val viz = ExtractJob.decodeOnce(Array.emptyByteArray) { bytes =>
          StructureAnalyzer.visualize(bytes, analyze(bytes))
        }
        it.map { case (ref, bytes, h) => VizRow(ref, viz(h, bytes)) }
      }
      .toDF()
  }
}
