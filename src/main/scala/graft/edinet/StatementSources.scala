package graft.edinet

import java.io.ByteArrayInputStream
import java.nio.charset.Charset
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import Model._

/** S2/S3: statement-file sources. Each filing is parsed as a unit (one
  * file per task) because the reference's semantics depend on physical
  * row order inside the file (SURVEY §7.4.1): the revenue element id is
  * read from row index 1, the fiscal-year row is "first match", and the
  * 5-year series is "first 5 matches". An explicit `row_idx` column
  * makes that order a queryable fact instead of an accident.
  *
  * Files arrive through the `binaryFile` source, so the same code path
  * works for loose files on disk and for members pulled out of ZIP
  * archives ([[ArchiveExtract]]). Parse errors skip the FILE, never the
  * job (reference error isolation N3, src/transform.py:69-73,103-105).
  */
object StatementSources {

  /** Parse (path, content, fmt) rows into revenue-series rows
    * ([[seriesSchema]]), one file at a time, as the reference's per-file
    * parse does (src/transform.py:77-106): `fmt` "csv" goes to
    * [[csvRows]], "xbrl" to [[xbrlRows]], any other value emits nothing,
    * and each file's statement rows are folded by
    * [[RevenueTransform.series]] in the same task. One pass serves both
    * formats, so a mixed landing directory is scanned once. */
  def parse(files: DataFrame): DataFrame =
    perFile(files, seriesSchema)(RevenueTransform.series)

  /** S2 over every file matching `pathGlob`: raw statement rows. */
  def readCsv(spark: SparkSession, pathGlob: String): DataFrame =
    perFile(spark.read.format("binaryFile").load(pathGlob).withColumn("fmt", lit("csv")),
      statementSchema)(identity)

  /** S3 over every file matching `pathGlob`: raw statement rows. */
  def readXbrl(spark: SparkSession, pathGlob: String): DataFrame =
    perFile(spark.read.format("binaryFile").load(pathGlob).withColumn("fmt", lit("xbrl")),
      statementSchema)(identity)

  /** Each (path, content, fmt) file's statement rows, passed through
    * `fold` in the task that parsed the file. */
  private def perFile(files: DataFrame, schema: StructType)(
      fold: Iterator[Row] => Iterator[Row]): DataFrame =
    files.select(col("path"), col("content"), col("fmt")).mapPartitions { it =>
      // DTDs and external entities off: landed filings are untrusted input
      lazy val factory = {
        val f = XMLInputFactory.newInstance()
        f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
        f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
        f
      }
      it.flatMap { r =>
        val path = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        r.getString(2) match {
          case "csv" => fold(csvRows(path, bytes))
          case "xbrl" => fold(xbrlRows(factory, path, bytes))
          case _ => Iterator.empty
        }
      }
    }(RowEncoder.encoderFor(schema))

  /** S2: UTF-16 tab-separated statement CSV (reference
    * src/transform.py:77-106). Emits one row per line with row_idx
    * (0-based, header excluded — matching pandas' integer index). */
  private def csvRows(path: String, bytes: Array[Byte]): Iterator[Row] =
    try {
      // Charset "UTF-16" honors the BOM (the reference files carry one).
      val text = new String(bytes, Charset.forName("UTF-16"))
      val lines = text.split("\r\n|\r|\n").iterator.filter(_.nonEmpty)
      if (!lines.hasNext) Iterator.empty
      else {
        val header = lines.next().split("\t", -1).map(_.trim)
        val idx = Map(
          StmtCols.ElementId -> header.indexOf(StmtCols.ElementId),
          StmtCols.ContextId -> header.indexOf(StmtCols.ContextId),
          StmtCols.UnitId -> header.indexOf(StmtCols.UnitId),
          StmtCols.Value -> header.indexOf(StmtCols.Value))
        if (idx.values.exists(_ < 0)) Iterator.empty // malformed: skip file
        else lines.zipWithIndex.map { case (line, i) =>
          val f = line.split("\t", -1)
          def get(c: String): String = {
            val j = idx(c); if (j < f.length) f(j) else null
          }
          Row(path, i.toLong, get(StmtCols.ElementId), get(StmtCols.ContextId),
            get(StmtCols.UnitId), get(StmtCols.Value))
        }
      }
    } catch { case _: Exception => Iterator.empty } // bad encoding: skip file

  /** S3: XBRL instance documents (reference src/transform.py:11-74).
    * StAX streaming parse in document order; emits the same statement
    * schema. Mirrors the reference's positional contract exactly:
    *  - elements whose tag ends `CurrentPeriodEndDateDEI` are surfaced
    *    as synthetic `jpdei_cor:CurrentFiscalYearEndDateDEI` rows so the
    *    downstream year-extraction is format-agnostic;
    *  - the revenue window is the 5 elements FOLLOWING the first
    *    `NumberOfSubmissionDEI` marker in PRE-ORDER (the reference's
    *    `list(root.iter())`, src/transform.py:53-67). Every element
    *    consumes a window slot whether or not it is emitted; emission
    *    additionally requires a contextRef and non-empty text (the
    *    reference's `if context_ref and revenue_elem.text` truthiness,
    *    so whitespace-only text IS emitted but `None`/empty is not);
    *  - an element's text is what precedes its first child (ElementTree
    *    `.text`), and a missing unitRef defaults to JPY here, on the
    *    XBRL path only (src/transform.py:64 `elem.get('unitRef','JPY')`);
    *  - emitted rows carry the element id of the first emitted window
    *    element, which reproduces the CSV path's "element at row 1
    *    selects the series".
    */
  private def xbrlRows(factory: XMLInputFactory, path: String, bytes: Array[Byte]): Iterator[Row] =
    try {
      // Tracked element: text frozen at first child (ElementTree
      // `.text` semantics); kind 0 = fiscal-date, 1 = revenue window.
      final class Tracked(val kind: Int, val local: String,
          val ctx: String, val unit: String) {
        val text = new StringBuilder
        var childSeen = false
      }
      val reader = factory.createXMLStreamReader(new ByteArrayInputStream(bytes))
      val facts = ArrayBuffer.empty[Tracked]   // in pre-order start order
      var stack = List.empty[Tracked]          // null entry = untracked
      var afterMarker = false
      var windowLeft = 0
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            stack.headOption.foreach(t => if (t != null) t.childSeen = true)
            val local = reader.getLocalName
            val ctx = Option(reader.getAttributeValue(null, "contextRef")).orNull
            val unit = Option(reader.getAttributeValue(null, "unitRef")).orNull
            val tracked: Tracked =
              if (local.endsWith("CurrentPeriodEndDateDEI"))
                new Tracked(0, local, ctx, unit)
              else if (afterMarker && windowLeft > 0) {
                windowLeft -= 1 // every element consumes a slot
                new Tracked(1, local, ctx, unit)
              } else if (!afterMarker && local.contains("NumberOfSubmissionDEI")) {
                afterMarker = true; windowLeft = 5; null
              } else null
            if (tracked != null) facts += tracked
            stack = tracked :: stack
          case XMLStreamConstants.CHARACTERS =>
            stack.headOption.foreach { t =>
              if (t != null && !t.childSeen) t.text.append(reader.getText)
            }
          case XMLStreamConstants.END_ELEMENT =>
            if (stack.nonEmpty) stack = stack.tail
          case _ => ()
        }
      }
      reader.close()
      val out = ArrayBuffer.empty[Row]
      var rowIdx = 0L
      var revenueElementId: String = null
      facts.foreach { t =>
        val raw = t.text.toString
        if (t.kind == 0) {
          if (raw.trim.nonEmpty) {
            out += Row(path, rowIdx, fiscalYearEndElement, t.ctx, t.unit, raw.trim)
            rowIdx += 1
          }
        } else if (t.ctx != null && raw.nonEmpty) { // reference truthiness
          if (revenueElementId == null) revenueElementId = t.local
          out += Row(path, rowIdx, revenueElementId, t.ctx,
            if (t.unit == null) "JPY" else t.unit, raw)
          rowIdx += 1
        }
      }
      out.iterator
    } catch { case _: Exception => Iterator.empty } // bad XML: skip file
}
