package graft.edinet

import org.apache.spark.sql.types._

/** Schemas and configuration for the EDINET revenue pipeline — the
  * reference-parity surface (reference: reza-abdi7/edinet-etl).
  *
  * Explicit StructTypes everywhere (SURVEY §1.3): schema inference over
  * cp932 / UTF-16 files is fragile and costs an extra pass at scale.
  */
object Model {

  /** Company-master CSV columns, verbatim (reference
    * src/extract.py:37-45; fixture shape FIXTURES.md §A1). */
  object MasterCols {
    val EdinetCode = "EDINET Code"
    val Listed = "Listed company / Unlisted company"
    val Consolidated = "Consolidated / NonConsolidated"
    val ClosingDate = "account closing date"
    val NameEn = "Submitter Name（alphabetic）"
    val Industry = "Submitter's industry"
  }

  /** Full 13-column company-master schema (all strings — the reference
    * never types these; numerics stay unparsed). */
  val companyMasterSchema: StructType = StructType(Seq(
    StructField(MasterCols.EdinetCode, StringType),
    StructField("Type of Submitter", StringType),
    StructField(MasterCols.Listed, StringType),
    StructField(MasterCols.Consolidated, StringType),
    StructField("Capital stock", StringType),
    StructField(MasterCols.ClosingDate, StringType),
    StructField("Submitter Name", StringType),
    StructField(MasterCols.NameEn, StringType),
    StructField("Submitter Name（phonetic）", StringType),
    StructField("Province", StringType),
    StructField(MasterCols.Industry, StringType),
    StructField("Securities Identification Code", StringType),
    StructField("Submitter's Japan Corporate Number", StringType)))

  /** Statement-row columns, verbatim Japanese headers (reference
    * src/transform.py:61-65,94-100). */
  object StmtCols {
    val ElementId = "要素ID"
    val ContextId = "コンテキストID"
    val UnitId = "ユニットID"
    val Value = "値"
  }

  /** Parsed statement row: one fact from a CSV/XBRL filing, with the
    * source file and its physical row order (load-bearing — SURVEY
    * §7.4.1). */
  val statementSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_idx", LongType, nullable = false),
    StructField(StmtCols.ElementId, StringType),
    StructField(StmtCols.ContextId, StringType),
    StructField(StmtCols.UnitId, StringType),
    StructField(StmtCols.Value, StringType)))

  /** A file's revenue-series row ([[RevenueTransform.series]]): the
    * statement row plus the raw value of the file's first fiscal-year-end
    * row (F4/F5). */
  val seriesSchema: StructType =
    statementSchema.add(StructField("fiscal_year_end", StringType))

  /** Document-list API metadata (reference src/extract.py:158,173-186;
    * FIXTURES.md §A2). */
  val docMetaSchema: StructType = StructType(Seq(
    StructField("docID", StringType),
    StructField("edinetCode", StringType),
    StructField("docTypeCode", StringType),
    StructField("csvFlag", StringType),
    StructField("xbrlFlag", StringType),
    StructField("submitDateTime", StringType)))

  /** Final output row (reference src/transform.py:204-211). */
  case class RevenueOut(
      year: Int,
      companyname: String,
      industryclassification: String,
      geonameen: String,
      revenue: Long,
      revenue_unit: String)

  /** Relative-context -> year-offset decode map (reference
    * src/transform.py:171-177). */
  val contextYearOffsets: Map[String, Int] = Map(
    "CurrentYearDuration" -> 0,
    "Prior1YearDuration" -> -1,
    "Prior2YearDuration" -> -2,
    "Prior3YearDuration" -> -3,
    "Prior4YearDuration" -> -4)

  /** Target document types: 120 annual report, 130 correction
    * (reference config/settings.env, src/transform.py:133-138). */
  val targetDocTypes: Seq[String] = Seq("120", "130")
  val correctionDocType = "130"

  /** Fiscal-year-end element id (reference src/transform.py:99). */
  val fiscalYearEndElement = "jpdei_cor:CurrentFiscalYearEndDateDEI"
}
