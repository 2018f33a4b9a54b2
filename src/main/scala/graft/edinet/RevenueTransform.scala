package graft.edinet

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Model._

/** P8-P11, F4-F7, F12/F13, J1: statement rows -> enriched 5-year revenue
  * records (reference src/transform.py:93-102,148-214).
  *
  * The per-file rules (which element, which rows, which fiscal year) are
  * one fold over a single file's rows, [[series]], which the per-file
  * parse applies in the task that already holds the file; everything
  * after it is row-local or a broadcast join, so no step re-groups rows
  * by file. Skip semantics are filters (row dropped), never null
  * propagation — matching Python's try/except-continue.
  */
object RevenueTransform {

  private val C = col(StmtCols.ContextId)
  private val U = col(StmtCols.UnitId)

  /** P8 + L2 + F5/A4: one file's statement rows, in `row_idx` order ->
    * that file's series rows ([[seriesSchema]]), the reference's
    * `parse_csv_file` rules (src/transform.py:93-102):
    *  - the revenue element is WHATEVER element id sits at row index 1
    *    (the name varies per filing, so it is read from the data); a file
    *    without a row 1, or with a null id there, yields nothing;
    *  - the series is the first 5 rows, in row order, whose id equals that
    *    element, row 0 included;
    *  - `fiscal_year_end` is the value of the first
    *    CurrentFiscalYearEndDateDEI row that has one, carried raw on every
    *    series row (wherever that row sits in the file).
    * Buffers at most 5 rows (row 0 waits for row 1 to name the element). */
  def series(rows: Iterator[Row]): Iterator[Row] = {
    // statementSchema positions: 1 row_idx, 2 element id, 5 value
    var row0: Row = null
    var element: String = null
    var fiscalEnd: String = null
    val kept = ArrayBuffer.empty[Row]
    rows.foreach { r =>
      val id = r.getString(2)
      if (fiscalEnd == null && id == fiscalYearEndElement) fiscalEnd = r.getString(5)
      r.getLong(1) match {
        case 0L => row0 = r
        case 1L if id != null =>
          element = id
          if (row0 != null && row0.getString(2) == id) kept += row0
          kept += r
        case _ => if (element != null && id == element && kept.size < 5) kept += r
      }
    }
    kept.iterator.map(r => Row.fromSeq(r.toSeq :+ fiscalEnd))
  }

  /** F4: the fiscal year of a series row, from its file's raw fiscal-year
    * end — row-local, so Spark's date parsing (ANSI included) applies. */
  val fiscalYear: Column = year(to_date(col("fiscal_year_end")))

  /** F6 + P10: decode relative-year contexts; unknown context ids are
    * SKIPPED (reference src/transform.py:189-193). F7 + P11: non-integer
    * values are SKIPPED via try_cast (src/transform.py:196-202).
    * The unit column passes through untouched: the reference's JPY
    * default is an XBRL-parse concern (src/transform.py:64, applied in
    * [[StatementSources.xbrlRows]]); a CSV row with a missing
    * ユニットID keeps its null, as in the reference. */
  def normalize(series: DataFrame): DataFrame = normalize(series, None)

  /** With an optional [[org.apache.spark.sql.Observation]]: the
    * reference LOGS every skipped row (src/transform.py:191,199); the
    * Spark-native equivalent is observed metrics — counted in the same
    * pass, no extra job, readable after the action completes. */
  def normalize(series: DataFrame,
      obs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val offsetExpr = contextYearOffsets.foldLeft(lit(null).cast(IntegerType)) {
      case (acc, (ctx, off)) => when(C === ctx, off).otherwise(acc)
    }
    val annotated = series
      .withColumn("year_offset", offsetExpr)
      .withColumn("revenue", expr(s"try_cast(`${StmtCols.Value}` AS BIGINT)"))
    val observed = obs match {
      case Some(o) => annotated.observe(o,
        count(when(col("year_offset").isNull, 1)).as("n_unknown_context"),
        count(when(col("year_offset").isNotNull && col("revenue").isNull, 1))
          .as("n_bad_value"))
      case None => annotated
    }
    observed
      .filter(col("year_offset").isNotNull) // P10 skip
      .filter(col("revenue").isNotNull) // P11 skip
      .withColumn("year", col("fiscal_year") + col("year_offset"))
      .filter(col("year").isNotNull) // file had no parsable fiscal year
      .withColumn("revenue_unit", U)
  }

  /** J1 + F12: enrich with company attributes via broadcast inner join
    * (master deduped upstream so inner == first-match) and add the
    * constant geo column (reference src/transform.py:204-211). P9's
    * unknown-code guard falls out of the inner join. */
  def enrich(normalized: DataFrame, companies: DataFrame): DataFrame = {
    val master = companies.select(
      col(MasterCols.EdinetCode).as("edinet_code"),
      col(MasterCols.NameEn).as("companyname"),
      col(MasterCols.Industry).as("industryclassification"))
    normalized
      .join(broadcast(master), Seq("edinet_code"), "inner")
      .select(
        col("year").cast(IntegerType).as("year"),
        col("companyname"),
        col("industryclassification"),
        lit("Japan").as("geonameen"),
        col("revenue"),
        col("revenue_unit"))
  }

  /** Full transform: series rows ([[StatementSources.parse]], plus an
    * `edinet_code` column from the manifest) -> output records. */
  def apply(series: DataFrame, companies: DataFrame): DataFrame =
    enrich(normalize(series.withColumn("fiscal_year", fiscalYear)), companies)
}
