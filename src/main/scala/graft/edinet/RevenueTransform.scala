package graft.edinet

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Model._

/** P8-P11, F4-F7, F12/F13, J1: statement rows -> enriched 5-year revenue
  * records (reference src/transform.py:148-214).
  *
  * One declarative plan over ALL files replaces the reference's per-file
  * Python loop; the per-file scoping lives in window partitions keyed by
  * the file column. Skip semantics are filters (row dropped), never
  * null propagation — matching Python's try/except-continue.
  */
object RevenueTransform {

  private val E = col(StmtCols.ElementId)
  private val C = col(StmtCols.ContextId)
  private val U = col(StmtCols.UnitId)
  private val V = col(StmtCols.Value)

  /** P8: per file, the revenue element id is WHATEVER element sits at row
    * index 1 (reference src/transform.py:93-95 — the name varies per
    * filing, so it is read from the data, not configured). */
  def withRevenueElement(stmts: DataFrame): DataFrame = {
    val byFile = Window.partitionBy(col("file"))
    // exactly one row per file has row_idx==1, so max == that value
    // (max, not first-over-unordered-frame, for determinism)
    stmts.withColumn("revenue_element",
      max(when(col("row_idx") === 1L, E)).over(byFile))
  }

  /** F4/F5 + A4: per file, fiscal year = year of the first
    * CurrentFiscalYearEndDateDEI row's value (document order). */
  def withFiscalYear(stmts: DataFrame): DataFrame = {
    val byFileOrdered = Window.partitionBy(col("file"))
      .orderBy(col("row_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stmts.withColumn("fiscal_year",
      year(to_date(first(
        when(E === fiscalYearEndElement, V), ignoreNulls = true
      ).over(byFileOrdered))))
  }

  /** The 5-year series: revenue-element rows in file order, first 5
    * (reference src/transform.py:96-98 `[:5]`). */
  def revenueSeries(stmts: DataFrame): DataFrame = {
    val series = Window.partitionBy(col("file")).orderBy(col("row_idx"))
    stmts
      .filter(E === col("revenue_element") && E.isNotNull)
      .withColumn("series_idx", row_number().over(series))
      .filter(col("series_idx") <= 5)
  }

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

  /** Full transform: statement rows (+ an `edinet_code` column from the
    * manifest) -> output records. */
  def apply(stmts: DataFrame, companies: DataFrame): DataFrame =
    enrich(normalize(revenueSeries(withFiscalYear(withRevenueElement(stmts)))), companies)
}
