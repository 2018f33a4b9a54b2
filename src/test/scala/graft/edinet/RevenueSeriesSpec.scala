package graft.edinet

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import Model._

/** [[RevenueTransform.series]], the per-file fold (P8, A4, L2, F4/F5),
  * on row sequences, and against the window spelling it replaced. */
class RevenueSeriesSpec extends SparkSpec {

  private val Dei = fiscalYearEndElement

  /** One file's rows, `row_idx` = position: (element id, value). */
  private def file(name: String, rows: (String, String)*): Seq[Row] =
    rows.zipWithIndex.map { case ((id, v), i) =>
      Row(name, i.toLong, id, "CurrentYearDuration", "JPY", v)
    }

  /** (row_idx, element id, fiscal_year_end) of the folded file. */
  private def fold(rows: (String, String)*): Seq[(Long, String, String)] =
    RevenueTransform.series(file("f", rows: _*).iterator).map { r =>
      assert(r.length == seriesSchema.length)
      (r.getLong(1), r.getString(2), r.getString(6))
    }.toSeq

  test("row 0 counts toward the series when it matches the row-1 element") {
    assert(fold("rev" -> "1", "rev" -> "2", "x" -> "3", "rev" -> "4") ==
      Seq((0L, "rev", null), (1L, "rev", null), (3L, "rev", null)))
  }

  test("a null id at row 1 yields no rows, though later ids are null too") {
    assert(fold(Dei -> "2024-03-31", (null, "1"), (null, "2"), "rev" -> "3").isEmpty)
  }

  test("a one-row file has no row 1 and yields no rows") {
    assert(fold("rev" -> "1").isEmpty)
    assert(fold(Dei -> "2024-03-31").isEmpty)
    assert(fold().isEmpty)
  }

  test("more than 5 matches: the first 5 in row order") {
    val rows = (Dei -> "2024-03-31") +: (1 to 8).map(i => "rev" -> i.toString)
    assert(fold(rows: _*).map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("a DEI row after the series still sets the fiscal year end") {
    val rows = ("x" -> "0") +: (1 to 5).map(i => "rev" -> i.toString) :+ (Dei -> "2024-03-31")
    val out = fold(rows: _*)
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.forall(_._3 == "2024-03-31"))
  }

  test("a first DEI row with a null value: the next non-null one wins") {
    val out = fold((Dei, null), "rev" -> "1", Dei -> "2023-12-31", Dei -> "2022-12-31")
    assert(out == Seq((1L, "rev", "2023-12-31")))
  }

  test("a later DEI row is ignored (the planted 1999-12-31)") {
    val rows = (Dei -> "2024-03-31") +: (1 to 5).map(i => "rev" -> i.toString) :+ (Dei -> "1999-12-31")
    assert(fold(rows: _*).map(_._3).distinct == Seq("2024-03-31"))
  }

  test("row 1 being a DEI row makes the DEI rows the series") {
    val out = fold(Dei -> "2024-03-31", Dei -> "2023-03-31", "rev" -> "1", Dei -> "2022-03-31")
    assert(out == Seq((0L, Dei, "2024-03-31"), (1L, Dei, "2024-03-31"), (3L, Dei, "2024-03-31")))
  }

  /** The three `file`-partitioned windows the fold replaced, kept here as
    * its reference: statement rows -> series rows with `fiscal_year`. */
  private def windowed(stmts: DataFrame): DataFrame = {
    val e = col(StmtCols.ElementId)
    val byFile = Window.partitionBy(col("file"))
    val ordered = byFile.orderBy(col("row_idx"))
    stmts
      .withColumn("revenue_element", max(when(col("row_idx") === 1L, e)).over(byFile))
      .withColumn("fiscal_year", year(to_date(first(
        when(e === fiscalYearEndElement, col(StmtCols.Value)), ignoreNulls = true
      ).over(ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))))
      .filter(e === col("revenue_element") && e.isNotNull)
      .withColumn("series_idx", row_number().over(ordered))
      .filter(col("series_idx") <= 5)
  }

  test("seeded: the fold plus year(to_date) equals the window spelling on 200 random files") {
    val rnd = new scala.util.Random(20240401L)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    val files = (0 until 200).map { f =>
      file(s"f$f", (0 until rnd.nextInt(13)).map { _ =>
        pick[String](null, "a", "b", Dei) match {
          case Dei => Dei -> pick[String](null, "2024-03-31", "2023-12-31", "1999-12-31")
          case id => id -> pick[String](null, "1", "2", "x")
        }
      }: _*)
    }
    val cols = Seq("file", "row_idx", StmtCols.ElementId, StmtCols.ContextId,
      StmtCols.UnitId, StmtCols.Value, "fiscal_year").map(col)
    def sorted(df: DataFrame): Seq[Row] =
      df.select(cols: _*).collect().toSeq.sortBy(r => (r.getString(0), r.getLong(1)))

    val expected = sorted(windowed(
      spark.createDataFrame(files.flatten.asJava, statementSchema)))
    val folded = files.flatMap(rows => RevenueTransform.series(rows.iterator))
    val actual = sorted(spark.createDataFrame(folded.asJava, seriesSchema)
      .withColumn("fiscal_year", RevenueTransform.fiscalYear))
    assert(expected.nonEmpty && expected.map(_.getString(0)).distinct.size > 50)
    assert(actual == expected)
  }
}
