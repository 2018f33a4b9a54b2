package graft.edinet

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import Model._

class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("normalize reports skip counts via observed metrics (N4 analog)") {
    val rows = Seq(
      // (file, row_idx, element, context, unit, value)
      ("f", 0L, fiscalYearEndElement, "FilingDateInstant", null, "2024-03-31"),
      ("f", 1L, "rev", "CurrentYearDuration", "JPY", "100"),
      ("f", 2L, "rev", "UnknownContext", "JPY", "200"),      // P10 skip
      ("f", 3L, "rev", "Prior1YearDuration", "JPY", "oops"), // P11 skip
      ("f", 4L, "rev", "Prior2YearDuration", "JPY", "300")
    ).toDF("file", "row_idx", StmtCols.ElementId, StmtCols.ContextId,
      StmtCols.UnitId, StmtCols.Value)

    val obs = Observation("skips")
    val series = RevenueTransform.series(rows.collect().iterator).toSeq
    val prepared = spark.createDataFrame(series.asJava, seriesSchema)
      .withColumn("fiscal_year", RevenueTransform.fiscalYear)
    val out = RevenueTransform.normalize(prepared, Some(obs))
    assert(out.count() == 2) // 100 and 300 survive
    val m = obs.get
    assert(m("n_unknown_context") == 1L)
    assert(m("n_bad_value") == 1L)
  }

  test("Config.fromEnv parses the reference's settings.env keys (N6)") {
    import graft.ingest.EdinetClient.Config
    val c = Config.fromEnv(Map(
      "REQUEST_PER_SECOND" -> "5", "MAX_RETRIES" -> "7", "RETRY_DELAY" -> "0.5",
      "UNRELATED" -> "x"))
    assert(c.requestsPerSecond == 5.0 && c.maxRetries == 7 && c.retryDelayMs == 500)
    val d = Config.fromEnv(Map("MAX_RETRIES" -> "not-a-number"))
    assert(d.maxRetries == Config().maxRetries) // bad value -> default, no crash
  }
}
