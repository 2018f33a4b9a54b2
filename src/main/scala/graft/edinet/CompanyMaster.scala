package graft.edinet

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._

import Model._

/** S1 + P1-P6: company-master scan and filter chain (reference
  * src/extract.py:23-69).
  *
  * The narrow `select` is declared explicitly even though Catalyst would
  * prune columns anyway — with a headered CSV the reader still has to
  * materialize each line, but an explicit projection keeps the plan's
  * ReadSchema minimal and documents intent (SURVEY §4).
  */
object CompanyMaster {

  /** Read the EDINET code-list CSV (cp932, one header row, explicit
    * schema — no inference pass). */
  def read(spark: SparkSession, path: String): DataFrame = {
    // Spark 4 validates CSV charsets against a short allowlist; cp932
    // needs the documented legacy escape (SPARK-43389). Runtime conf,
    // must be set before the physical CSVOptions are built.
    spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    spark.read
      .option("header", "true")
      .option("encoding", "windows-31j") // cp932 (reference src/extract.py:34)
      .schema(companyMasterSchema)
      .csv(path)
  }

  /** P1-P4 (+ optional P5): keep listed, consolidated companies with an
    * alphabetic name; project to the 6 downstream columns. The industry
    * exclusion is the reference's commented-out filter
    * (src/extract.py:53-60), kept behind a flag. */
  def filterChain(df: DataFrame, excludeIndustries: Seq[String] = Nil): DataFrame = {
    val base = df
      .select(MasterCols.EdinetCode, MasterCols.Listed, MasterCols.Consolidated,
        MasterCols.ClosingDate, MasterCols.NameEn, MasterCols.Industry)
      .filter(col(MasterCols.Listed) === lit("Listed company"))
      .filter(col(MasterCols.Consolidated) === lit("Consolidated"))
      .na.drop(Seq(MasterCols.NameEn))
    if (excludeIndustries.isEmpty) base
    else base.filter(!col(MasterCols.Industry).isin(excludeIndustries: _*))
  }

  /** J1 pre-step (SURVEY §7.4.6): dedupe to one row per EDINET code so
    * the enrichment inner join reproduces pandas' `.iloc[0]` first-match.
    *
    * "First row" is scan-partition order, then row order (as
    * `monotonically_increasing_id` numbers rows): file order for the real
    * single-split master, Spark's file packing order for a multi-split
    * read. Null codes count as one code. The master is bounded by the
    * number of filers, so one task folds it: no exchange, no sort. Rows
    * carry their scan partition id, as `coalesce` may reorder partitions. */
  def dedupeByCode(df: DataFrame): DataFrame = {
    val code = df.schema.fieldIndex(MasterCols.EdinetCode)
    val pid = df.schema.length
    df.withColumn("__pid", spark_partition_id()).coalesce(1).mapPartitions { rows =>
      val first = new java.util.LinkedHashMap[String, Row]()
      rows.foreach { r =>
        val kept = first.get(r.getString(code))
        if (kept == null || r.getInt(pid) < kept.getInt(pid)) first.put(r.getString(code), r)
      }
      first.values.iterator.asScala.map(r => Row.fromSeq(r.toSeq.init))
    }(RowEncoder.encoderFor(df.schema))
  }

  def load(spark: SparkSession, path: String,
      excludeIndustries: Seq[String] = Nil): DataFrame =
    dedupeByCode(filterChain(read(spark, path), excludeIndustries))
}
