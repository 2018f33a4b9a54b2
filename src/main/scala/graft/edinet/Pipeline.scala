package graft.edinet

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Model._

/** S8 + N5: guarded CSV sink (reference src/load.py:8-31). */
object Sink {

  /** Write the final frame as a single UTF-8 headered CSV under
    * `outDir/fileName`. Returns false (and writes nothing) on empty
    * input — the reference's empty-pipeline guard (src/load.py:20-22,
    * main.py:33-35). `coalesce(1)` mirrors the reference's
    * one-output-file contract. */
  def writeCsv(df: DataFrame, outDir: String, fileName: String): Boolean = {
    // persist around the guard: isEmpty is an action, and without the
    // cache the whole parse/transform plan would execute twice (once for
    // the probe, once for the write)
    val cached = df.persist()
    try {
      if (cached.isEmpty) false
      else {
        cached.coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(s"$outDir/$fileName")
        true
      }
    } finally cached.unpersist()
  }
}

/** §3.1: the composed EDINET pipeline, network-free — starts from files
  * already landed on disk (the ingest client is graft.ingest, built
  * against recorded fixtures; there is no egress in this environment).
  *
  * main.py:13-40 becomes one declarative plan:
  *   company master -> best-file manifest -> per-format statement parse
  *   -> union -> revenue transform -> guarded sink.
  */
object Pipeline {

  /** Run over a directory of extracted statement files named per the
    * `E{code}_{yyyymmdd}_{type}.{csv|xbrl}` convention. */
  def run(spark: SparkSession, masterCsv: String, filesDir: String,
      outDir: String): Boolean = {
    val result = transform(spark, masterCsv, filesDir)
    Sink.writeCsv(result, outDir, "japan_company_data")
  }

  def transform(spark: SparkSession, masterCsv: String, filesDir: String): DataFrame = {
    val companies = CompanyMaster.load(spark, masterCsv)

    // Manifest from the landed files; ingest sequence from the filename's
    // lexicographic order (stable stand-in for API return order). The
    // sequence is derived PER ROW from fields already in the name —
    // within a company (the only scope bestPerCompany compares seqs in),
    // (submit_ymd, fmt) ordering IS filename ordering — so a
    // hundred-million-file manifest needs no global single-partition
    // window sort.
    val bin = spark.read.format("binaryFile")
      .load(s"$filesDir/*")
      .select(col("path"), col("content"))
    val manifest = BestFile.parseManifest(bin.select(col("path")))
      .withColumn("seq",
        col("submit_ymd").cast("long") * 2 + (col("fmt") === "xbrl").cast("long"))
      // only target document types compete for best-file (reference
      // filters the doc list before download, src/extract.py:158; a
      // stray quarterly report must not displace the annual filing)
      .filter(col("doc_type").isin(targetDocTypes: _*))
    val best = BestFile.bestPerCompany(manifest)

    // Parse only the winners (dedup-before-parse, SURVEY §4): semi-join
    // the binary source against the selected manifest, then branch by
    // format. The manifest is tiny -> broadcast semi-join.
    val winners = bin.join(
      broadcast(best.select(col("path"), col("fmt"), col("edinet_code"))),
      Seq("path"))
    val csvRows = StatementSources.parseCsvBytes(
      spark, winners.filter(col("fmt") === "csv").select("path", "content"))
    val xbrlRows = StatementSources.parseXbrlBytes(
      spark, winners.filter(col("fmt") === "xbrl").select("path", "content"))
    val stmts = csvRows.unionByName(xbrlRows)

    // Attach edinet_code from the manifest (filename-as-metadata becomes
    // a manifest column, SURVEY §1.1).
    val withCode = stmts.join(
      broadcast(best.select(col("path").as("file"), col("edinet_code"))),
      Seq("file"))

    RevenueTransform(withCode, companies)
  }
}
