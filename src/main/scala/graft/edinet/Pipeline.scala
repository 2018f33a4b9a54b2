package graft.edinet

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Model._

/** S8 + N5: guarded CSV sink (reference src/load.py:8-31). */
object Sink {

  /** Write the final frame as a single UTF-8 headered CSV under
    * `outDir/fileName`. Returns false on empty input and leaves any
    * earlier output there untouched — the reference's empty-pipeline
    * guard (src/load.py:20-22, main.py:33-35).
    *
    * One Spark job: the frame is written once, as `repartition(1)` (the
    * reference's one-output-file contract), into a staging dir next to
    * the destination; emptiness is read from the staged file's first
    * two lines on the driver, so there is no probe job and no cache.
    * `coalesce(1)` would instead pull the whole upstream stage into the
    * one writing task. A non-empty staged output then takes the
    * destination's place through [[replace]]. */
  def writeCsv(df: DataFrame, outDir: String, fileName: String): Boolean = {
    val out = new Path(outDir)
    val dest = new Path(out, fileName)
    val staging = new Path(out, s".$fileName.staging")
    val fs = out.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val outExisted = fs.exists(out)
    df.repartition(1).write.mode("overwrite").option("header", "true")
      .csv(staging.toString)
    val hasRow = fs.listStatus(staging).exists { f =>
      f.getPath.getName.startsWith("part-") && {
        val in = new BufferedReader(
          new InputStreamReader(fs.open(f.getPath), StandardCharsets.UTF_8))
        try { in.readLine(); in.readLine() != null } finally in.close()
      }
    }
    if (hasRow) replace(fs, staging, dest)
    else fs.delete(if (outExisted) staging else out, true)
    hasRow
  }

  /** Moves `staging` to `dest`. An earlier `dest` is first moved aside
    * to `.<name>.old` and deleted only once `staging` is in place; if
    * that rename fails, it is moved back and the call throws. So a crash
    * at any point leaves the earlier output at `dest` or at `.old`. A
    * stale `.old` from such a crash is deleted before the swap. */
  private[edinet] def replace(fs: FileSystem, staging: Path, dest: Path): Unit = {
    val old = new Path(dest.getParent, s".${dest.getName}.old")
    fs.delete(old, true)
    val hadDest = fs.exists(dest)
    if (hadDest && !fs.rename(dest, old))
      throw new java.io.IOException(s"could not move $dest to $old")
    if (!fs.rename(staging, dest)) {
      if (hadDest) fs.rename(old, dest)
      throw new java.io.IOException(s"could not move $staging to $dest")
    }
    fs.delete(old, true)
  }
}

/** §3.1: the composed EDINET pipeline, network-free — starts from files
  * already landed on disk (the ingest client is graft.ingest, built
  * against recorded fixtures; there is no egress in this environment).
  *
  * main.py:13-40 becomes one declarative plan:
  *   company master -> best-file manifest -> format-dispatching parse of
  *   each winner to its revenue series -> row-local normalize ->
  *   broadcast enrich -> guarded sink.
  * No shuffle is keyed on the file: the per-file rules run inside the
  * parse, in the task that already holds the file.
  */
object Pipeline {

  /** Run over a directory of extracted statement files named per the
    * `E{code}_{yyyymmdd}_{type}.{csv|xbrl}` convention. */
  def run(spark: SparkSession, masterCsv: String, filesDir: String,
      outDir: String): Boolean = {
    val result = transform(spark, masterCsv, filesDir)
    Sink.writeCsv(result, outDir, "japan_company_data")
  }

  /** Builds the plan without running a Spark job. `filesDir` is loaded
    * as one root path, so the driver lists it with one call; a glob over
    * its files would expand to one root per file and, past Spark's
    * parallel-discovery threshold, list them in a job of its own. */
  def transform(spark: SparkSession, masterCsv: String, filesDir: String): DataFrame = {
    val companies = CompanyMaster.load(spark, masterCsv)

    // The driver already holds the listing (loading the dir listed it to
    // plan the scan), so the winners are picked from it before any job,
    // in filename order (the stand-in for the reference's list order).
    // `inputFiles` gives URIs; the scan's `path` column holds the decoded
    // Path string, and its `_metadata.file_path` that Path's URI.
    val bin = spark.read.format("binaryFile").load(filesDir)
    val landed = bin.inputFiles.map(u => new Path(new URI(u)).toString).sorted.toSeq
    val winners = BestFile.pick(landed.flatMap(p => BestFile.parse(p).map(p -> _)))(_._2)
      .map { case (p, _) => new Path(p).toUri.toString }

    // Parse only the winners (dedup-before-parse, SURVEY §4): the scan
    // keeps a file by its `_metadata.file_path`, which Spark prunes at
    // listing, so a losing file's bytes are never read; one parse then
    // dispatches on each winner's format.
    val files = bin.filter(col("_metadata.file_path").isin(winners: _*))
      .select(col("path"), col("content"), BestFile.fmt(col("path")).as("fmt"))
    // edinet_code from the filename (filename-as-metadata, SURVEY §1.1)
    val series = StatementSources.parse(files)
      .withColumn("edinet_code", BestFile.edinetCode(col("file")))

    RevenueTransform(series, companies)
  }
}
