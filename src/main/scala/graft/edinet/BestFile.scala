package graft.edinet

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Model._

/** A1 + F8/F9: best-file-per-company selection over the extracted-file
  * manifest (reference src/transform.py:109-145).
  *
  * Filename convention `E{digits}_{yyyymmdd}_{docType}.{csv|xbrl}`
  * (reference src/utils/helper.py:82-86). Priority: docType 130
  * (correction) beats 120. The reference's dict only overwrites when
  * `doc_type == '130'` ("if company_code not in company_files or
  * doc_type == 130", src/transform.py:133), so when corrections exist
  * the LAST 130 wins, and with no correction the FIRST seen file wins —
  * reproduced with a carried ingest-sequence column and a window sort
  * whose tiebreak direction depends on the doc type.
  */
object BestFile {

  private val FilenamePattern = "E(\\d+)_(\\d+)_(\\d+)\\.(csv|xbrl)"

  /** Add the filename's fields to a manifest of file paths: its input
    * columns plus `edinet_code`, `submit_ymd`, `doc_type` and `fmt`. Rows
    * whose filename doesn't match the convention are dropped with the
    * same silent-skip semantics as the reference's regex guard
    * (src/transform.py:127-131). */
  def parseManifest(files: DataFrame, pathCol: String = "path"): DataFrame = {
    val path = col(pathCol)
    files
      .withColumn("edinet_code", edinetCode(path))
      .withColumn("submit_ymd", nameField(path, 2))
      .withColumn("doc_type", nameField(path, 3))
      .withColumn("fmt", nameField(path, 4))
      .filter(col("doc_type") =!= "") // non-matching filenames skipped
  }

  /** The company code in the filename at the end of `path`. */
  def edinetCode(path: Column): Column = concat(lit("E"), nameField(path, 1))

  private def nameField(path: Column, group: Int): Column =
    regexp_extract(element_at(split(path, "/"), -1), FilenamePattern, group)

  /** Top-1-per-company: corrected (130) wins; among 130s the last
    * ingest seq wins (every 130 overwrites), among plain filings the
    * FIRST seq wins (non-130s never overwrite an existing entry); `seq`
    * is the manifest's ingest order (reference list order).
    * One shuffle on edinet_code over the (tiny) manifest — the selection
    * happens BEFORE any expensive statement parsing, preserving the
    * reference's dedup-before-parse ordering (SURVEY §4). */
  def bestPerCompany(manifest: DataFrame): DataFrame = {
    val isCorrection = col("doc_type") === correctionDocType
    val w = Window.partitionBy(col("edinet_code"))
      .orderBy(
        isCorrection.desc,
        when(isCorrection, -col("seq")).otherwise(col("seq")).asc)
    manifest
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
