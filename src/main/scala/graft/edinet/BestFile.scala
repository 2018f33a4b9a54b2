package graft.edinet

import scala.collection.mutable

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import Model._

/** A1 + F8/F9: best-file-per-company selection (reference
  * src/transform.py:109-145), as plain functions over file names.
  *
  * Filename convention `E{digits}_{yyyymmdd}_{docType}.{csv|xbrl}`
  * (reference src/utils/helper.py:82-86). Priority: docType 130
  * (correction) beats 120. The reference's dict only overwrites when
  * `doc_type == '130'` ("if company_code not in company_files or
  * doc_type == 130", src/transform.py:133), so when corrections exist
  * the LAST 130 wins, and with no correction the FIRST seen file wins.
  */
object BestFile {

  /** The fields of a file name: `E` + the code's digits, the submit date
    * digits, the doc type and the format (`csv` or `xbrl`). */
  final case class Key(edinetCode: String, submitYmd: String, docType: String, fmt: String) {
    /** The ingest-order stand-in within a company: by date, a CSV before
      * the XBRL of the same date. */
    def seq: BigInt = BigInt(submitYmd) * 2 + (if (fmt == "xbrl") 1 else 0)
  }

  private val FilenamePattern = "E(\\d+)_(\\d+)_(\\d+)\\.(csv|xbrl)".r

  /** The [[Key]] of the file name at the end of `path`, or None when no
    * part of the name matches the convention. The match may start and
    * end anywhere in the name, as the reference's `re.search`-style guard
    * does (src/transform.py:120,127-131); such files are skipped. */
  def parse(path: String): Option[Key] =
    FilenamePattern.findFirstMatchIn(path.substring(path.lastIndexOf('/') + 1))
      .map(m => Key("E" + m.group(1), m.group(2), m.group(3), m.group(4)))

  /** The company code in the file name at the end of a path column,
    * through [[parse]]; null for a name it skips. */
  val edinetCode: UserDefinedFunction =
    udf((path: String) => parse(path).map(_.edinetCode).orNull)

  /** The format (`csv` or `xbrl`) of the file name at the end of a path
    * column, through [[parse]]; null for a name it skips. */
  val fmt: UserDefinedFunction = udf((path: String) => parse(path).map(_.fmt).orNull)

  /** Top-1-per-company over `files` in ingest order: only target doc
    * types compete (the reference filters the doc list before download,
    * src/extract.py:158, so a stray quarterly report must not displace
    * the annual filing); a 130 beats a 120; among 130s the last [[Key.seq]]
    * wins and among the others the first, with ties going to the later
    * 130 and the earlier other file in `files` order. One pass and one
    * entry per company, so it serves a document list before download as
    * well as a landing dir's listing. */
  def pick[A](files: Seq[A])(key: A => Key): Seq[A] = {
    val best = mutable.LinkedHashMap.empty[String, (A, Key)]
    for (f <- files; k = key(f) if targetDocTypes.contains(k.docType)) {
      val correction = k.docType == correctionDocType
      if (best.get(k.edinetCode).forall { case (_, b) =>
        if (correction != (b.docType == correctionDocType)) correction
        else if (correction) k.seq >= b.seq else k.seq < b.seq
      }) best(k.edinetCode) = (f, k)
    }
    best.valuesIterator.map(_._1).toSeq
  }
}
