package graft.edinet

import org.apache.spark.sql.functions._

import graft.SparkSpec
import Model._

class CompanyMasterSpec extends SparkSpec {
  import EdinetFixtures._

  lazy val masterPath = {
    val dir = tempDir()
    writeMasterCsv(dir).toString
  }

  test("cp932 read + filter chain keeps listed/consolidated with names (P1-P4)") {
    val out = CompanyMaster.filterChain(CompanyMaster.read(spark, masterPath))
    val codes = out.select(MasterCols.EdinetCode).collect().map(_.getString(0)).toSet
    // E00003 unlisted, E00004 non-consolidated, E00005 null name -> dropped
    assert(codes == Set("E00001", "E00002", "E00006"))
    assert(out.columns.length == 6)
  }

  test("industry exclusion flag (P5)") {
    val out = CompanyMaster.filterChain(
      CompanyMaster.read(spark, masterPath), excludeIndustries = Seq("Construction"))
    val codes = out.select(MasterCols.EdinetCode).collect().map(_.getString(0)).toSet
    assert(!codes.contains("E00002"))
  }

  test("duplicate code dedupe: first row wins (§7.4.6)") {
    val out = CompanyMaster.load(spark, masterPath)
    val alpha = out.filter(col(MasterCols.EdinetCode) === "E00001").collect()
    assert(alpha.length == 1)
    assert(alpha.head.getAs[String](MasterCols.NameEn) == "Alpha Corp")
  }

  test("Japanese text survives the cp932 round-trip") {
    val raw = CompanyMaster.read(spark, masterPath)
    val jp = raw.filter(col(MasterCols.EdinetCode) === "E00003")
      .select("Submitter Name").collect().head.getString(0)
    assert(jp == "ガンマ")
  }
}

class BestFileSpec extends SparkSpec {
  import spark.implicits._

  /** The winners among `paths`, in `paths` order, with their keys. */
  private def pick(paths: String*): Seq[BestFile.Key] =
    BestFile.pick(paths.flatMap(p => BestFile.parse(p).map(p -> _)))(_._2).map(_._2)

  test("filename parsing (F8/F9) extracts code/date/type/fmt; junk skipped") {
    val keys = Seq("/x/E00001_20240401_120.csv", "/x/E00002_20240401_130.xbrl", "/x/readme.txt")
      .flatMap(BestFile.parse)
    assert(keys.length == 2)
    assert(keys(0).edinetCode == "E00001")
    assert(keys(0).docType == "120")
    assert(keys(1).fmt == "xbrl")
  }

  test("130 (correction) beats 120 regardless of order (A1)") {
    val best = pick("/x/E00001_20240402_130.csv", "/x/E00001_20240405_120.csv")
    assert(best.length == 1)
    assert(best.head.docType == "130")
  }

  test("among plain 120 filings the FIRST seen wins (dict never overwrites non-130)") {
    val best = pick("/x/E00001_20240401_120.csv", "/x/E00001_20240409_120.csv")
    assert(best.head.submitYmd == "20240401")
  }

  test("among corrections the LAST 130 wins (every 130 overwrites)") {
    val best = pick(
      "/x/E00001_20240401_130.csv", "/x/E00001_20240405_130.csv",
      "/x/E00001_20240409_120.csv")
    assert(best.length == 1)
    assert(best.head.submitYmd == "20240405")
  }

  test("one winner per company") {
    val best = pick(
      "/x/E00001_20240401_120.csv", "/x/E00001_20240402_130.csv",
      "/x/E00002_20240401_120.xbrl")
    assert(best.length == 2)
    assert(best.map(_.edinetCode).distinct.length == 2)
  }

  /** Line by line, the reference's loop (src/transform.py:109-145) over
    * `files` in ingest order, behind the target-type filter its doc list
    * passed before download: code -> winning path. */
  private def referenceLoop(files: Seq[String]): Map[String, String] = {
    val pattern = java.util.regex.Pattern.compile("E(\\d+)_(\\d+)_(\\d+)\\.(csv|xbrl)")
    val companyFiles = scala.collection.mutable.Map.empty[String, String]
    for (filePath <- files) {
      val filename = filePath.split("/", -1).last
      val m = pattern.matcher(filename)
      if (m.find()) {
        val companyCode = "E" + m.group(1)
        val docType = m.group(3)
        if (Model.targetDocTypes.contains(docType))
          if (!companyFiles.contains(companyCode) || docType == "130")
            companyFiles(companyCode) = filePath
      }
    }
    companyFiles.toMap
  }

  test("seeded: the pick equals the reference loop and the window spelling on 300 manifests") {
    val rnd = new scala.util.Random(20240401L)
    def name(): String = {
      val code = s"E${rnd.nextInt(4) + 1}"
      val ymd = f"202404${rnd.nextInt(4) + 1}%02d"
      val tpe = Seq("120", "130", "140")(rnd.nextInt(3))
      val fmt = if (rnd.nextBoolean()) "csv" else "xbrl"
      rnd.nextInt(10) match {
        case 0 => Seq("readme.txt", s"${code}_$ymd.csv", s"${code}_${ymd}_$tpe.pdf",
          s"E_${ymd}_$tpe.csv")(rnd.nextInt(4))
        case 1 => s"x${code}_${ymd}_$tpe.${fmt}z"
        case 2 => s"${code}_${ymd}_$tpe.$fmt.bak"
        case _ => s"${code}_${ymd}_$tpe.$fmt"
      }
    }
    val manifests = (0 until 300).map(_ => Seq.fill(rnd.nextInt(12) + 1)(s"/landing/${name()}").distinct)

    // the driver's pick over each manifest in path order, as Pipeline runs it
    val picked = manifests.map { paths =>
      BestFile.pick(paths.sorted.flatMap(p => BestFile.parse(p).map(p -> _)))(_._2)
        .map { case (p, k) => k.edinetCode -> p }.toMap
    }
    // the reference loop over path order within the ingest-order stand-in
    val looped = manifests.map { paths =>
      referenceLoop(paths.flatMap(p => BestFile.parse(p).map(k => (k.seq, p))).sorted.map(_._2))
    }
    assert(picked == looped)
    assert(picked.exists(_.size > 1) && picked.exists(_.values.exists(_.contains("xE"))))

    // the window spelling the pick replaced, with the path as the last
    // sort key (it broke ties between equal keys arbitrarily)
    val pattern = "E(\\d+)_(\\d+)_(\\d+)\\.(csv|xbrl)"
    def field(i: Int) = regexp_extract(element_at(split(col("path"), "/"), -1), pattern, i)
    val isCorrection = col("doc_type") === Model.correctionDocType
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("m"), col("edinet_code"))
      .orderBy(isCorrection.desc, when(isCorrection, -col("seq")).otherwise(col("seq")).asc,
        when(isCorrection, col("path")).desc, col("path").asc)
    val windowed = manifests.zipWithIndex.flatMap { case (ps, m) => ps.map(m -> _) }.toDF("m", "path")
      .withColumn("edinet_code", concat(lit("E"), field(1)))
      .withColumn("doc_type", field(3))
      .filter(col("doc_type") =!= "")
      .withColumn("seq", field(2).cast("long") * 2 + (field(4) === "xbrl").cast("long"))
      .filter(col("doc_type").isin(Model.targetDocTypes: _*))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("m", "edinet_code", "path").as[(Int, String, String)].collect()
      .groupBy(_._1).map { case (m, rows) => m -> rows.map(r => r._2 -> r._3).toMap }
    assert(picked.indices.map(m => windowed.getOrElse(m, Map.empty[String, String])) == picked)
  }
}

class StatementCsvSpec extends SparkSpec {
  import EdinetFixtures._

  test("UTF-16 TSV parse: row order, header stripped, values intact (S2)") {
    val dir = tempDir()
    writeStatementCsv(dir, "E00001_20240401_120.csv", statementCsvContent())
    val rows = StatementSources.readCsv(spark, dir.toString + "/*.csv")
      .orderBy("row_idx").collect()
    assert(rows.length == 6)
    assert(rows(0).getAs[String](StmtCols.ElementId) == fiscalYearEndElement)
    assert(rows(1).getAs[String](StmtCols.Value) == "5000")
    assert(rows(5).getAs[String](StmtCols.ContextId) == "Prior4YearDuration")
  }

  test("CRLF line endings parse identically to LF") {
    val dir = tempDir()
    writeStatementCsv(dir, "E00001_20240401_120.csv",
      statementCsvContent().replace("\n", "\r\n"))
    val rows = StatementSources.readCsv(spark, dir.toString + "/*.csv")
      .orderBy("row_idx").collect()
    assert(rows.length == 6)
    assert(rows(1).getAs[String](StmtCols.Value) == "5000")
  }

  test("undecodable / malformed file is skipped, not fatal (N3)") {
    val dir = tempDir()
    java.nio.file.Files.write(dir.resolve("E00009_20240401_120.csv"),
      Array[Byte](1, 2, 3, 4))
    writeStatementCsv(dir, "E00001_20240401_120.csv", statementCsvContent())
    val rows = StatementSources.readCsv(spark, dir.toString + "/*.csv")
    assert(rows.select("file").distinct().count() == 1)
  }
}

class XbrlSpec extends SparkSpec {
  import EdinetFixtures._

  test("StAX parse emits fiscal-year row + 5 revenue rows in doc order (S3)") {
    val dir = tempDir()
    writeXbrl(dir, "E00001_20240401_120.xbrl", xbrlContent())
    val rows = StatementSources.readXbrl(spark, dir.toString + "/*.xbrl")
      .orderBy("row_idx").collect()
    assert(rows.length == 6)
    assert(rows(0).getAs[String](StmtCols.ElementId) == fiscalYearEndElement)
    assert(rows(0).getAs[String](StmtCols.Value) == "2024-03-31")
    // missing unitRef defaults to JPY at parse time, XBRL path only
    // (reference transform.py:64 elem.get('unitRef','JPY'))
    assert(rows(3).getAs[String](StmtCols.UnitId) == "JPY")
    assert(rows(5).getAs[String](StmtCols.Value) == "10000")
  }

  test("broken XML is skipped (N3)") {
    val dir = tempDir()
    writeXbrl(dir, "E00002_20240401_120.xbrl", "<not-xml")
    val rows = StatementSources.readXbrl(spark, dir.toString + "/*.xbrl")
    assert(rows.isEmpty)
  }

  test("window slots are consumed by skipped elements too (ref positional contract)") {
    // 5-slot window after the marker: a no-contextRef element and an
    // empty-text element occupy slots 2 and 3 without emitting, so the
    // 5th value ("extra" would be 6th) must NOT be pulled in.
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<x:root xmlns:x="urn:t">
         |  <x:CurrentPeriodEndDateDEI contextRef="c">2024-03-31</x:CurrentPeriodEndDateDEI>
         |  <x:NumberOfSubmissionDEI contextRef="c">1</x:NumberOfSubmissionDEI>
         |  <x:A contextRef="CurrentYearDuration" unitRef="JPY">100</x:A>
         |  <x:NoCtx>200</x:NoCtx>
         |  <x:Empty contextRef="Prior1YearDuration"></x:Empty>
         |  <x:B contextRef="Prior2YearDuration" unitRef="JPY">300</x:B>
         |  <x:C contextRef="Prior3YearDuration" unitRef="JPY">400</x:C>
         |  <x:Beyond contextRef="Prior4YearDuration" unitRef="JPY">999</x:Beyond>
         |</x:root>""".stripMargin
    val dir = tempDir()
    writeXbrl(dir, "E00003_20240401_120.xbrl", xml)
    val rows = StatementSources.readXbrl(spark, dir.toString + "/*.xbrl")
      .orderBy("row_idx").collect()
    // fiscal row + exactly 3 emitted window values (100, 300, 400)
    assert(rows.length == 4)
    val vals = rows.drop(1).map(_.getAs[String](StmtCols.Value)).toSeq
    assert(vals == Seq("100", "300", "400"))
    // all emitted under the first emitted element's id ("A")
    assert(rows.drop(1).map(_.getAs[String](StmtCols.ElementId)).toSet == Set("A"))
  }
}

class ArchiveExtractSpec extends SparkSpec {
  import EdinetFixtures._

  test("largest member of the wanted extension wins; conventional name (S6/A2)") {
    import spark.implicits._
    val zip = zipBytes(Seq(
      "XBRL/PublicDoc/small.csv" -> "small".getBytes("UTF-8"),
      "XBRL/PublicDoc/big.csv" -> ("x" * 1000).getBytes("UTF-8"),
      "XBRL/PublicDoc/ignored.xbrl" -> ("y" * 5000).getBytes("UTF-8")))
    val df = Seq(("doc1", zip, "E00001", "20240401", "120", "csv"))
      .toDF("docID", "zip", "edinetCode", "submitYmd", "docTypeCode", "ext")
    val out = ArchiveExtract.extractBest(spark, df).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("path") == "E00001_20240401_120.csv")
    assert(out.head.getAs[String]("member") == "XBRL/PublicDoc/big.csv")
    assert(out.head.getAs[Long]("member_size") == 1000L)
  }

  test("format dispatch: csvFlag wins, xbrl fallback, neither -> skip (S7)") {
    assert(ArchiveExtract.targetExtension("1", "1").contains("csv"))
    assert(ArchiveExtract.targetExtension("0", "1").contains("xbrl"))
    assert(ArchiveExtract.targetExtension("0", "0").isEmpty)
  }

  test("corrupt zip is skipped (N3)") {
    import spark.implicits._
    val df = Seq(("doc1", Array[Byte](9, 9, 9), "E00001", "20240401", "120", "csv"))
      .toDF("docID", "zip", "edinetCode", "submitYmd", "docTypeCode", "ext")
    assert(ArchiveExtract.extractBest(spark, df).isEmpty)
  }
}

class PipelineSpec extends SparkSpec {
  import EdinetFixtures._

  test("end-to-end: master + statements -> enriched 5-year revenue (golden)") {
    val dir = tempDir()
    val master = writeMasterCsv(dir).toString
    val files = dir.resolve("files")
    java.nio.file.Files.createDirectories(files)
    // Alpha: plain CSV filing
    writeStatementCsv(files, "E00001_20240401_120.csv", statementCsvContent())
    // Beta: 120 then a 130 correction — the correction must win
    writeStatementCsv(files, "E00002_20240401_120.csv",
      statementCsvContent(series = Seq(("CurrentYearDuration", "JPY", "999"))))
    writeStatementCsv(files, "E00002_20240405_130.csv", statementCsvContent(
      fyEnd = "2023-12-31",
      series = Seq(
        ("CurrentYearDuration", "JPY", "700"),
        ("Prior1YearDuration", "JPY", "600"),
        ("UnknownContext", "JPY", "555"),      // P10: skipped
        ("Prior2YearDuration", "JPY", "not-a-number"), // P11: skipped
        ("Prior3YearDuration", "JPY", "400"))))
    // Zeta: XBRL filing
    writeXbrl(files, "E00006_20240401_120.xbrl", xbrlContent())
    // Unknown company: guarded out by the join (P9)
    writeStatementCsv(files, "E99999_20240401_120.csv", statementCsvContent())
    // Non-target doc type (quarterly 140) arriving LATER than the annual
    // report: must not displace it in best-file selection
    writeStatementCsv(files, "E00001_20240901_140.csv", statementCsvContent(
      series = Seq(("CurrentYearDuration", "JPY", "123456789"))))

    val out = Pipeline.transform(spark, master, files.toString)
      .orderBy("companyname", "year").collect()

    val byCompany = out.groupBy(_.getAs[String]("companyname"))
    // Alpha: 5 years 2020..2024 with 1000..5000 — from the ANNUAL (120)
    // filing; the later quarterly (140) was filtered before selection
    val alpha = byCompany("Alpha Corp").map(r =>
      (r.getAs[Int]("year"), r.getAs[Long]("revenue")))
    assert(alpha.toSeq.sorted == Seq((2020, 1000L), (2021, 2000L), (2022, 3000L), (2023, 4000L), (2024, 5000L)))
    // Beta: correction file, 2 skips -> 3 rows, fiscal 2023
    val beta = byCompany("Beta KK").map(r =>
      (r.getAs[Int]("year"), r.getAs[Long]("revenue"))).toSeq.sorted
    assert(beta == Seq((2020, 400L), (2022, 600L), (2023, 700L)))
    // Zeta via XBRL: default JPY unit on the missing-unitRef row
    val zeta = byCompany("Zeta Holdings")
    assert(zeta.length == 5)
    assert(zeta.forall(_.getAs[String]("revenue_unit") == "JPY"))
    assert(zeta.forall(_.getAs[String]("geonameen") == "Japan"))
    // no unknown company leaked through
    assert(!byCompany.contains("E99999") && byCompany.size == 3)
  }

  test("empty input -> guarded, nothing written (N5)") {
    val dir = tempDir()
    val master = writeMasterCsv(dir).toString
    val files = dir.resolve("files")
    java.nio.file.Files.createDirectories(files)
    writeStatementCsv(files, "junk_no_match.csv", statementCsvContent())
    val wrote = Pipeline.run(spark, master, files.toString, dir.resolve("out").toString)
    assert(!wrote)
    assert(!java.nio.file.Files.exists(dir.resolve("out/japan_company_data")))
  }

  /** Names under `dir`, sorted; empty when it does not exist. */
  private def names(dir: java.nio.file.Path): Seq[String] =
    Option(dir.toFile.list()).toSeq.flatten.sorted

  /** Each file under `dir` by name, with its bytes. */
  private def files(dir: java.nio.file.Path): Map[String, Seq[Byte]] =
    names(dir).map(n => n -> java.nio.file.Files.readAllBytes(dir.resolve(n)).toSeq).toMap

  /** Runs `body` and checks it left nothing registered as persistent,
    * in the RDD registry or the Dataset cache. */
  private def persistsNothing[T](body: => T): T = {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = body
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    result
  }

  test("sink: one part file with a header and every row; no staging, nothing persisted") {
    val out = tempDir().resolve("out")
    val df = spark.range(0, 50, 1, 4)
      .selectExpr("cast(id AS INT) AS year", "concat('c', id) AS companyname")
    assert(persistsNothing(Sink.writeCsv(df, out.toString, "japan_company_data")))
    assert(names(out) == Seq("japan_company_data"))
    val parts = names(out.resolve("japan_company_data"))
      .filter(n => n.startsWith("part-") && n.endsWith(".csv"))
    assert(parts.size == 1, s"part files: $parts")
    val lines = java.nio.file.Files.readAllLines(out.resolve("japan_company_data").resolve(parts.head))
    assert(lines.get(0) == "year,companyname")
    assert(lines.size == 1 + 50)
  }

  test("sink: empty input after a written run returns false and keeps the earlier CSV") {
    val out = tempDir().resolve("out")
    val df = spark.range(0, 5, 1, 2).selectExpr("cast(id AS INT) AS year")
    assert(Sink.writeCsv(df, out.toString, "japan_company_data"))
    def snapshot(): Map[String, Seq[Byte]] = {
      val dest = out.resolve("japan_company_data")
      names(dest).map(n => n -> java.nio.file.Files.readAllBytes(dest.resolve(n)).toSeq).toMap
    }
    val before = snapshot()
    assert(!persistsNothing(Sink.writeCsv(df.filter("year < 0"), out.toString, "japan_company_data")))
    assert(names(out) == Seq("japan_company_data"))
    assert(snapshot() == before)
  }

  test("sink: a replace swaps the new CSV in and leaves no .old, even a stale one") {
    val out = tempDir().resolve("out")
    val first = spark.range(0, 5, 1, 2).selectExpr("cast(id AS INT) AS year")
    assert(Sink.writeCsv(first, out.toString, "japan_company_data"))
    // as left by a crash between moving the old output aside and deleting it
    java.nio.file.Files.createDirectories(out.resolve(".japan_company_data.old"))
    assert(Sink.writeCsv(first.selectExpr("year + 100 AS year"), out.toString, "japan_company_data"))
    assert(names(out) == Seq("japan_company_data"))
    val csv = files(out.resolve("japan_company_data")).collect {
      case (n, bytes) if n.startsWith("part-") => new String(bytes.toArray, "UTF-8")
    }
    assert(csv.size == 1 && csv.head.linesIterator.toSeq.tail.sorted == (100 to 104).map(_.toString))
  }

  test("sink: a failed rename of the staged CSV keeps the earlier CSV byte-identical") {
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
    val out = tempDir().resolve("out")
    val df = spark.range(0, 5, 1, 2).selectExpr("cast(id AS INT) AS year")
    assert(Sink.writeCsv(df, out.toString, "japan_company_data"))
    val dest = out.resolve("japan_company_data")
    val before = files(dest)
    val staging = out.resolve(".japan_company_data.staging")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-00000.csv"), "year\n9\n".getBytes("UTF-8"))
    val renameFails = new FilterFileSystem(
        FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)) {
      override def rename(src: Path, dst: Path): Boolean =
        src.getName != staging.getFileName.toString && super.rename(src, dst)
    }
    intercept[java.io.IOException] {
      Sink.replace(renameFails, new Path(staging.toUri), new Path(dest.toUri))
    }
    assert(files(dest) == before)
    assert(!names(out).contains(".japan_company_data.old"))
  }
}
