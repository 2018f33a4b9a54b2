package graft.edinet

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkSpec
import Model.MasterCols

/** The parity pipeline at file fan-out: 200 companies' filings in one
  * run — proves the one-plan design scales with file count (each file is
  * an independent task; no per-file driver loop). */
class PipelineFanoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import EdinetFixtures._

  /** (master csv, landing dir): a master covering E10000..E10199, all
    * listed + consolidated, and one annual filing per company,
    * alternating CSV and XBRL. */
  private lazy val fixture: (String, String) = {
    val dir = tempDir()
    val header = java.nio.file.Files.readAllBytes(writeMasterCsv(dir))
    val rows = (0 until 200).map { i =>
      f"E${10000 + i}%05d,法人,Listed company,Consolidated,100,3.31,会社$i%d,Company $i%03d,カナ,Tokyo,Industry${i % 7}%d,$i%04d,$i%013d"
    }
    val masterPath = dir.resolve("master200.csv")
    java.nio.file.Files.write(masterPath,
      (new String(header, Cp932).linesIterator.toSeq.head + "\n" + rows.mkString("\n"))
        .getBytes(Cp932))

    val files = dir.resolve("files")
    java.nio.file.Files.createDirectories(files)
    (0 until 200).foreach { i =>
      val code = f"E${10000 + i}%05d"
      if (i % 2 == 0)
        writeStatementCsv(files, s"${code}_20240401_120.csv",
          statementCsvContent(revenueElement = s"jpcrp_cor:Rev$i"))
      else
        writeXbrl(files, s"${code}_20240401_120.xbrl", xbrlContent())
    }
    (masterPath.toString, files.toString)
  }

  test("200 filings -> 1000 revenue rows in one declarative plan") {
    val (master, files) = fixture
    val out = Pipeline.transform(spark, master, files)
    assert(out.count() == 200L * 5)
    val perCompany = out.groupBy("companyname").count()
    assert(perCompany.count() == 200)
    assert(perCompany.filter(org.apache.spark.sql.functions.col("count") =!= 5).isEmpty)
  }

  test("each piece of work once: no job to build, one manifest, one content scan") {
    val (master, files) = fixture
    var out: DataFrame = null
    // a listing job per landed file past Spark's parallel-discovery
    // threshold would show here
    assert(jobsOf { out = Pipeline.transform(spark, master, files) } == 0)
    assert(out.collect().length == 200 * 5)

    val plan = out.queryExecution.executedPlan
    val binaryScans = collect(plan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] =>
        s.requiredSchema.fieldNames.toSeq.sorted
    }
    assert(binaryScans == Seq(Seq("content", "path")), s"binaryFile scans: $binaryScans")

    // the winners are picked on the driver and the master is deduped in
    // one task, so nothing is shuffled by company
    def keyNames(keys: Seq[Expression]): Seq[String] = keys.collect { case a: Attribute => a.name }
    val hashKeys = collect(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning => keyNames(h.expressions) }
    assert(!hashKeys.flatten.exists(Set("edinet_code", MasterCols.EdinetCode, "file")),
      s"exchanges keyed on: $hashKeys")
    // the per-file rules run inside the parse and the picks are folds:
    // no window, whatever strategies the session has installed
    val windows = collect(plan) { case w: WindowExec => keyNames(w.partitionSpec) }
    assert(windows.isEmpty, s"window partition keys: $windows")
  }

  /** The CSV's data lines, sorted, from one [[Pipeline.run]]. */
  private def csvRows(fixture: (String, String)): Seq[String] = {
    val out = tempDir().resolve("out")
    assert(Pipeline.run(spark, fixture._1, fixture._2, out.toString))
    val csv = out.resolve("japan_company_data")
    csv.toFile.list().toSeq.filter(_.startsWith("part-")).flatMap { n =>
      java.nio.file.Files.readAllLines(csv.resolve(n)).asScala.drop(1)
    }.sorted
  }

  /** (master csv, landing dir `name`): the fixture master (E00001 twice,
    * the first row wins) and filings with corrections, a same-date CSV
    * and XBRL pair, a later quarterly report, junk and an unknown code. */
  private def corrections(name: String): (String, String) = {
    val dir = tempDir()
    val files = java.nio.file.Files.createDirectories(dir.resolve(name))
    writeStatementCsv(files, "E00001_20240401_120.csv", statementCsvContent())
    writeXbrl(files, "E00001_20240402_130.xbrl", xbrlContent())
    writeStatementCsv(files, "E00002_20240401_120.csv",
      statementCsvContent(series = Seq(("CurrentYearDuration", "JPY", "999"))))
    writeStatementCsv(files, "E00002_20240405_130.csv", statementCsvContent(fyEnd = "2023-12-31"))
    writeStatementCsv(files, "E00002_20240409_130.csv", statementCsvContent(fyEnd = "2022-12-31"))
    writeStatementCsv(files, "E00006_20240401_120.csv", statementCsvContent(fyEnd = "2021-03-31"))
    writeXbrl(files, "E00006_20240401_120.xbrl", xbrlContent())
    writeStatementCsv(files, "E00006_20240901_140.csv", statementCsvContent())
    writeStatementCsv(files, "E99999_20240401_120.csv", statementCsvContent())
    writeStatementCsv(files, "readme_E1_2024.csv", statementCsvContent())
    (writeMasterCsv(dir).toString, files.toString)
  }

  test("settings sweep: the same CSV rows under shuffle partitions {1, 3, 32}, AQE on and off") {
    for (fx <- Seq(fixture, corrections("files"))) {
      val runs = for (aqe <- Seq("true", "false"); n <- Seq("1", "3", "32")) yield
        withConf("spark.sql.adaptive.enabled" -> aqe, "spark.sql.shuffle.partitions" -> n)(csvRows(fx))
      assert(runs.distinct.size == 1, s"rows differ across settings: ${runs.map(_.size)}")
    }
    val rows = csvRows(corrections("files"))
    assert(rows.size == 15)
    // Alpha's first master row and its XBRL correction, the last Beta
    // correction (fiscal 2022), Zeta's CSV (fiscal 2021) over its XBRL
    assert(rows.contains("2024,Alpha Corp,Transportation equipment,Japan,50000,JPY"))
    assert(!rows.exists(_.contains("Alpha Dup")))
    assert(rows.filter(_.contains(",Beta KK,")).map(_.take(4)) == Seq("2018", "2019", "2020", "2021", "2022"))
    assert(rows.filter(_.contains(",Zeta Holdings,")).map(_.take(4)) == Seq("2017", "2018", "2019", "2020", "2021"))
  }

  test("a landing dir whose path holds a space and non-ASCII text gives the same rows") {
    assert(csvRows(corrections("受信 files")) == csvRows(corrections("files")))
  }

  test("the content scan reads only the winners' files and broadcasts none of them") {
    for (name <- Seq("files", "受信 files")) {
      val (master, files) = corrections(name)
      val out = Pipeline.transform(spark, master, files)
      assert(out.collect().length == 15)
      val plan = out.queryExecution.executedPlan
      // 10 files landed; the winners are E00001's XBRL correction,
      // E00002's last correction, E00006's CSV and E99999's filing
      val numFiles = collect(plan) {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] =>
          s.metrics("numFiles").value
      }
      assert(numFiles == Seq(4L), s"binaryFile scan files in '$name': $numFiles")
      // the winners are a filter on the scan, not a broadcast local
      // frame; the one broadcast left is the company master's
      val broadcasts = collect(plan) { case b: BroadcastExchangeExec => b }
      assert(broadcasts.size == 1, s"broadcasts in '$name': ${broadcasts.size}")
      assert(broadcasts.forall(b => collect(b) { case l: LocalTableScanExec => l }.isEmpty &&
        collect(b) { case s: FileSourceScanExec =>
          s.relation.fileFormat.isInstanceOf[BinaryFileFormat] }.forall(!_)))
    }
  }
}
