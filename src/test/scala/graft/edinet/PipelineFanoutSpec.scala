package graft.edinet

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
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
    assert(binaryScans.sortBy(_.size) == Seq(Seq("path"), Seq("content", "path")),
      s"binaryFile scans: $binaryScans")
    val manifestExchanges = collect(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect {
      case h: HashPartitioning if h.expressions.exists {
        case a: Attribute => a.name == "edinet_code"
        case _ => false
      } => h
    }
    assert(manifestExchanges.size == 1, s"exchanges on edinet_code: $manifestExchanges")

    // the per-file rules run inside the parse: nothing re-groups by file
    def keyNames(keys: Seq[Expression]): Seq[String] = keys.collect { case a: Attribute => a.name }
    val fileExchanges = collect(plan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning if keyNames(h.expressions).contains("file") => h }
    assert(fileExchanges.isEmpty, s"exchanges on file: $fileExchanges")
    // the only windows are BestFile's pick and the company master's
    // dedupe (none at all once a session's top-k rewrite plans them)
    val windows = collect(plan) { case w: WindowExec => keyNames(w.partitionSpec) }
    assert(windows.toSet.subsetOf(Set(Seq("edinet_code"), Seq(MasterCols.EdinetCode))),
      s"window partition keys: $windows")
  }
}
