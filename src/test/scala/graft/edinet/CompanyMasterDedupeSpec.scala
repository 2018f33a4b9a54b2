package graft.edinet

import java.nio.file.Files

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import Model.MasterCols

/** J1 on a master read as several splits: "first row" is scan-partition
  * order, then row order, and the one-task fold must keep the row the
  * `row_number` window over `monotonically_increasing_id` keeps. */
class CompanyMasterDedupeSpec extends SparkSpec {
  import EdinetFixtures._

  test("multi-split master: the fold keeps the window's first row per code, null codes too (J1)") {
    val dir = tempDir()
    val header = new String(Files.readAllBytes(writeMasterCsv(dir)), Cp932).linesIterator.next()
    val masters = Files.createDirectories(dir.resolve("master"))
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 400).map { i =>
      val code = if (rnd.nextInt(20) == 0) "" else f"E${rnd.nextInt(40)}%05d"
      s"$code,法人,Listed company,Consolidated,100,3.31,会社$i,Company $i,カナ,Tokyo,Industry$i,$i,$i"
    }
    Seq("a" -> rows.take(250), "b" -> rows.drop(250)).foreach { case (name, part) =>
      Files.write(masters.resolve(s"master-$name.csv"), (header +: part).mkString("\n").getBytes(Cp932))
    }

    withConf("spark.sql.files.maxPartitionBytes" -> "2048", "spark.sql.files.openCostInBytes" -> "0") {
      val master = CompanyMaster.filterChain(CompanyMaster.read(spark, masters.toString))
      assert(master.rdd.getNumPartitions >= 3)
      val spread = master.withColumn("part", spark_partition_id()).groupBy(MasterCols.EdinetCode)
        .agg(countDistinct("part").as("parts")).filter(col("parts") > 1)
      assert(!spread.isEmpty, "no code has rows in more than one split")

      val w = Window.partitionBy(col(MasterCols.EdinetCode)).orderBy(monotonically_increasing_id())
      val reference = master.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      val folded = CompanyMaster.dedupeByCode(master)
      val expected = reference.collect().map(_.toSeq).toSet
      assert(folded.collect().map(_.toSeq).toSet == expected)
      assert(expected.size == master.select(MasterCols.EdinetCode).distinct().count())
      assert(expected.exists(_.head == null))
    }
  }
}
