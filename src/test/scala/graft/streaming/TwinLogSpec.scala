package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The log primitive's own contract on a SET-FACT log, which no
  * per-twin spec checks directly: a crash between a compaction's new
  * generation landing and its delete leaves the read unchanged and a
  * re-run converges; compacting a never-committed log is a 0-file
  * no-op that creates nothing; an empty read carries the caller's
  * schema, also while the first append is in flight; an additive
  * log's declared layout is checked at declaration and before each
  * append; an additive snapshot lands atomically; and the fact-log
  * compaction file-count rule. */
class TwinLogSpec extends SparkSpec {
  import spark.implicits._

  private val factSchema = StructType(Seq(
    StructField("cell", LongType), StructField("id", LongType),
    StructField("tag", StringType)))

  /** An additive log of per-cell id sums, kept in the directory it is
    * given (empty suffix). */
  private val idSums = TwinLog.Additive("", "cell BIGINT, id BIGINT", Seq("id"))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Data files under `dir`, partition directories included. */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  private def generations(dir: String): Set[Long] =
    spark.read.parquet(dir).select("__batch").distinct()
      .as[Long].collect().toSet

  private def fold(log: DataFrame): DataFrame =
    log.select(col("cell"), col("id"), col("tag")).distinct()

  for (partitionBy <- Seq(Nil, Seq("cell")))
    test("a compaction that crashed after landing its generation leaves " +
        "the read unchanged and a re-run converges (partitionBy = " +
        s"${partitionBy.mkString("[", ",", "]")})") {
      val dir = Files.createTempDirectory("twinlog-crash")
        .resolve("log").toString
      val b0 = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("cell", "id", "tag")
      val b1 = Seq((1L, 11L, "c"), (2L, 20L, "b")).toDF("cell", "id", "tag")
      TwinLog.append(b0, dir, 0L, partitionBy)
      TwinLog.append(b1, dir, 1L, partitionBy)
      TwinLog.append(b1, dir, 1L, partitionBy) // an at-least-once replay
      val settled = canon(TwinLog.read(spark, dir, factSchema))
      assert(settled.size == 3, s"replay or overlap not collapsed: $settled")

      // the crash: the folded generation lands, the delete never runs
      TwinLog.append(fold(spark.read.parquet(dir)), dir, 2L, partitionBy)
      assert(canon(TwinLog.read(spark, dir, factSchema)) == settled,
        "a landed-but-undeleted generation moved the read")

      // the re-run collects every file, the crashed generation included
      val files = dataFiles(dir).size
      assert(TwinLog.compact(spark, dir, Seq("cell"), partitionBy)(fold) ==
        files.toLong)
      assert(canon(TwinLog.read(spark, dir, factSchema)) == settled,
        "the re-run compaction moved the read")
      assert(generations(dir) == Set(3L), "one generation, max + 1")
      if (partitionBy.nonEmpty)
        assert(Files.list(Paths.get(dir)).iterator().asScala
          .count(_.getFileName.toString.startsWith("cell=")) == 2,
          "the cell layout must survive compaction")

      // converged: another compaction moves nothing but the generation
      TwinLog.compact(spark, dir, Seq("cell"), partitionBy)(fold)
      assert(canon(TwinLog.read(spark, dir, factSchema)) == settled)
      assert(generations(dir) == Set(4L))
    }

  test("compacting a never-committed log returns 0 and creates nothing") {
    val dir = Files.createTempDirectory("twinlog-none")
      .resolve("log").toString
    assert(TwinLog.compact(spark, dir, Seq("cell"))(fold) == 0L)
    assert(TwinLog.compactAdditive(spark, dir, idSums) == 0L)
    assert(!Files.exists(Paths.get(dir)), "compaction created the log dir")
  }

  test("an empty read carries the caller's schema") {
    val dir = Files.createTempDirectory("twinlog-empty")
      .resolve("log").toString
    for (df <- Seq(TwinLog.read(spark, dir, factSchema),
        TwinLog.results(spark, dir, factSchema))) {
      assert(df.schema == factSchema)
      assert(df.count() == 0L)
    }
    val merged = TwinLog.merged(spark, dir, idSums)
    assert(merged.columns.toSeq == Seq("cell", "id"))
    assert(merged.count() == 0L)
  }

  test("a log whose first append is in flight (only _temporary/0) " +
      "reads as empty with the declared columns") {
    val root = Files.createTempDirectory("twinlog-inflight")
    val dir = root.resolve("log").toString
    Files.createDirectories(root.resolve("log").resolve("_temporary")
      .resolve("0"))
    val merged = TwinLog.merged(spark, dir, idSums)
    assert(merged.columns.toSeq == Seq("cell", "id"))
    assert(merged.count() == 0L)
    val facts = TwinLog.read(spark, dir, factSchema)
    assert(facts.columns.toSeq == factSchema.fieldNames.toSeq)
    assert(facts.count() == 0L)
  }

  test("an additive epoch whose summary drifts from the declared layout " +
      "fails naming the column") {
    val root = Files.createTempDirectory("twinlog-layout")
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("cell", "id", "tag")
      .write.parquet(root.resolve("in").toString)
    def run(summarize: DataFrame => DataFrame): String = {
      val rows = spark.readStream.schema(factSchema)
        .parquet(root.resolve("in").toString)
      val q = TwinLog.start(rows,
        Files.createTempDirectory(root, "cp").toString,
        Trigger.AvailableNow(),
        root.resolve("out").toString)((summarize, idSums))
      intercept[StreamingQueryException](q.awaitTermination(120000))
        .getMessage
    }
    val extra = run(_.groupBy("cell", "tag").agg(sum("id").as("id")))
    assert(extra.contains("tag"), extra)
    val retyped = run(_.select(col("cell"), col("id").cast(IntegerType)))
    assert(retyped.contains("id INT") && retyped.contains("id BIGINT"),
      retyped)
    assert(!Files.exists(root.resolve("out")), "a drifted epoch wrote rows")
  }

  test("a sum column missing from the layout fails at declaration") {
    val e = intercept[IllegalArgumentException](
      TwinLog.Additive("_x", "cell BIGINT", Seq("id")))
    assert(e.getMessage.contains("id"))
  }

  test("a result log collapses a replayed epoch but keeps equal rows " +
      "from two epochs") {
    val dir = Files.createTempDirectory("twinlog-results")
      .resolve("log").toString
    val row = Seq((1L, 7L, "x")).toDF("cell", "id", "tag")
    TwinLog.append(row, dir, 0L)
    TwinLog.append(row, dir, 0L) // replay of epoch 0
    assert(TwinLog.results(spark, dir, factSchema).count() == 1L)
    TwinLog.append(row, dir, 1L) // the same row, a later epoch
    assert(TwinLog.results(spark, dir, factSchema).count() == 2L)
  }

  test("an additive snapshot lands as one file: no landed part of it " +
      "moves the merged summary") {
    val root = Files.createTempDirectory("twinlog-snapshot")
    val dir = root.resolve("log").toString
    for (b <- 0L to 2L)
      (0L until 40L).map(k => (k, k + b)).toDF("key", "n")
        .withColumn("__batch", lit(b))
        .withColumn("__covers", lit(null).cast(LongType))
        .repartition(4).write.mode("append").parquet(dir)
    val summary = TwinLog.Additive("", "key BIGINT, n BIGINT", Seq("n"))
    def merged(d: String): Seq[String] =
      canon(TwinLog.merged(spark, d, summary))
    val before = merged(dir)

    // compact a copy; every file left in it is new
    val work = root.resolve("work")
    Files.createDirectories(work)
    for (f <- dataFiles(dir)) Files.copy(f, work.resolve(f.getFileName))
    assert(TwinLog.compactAdditive(spark, work.toString, summary) ==
      dataFiles(dir).size.toLong)
    val snapshot = dataFiles(work.toString).sortBy(_.toString)
    assert(snapshot.size == 1, s"snapshot written as ${snapshot.size} files")
    assert(merged(work.toString) == before, "compaction moved the summary")

    // a reader or a crash between any two file renames of the commit
    for (k <- 0 to snapshot.size) {
      val landed = root.resolve(s"landed$k")
      Files.createDirectories(landed)
      for (f <- dataFiles(dir) ++ snapshot.take(k))
        Files.copy(f, landed.resolve(f.getFileName))
      assert(merged(landed.toString) == before,
        s"$k of ${snapshot.size} snapshot files landed moved the summary")
    }
  }

  test("fact-log compaction writes one file per 128 MB of input, " +
      "at least one") {
    val mb128 = 128L << 20
    assert(TwinLog.fileCount(0L) == 1)
    assert(TwinLog.fileCount(mb128) == 1)
    assert(TwinLog.fileCount(2 * mb128 - 1) == 1)
    assert(TwinLog.fileCount(2 * mb128) == 2)
    assert(TwinLog.fileCount(10 * mb128 + 1) == 10)
  }
}
