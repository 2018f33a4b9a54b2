package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.C4Rules

/** The 27th stream==batch twin: the streaming C4 span-dedup index must
  * equal batch [[C4Rules.spanDedup]] over the union of all batches,
  * after EVERY prefix — including the retroactive case (a later
  * arrival with a smaller doc_id steals a span's winnership and the
  * standing winner's sentences fall). The three operational
  * properties are inherited uniformly in TwinConformanceSpec; this
  * spec pins the batch equality, the theft, and compaction. */
class SpanDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  // the C4RulesSpec fixture sentences: five 5-word sentences, each
  // ending in exactly one content-defined boundary word
  private val A = "the fast big data sort"
  private val B = "key table window row join"
  private val C = "slow small agg value filter"
  private val D = "batch stream merge dup group"
  private val E = "spark hash line part vector"
  private def j(ss: String*): String = ss.mkString(" ")

  private val b1 = Seq(10L -> j(A, B, C, D), 20L -> j(E, A, B, C))
  // doc 5 arrives LATER but has the smaller id: it steals span ABC's
  // winnership from doc 10, whose first three sentences must then fall
  private val b2 = Seq(30L -> j(B, C, D, E), 5L -> j(A, B, C))

  private def toDf(rs: Seq[(Long, String)]): DataFrame =
    rs.toDF("doc_id", "text")

  private def stage(root: Path, name: String, rs: Seq[(Long, String)]): Unit = {
    val scratch = root.resolve(s"scratch_$name")
    toDf(rs).coalesce(1).write.parquet(scratch.toString)
    Files.move(Files.list(scratch).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get,
      root.resolve("in").resolve(s"$name.parquet"))
  }

  private def runOnce(root: Path, out: String, cp: String): Unit = {
    val q = SpanDedupStream.start(
      spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(root.resolve("in").toString), out, cp)
    assert(q.awaitTermination(120000), "span-dedup stream did not finish")
  }

  private def batchForm(rs: Seq[(Long, String)]): Seq[String] = {
    val got = C4Rules.spanDedup(toDf(rs), "doc_id", "text")
      .collect().map(_.toString).toSeq.sorted
    spark.catalog.clearCache()
    got
  }

  private def streamed(out: String): Seq[String] = {
    val got = SpanDedupStream.dedupedCorpus(spark, out)
      .collect().map(_.toString).toSeq.sorted
    spark.catalog.clearCache()
    got
  }

  test("stream == batch spanDedup over the union after every prefix, " +
      "including a retroactive winner theft; compaction changes nothing") {
    val root = Files.createTempDirectory("spandedup-twin")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    stage(root, "b1", b1)
    runOnce(root, out, cp)
    assert(streamed(out) == batchForm(b1), "prefix 1 diverged from batch")

    stage(root, "b2", b2)
    runOnce(root, out, cp)
    val afterB2 = streamed(out)
    assert(afterB2 == batchForm(b1 ++ b2), "prefix 2 diverged from batch")

    // the theft, spelled out: doc 5 owns span ABC now, doc 10 keeps
    // only its fourth sentence, doc 20 lost its tail three in batch 1
    val m = SpanDedupStream.dedupedCorpus(spark, out)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.catalog.clearCache()
    assert(m == Map(5L -> j(A, B, C), 10L -> D, 20L -> E, 30L -> E))

    val collected = SpanDedupStream.compactLogs(spark, out)
    assert(collected > 0, "compaction must collect the per-batch files")
    assert(streamed(out) == afterB2, "compaction moved the read")
  }

  test("a pre-stamp span log (foreign hash scheme) is never folded " +
      "as-is: reads re-derive from the page log, compaction migrates") {
    val root = Files.createTempDirectory("spandedup-migrate")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    // run the maintainer once, then FORGE the span log back to the
    // pre-r16 state: no __hv stamp and span hashes from a different
    // scheme (sh+1 relabels every hash consistently within the forged
    // log — exactly what an old pmd5-text scheme looks like next to
    // new xxhash64 appends: same-text spans no longer share a key
    // across the boundary)
    stage(root, "b1", b1)
    runOnce(root, out, cp)
    val forged = spark.read.parquet(SpanDedupStream.spanDir(out))
      .select($"doc_id", $"spos", ($"sh" + 1L).as("sh"), $"__batch")
      .collect()
    val sd = SpanDedupStream.spanDir(out)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sd))
    spark.createDataFrame(
      spark.sparkContext.parallelize(forged.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("spos",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sh",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__batch",
          org.apache.spark.sql.types.LongType))))
      .write.parquet(sd)

    // new-scheme appends now land NEXT TO the forged old rows — the
    // mixed-scheme log the r16 advisory flagged. The read must still
    // equal batch over everything (fallback derives from pages; had
    // it folded the mixed hashes, doc 5's ABC-span theft of doc 10
    // would be missed and both copies would survive)
    stage(root, "b2", b2)
    runOnce(root, out, cp)
    assert(streamed(out) == batchForm(b1 ++ b2),
      "mixed-scheme span log was folded as-is")

    // compaction migrates: afterwards the log is entirely at the
    // current version and the fast hash-only read path is back
    SpanDedupStream.compactLogs(spark, out)
    val hv = spark.read.parquet(SpanDedupStream.spanDir(out))
      .select($"__hv").distinct().collect().map(_.getLong(0)).toSeq
    assert(hv == Seq(C4Rules.SpanHashVersion),
      s"compaction left non-current rows: $hv")
    assert(streamed(out) == batchForm(b1 ++ b2), "migration moved the read")

    // and the migrated log's spans equal a fresh batch derivation
    val migrated = SpanDedupStream.spanLog(spark, out)
      .collect().map(_.toString).toSeq.sorted
    val fresh = C4Rules.spansOf(
      C4Rules.pageRows(toDf(b1 ++ b2), "doc_id", "text"), "doc_id")
      .collect().map(_.toString).toSeq.sorted
    assert(migrated == fresh, "migrated span log != fresh derivation")
  }

  test("a log whose first append is in flight (only _temporary/0) " +
      "reads as empty") {
    val out = Files.createTempDirectory("spandedup-inflight")
      .resolve("out").toString
    for (dir <- Seq(SpanDedupStream.pageDir(out),
        SpanDedupStream.spanDir(out)))
      Files.createDirectories(Paths.get(dir, "_temporary", "0"))
    assert(SpanDedupStream.spanLog(spark, out).count() == 0L)
    assert(streamed(out).isEmpty)
  }

  test("a thin page and a boundary-free document never enter the logs") {
    val root = Files.createTempDirectory("spandedup-thin")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString
    stage(root, "b1", Seq(1L -> j(A, B), 2L -> "the fast big data", 3L -> j(A, B, C)))
    runOnce(root, out, cp)
    val pages = SpanDedupStream.pages(spark, out)
      .collect().map(_.getLong(0)).toSet
    assert(pages == Set(3L))
    assert(streamed(out) == batchForm(Seq(3L -> j(A, B, C))))
  }
}
