package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.PrioritySample

/** Streaming priority-sample reservoir vs its batch twin: after any
  * prefix of the stream, merging the logged per-batch summaries must
  * equal running the batch operator over every document seen — the
  * mergeability of top-(k+1) order statistics — and duplicate appends
  * (at-least-once replay, half-landed crash attempts) must not change
  * the sample. */
class SampleStreamSpec extends SparkSpec {
  import spark.implicits._

  private val K = 3

  /** (doc_id, group, weight) corpus slices; weights spread two orders
    * of magnitude so the weighted draw is visibly non-uniform. */
  private def rows(ids: Range): Seq[(Long, String, Long)] =
    ids.map { i =>
      (i.toLong, s"g${i % 2}", 1L + (i * 37 % 5) * (i % 3 + 1) * 11L)
    }

  private def stage(root: Path, name: String, rs: Seq[(Long, String, Long)]): Unit = {
    val scratch = root.resolve(s"scratch_$name")
    rs.toDF("doc_id", "grp", "w_in").coalesce(1).write.parquet(scratch.toString)
    val part = Files.list(scratch).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, root.resolve("in").resolve(s"$name.parquet"))
  }

  private def runOnce(root: Path, out: String, cp: String): Unit = {
    val stream = spark.readStream
      .schema("doc_id LONG, grp STRING, w_in LONG")
      .parquet(root.resolve("in").toString)
    val q = SampleStream.start(stream, "grp", "doc_id", "w_in", K, out, cp)
    assert(q.awaitTermination(120000), "sample stream did not finish")
  }

  private def batchTwin(rs: Seq[(Long, String, Long)]): Set[(String, Long, Long, Double, Double)] = {
    val pri = PrioritySample.withPriority(
      rs.toDF("doc_id", "grp", "w_in"), "grp", "doc_id", "w_in")
    PrioritySample.estimate(
      PrioritySample.topSummary(pri, "grp", "doc_id", K), "grp", "doc_id", K)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
  }

  private def streamed(out: String): Set[(String, Long, Long, Double, Double)] =
    SampleStream.sample(spark, out, "grp", "doc_id", K).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet

  test("reservoir == batch twin after each streamed prefix; compaction preserves it") {
    val root = Files.createTempDirectory("sample-stream")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    val b1 = rows(0 until 40)
    val b2 = rows(40 until 90)
    val b3 = rows(90 until 130)

    stage(root, "a", b1)
    runOnce(root, out, cp)
    assert(streamed(out) == batchTwin(b1), "prefix 1 diverged")

    stage(root, "b", b2)
    stage(root, "c", b3)
    runOnce(root, out, cp)
    assert(streamed(out) == batchTwin(b1 ++ b2 ++ b3), "full stream diverged")

    // compaction: log shrinks to one file, the sample is unchanged
    val removed = SampleStream.compactLog(spark, out, "grp", "doc_id", K)
    assert(removed >= 2, s"expected multiple log files compacted, got $removed")
    assert(streamed(out) == batchTwin(b1 ++ b2 ++ b3), "compaction changed the sample")
  }

  test("duplicate summary appends (replay / crashed attempt) cannot change the sample") {
    val root = Files.createTempDirectory("sample-replay")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    val b1 = rows(0 until 60)
    stage(root, "a", b1)
    runOnce(root, out, cp)
    val before = streamed(out)

    // simulate an at-least-once replay: append the same batch summary
    // again, bytes-identical (priorities are deterministic)
    val pri = PrioritySample.withPriority(
      b1.toDF("doc_id", "grp", "w_in"), "grp", "doc_id", "w_in")
    PrioritySample.topSummary(pri, "grp", "doc_id", K)
      .withColumn("__batch", lit(99L))
      .write.mode("append").parquet(SampleStream.logDir(out))

    assert(streamed(out) == before, "replayed append changed the sample")
  }

  test("read and compact before the first commit: empty sample, zero files, no throw") {
    val root = Files.createTempDirectory("sample-empty")
    val out = root.resolve("out").toString
    assert(SampleStream.sample(spark, out, "grp", "doc_id", K)
      .collect().isEmpty)
    assert(SampleStream.compactLog(spark, out, "grp", "doc_id", K) == 0L)
  }

  test("schemaFrom: an integer-grouped reservoir reads the SAME schema before and after its first commit") {
    val root = Files.createTempDirectory("sample-intgrp")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    // integer group column — the case the string-typed fallback would
    // mistype; schemaFrom derives the empty schema from the real
    // pipeline over zero rows of the caller's types
    val docs = Seq((1L, 7, 5L), (2L, 7, 3L), (3L, 9, 8L))
      .toDF("doc_id", "grp", "w_in")
    val emptySchema = SampleStream.sample(spark, out, "grp", "doc_id", K,
      schemaFrom = Some((docs, "w_in")))
    assert(emptySchema.collect().isEmpty)

    // commit a real batch with the INTEGER group column (the exact
    // rows start() would append)
    val pri = PrioritySample.withPriority(docs, "grp", "doc_id", "w_in")
    PrioritySample.topSummary(pri, "grp", "doc_id", K)
      .withColumn("__batch", lit(0L))
      .write.mode("append").parquet(SampleStream.logDir(out))
    val committed = SampleStream.sample(spark, out, "grp", "doc_id", K,
      schemaFrom = Some((docs, "w_in")))
    assert(emptySchema.schema == committed.schema,
      s"empty ${emptySchema.schema.simpleString} != committed " +
        committed.schema.simpleString)
    // and unionByName — the downstream op the mismatch used to break —
    // works between the two states
    assert(committed.unionByName(emptySchema).count() == committed.count())
  }

  test("weighting is real: heavy items dominate the sample across groups") {
    // one group, two weight classes 100x apart: the top-K by priority
    // w/u with u uniform must be heavy-dominated (u spans only (0,1])
    val heavy = (0 until 10).map(i => (i.toLong, "g", 10000L))
    val light = (10 until 110).map(i => (i.toLong, "g", 7L))
    val got = batchTwin(heavy ++ light)
    val heavyIds = heavy.map(_._1).toSet
    assert(got.count(r => heavyIds(r._2)) >= 2,
      s"10 heavy items at 1400x the weight should take most of K=$K slots: $got")
  }
}
