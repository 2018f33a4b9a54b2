package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** [[MergeSink]]: upsert/delete resolution, replay idempotence via
  * dynamic partition overwrite, compaction equivalence, and the
  * end-to-end streaming apply. */
class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def snapshot(dir: String): Map[Long, (String, Long)] =
    MergeSink.read(spark, dir, "k", "op").collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("name"), r.getAs[Long]("v")))).toMap

  test("sequential change batches resolve latest-per-key; deletes drop") {
    val dir = Files.createTempDirectory("merge-sink").resolve("t").toString
    // batch 0: three inserts
    MergeSink.applyBatch(Seq(
      ("U", 1L, "a", 10L), ("U", 2L, "b", 20L), ("U", 3L, "c", 30L))
      .toDF("op", "k", "name", "v"), dir, 0L)
    // batch 1: update 2, delete 3, insert 4
    MergeSink.applyBatch(Seq(
      ("U", 2L, "b2", 21L), ("D", 3L, null, 0L), ("U", 4L, "d", 40L))
      .toDF("op", "k", "name", "v"), dir, 1L)
    assert(snapshot(dir) == Map(
      1L -> ("a", 10L), 2L -> ("b2", 21L), 4L -> ("d", 40L)))
  }

  test("replaying a batchId replaces its partition — no double-apply, no ghosts") {
    val dir = Files.createTempDirectory("merge-sink").resolve("t").toString
    MergeSink.applyBatch(Seq(("U", 1L, "a", 10L), ("U", 2L, "b", 20L))
      .toDF("op", "k", "name", "v"), dir, 0L)
    val first = snapshot(dir)
    // identical replay: state unchanged
    MergeSink.applyBatch(Seq(("U", 1L, "a", 10L), ("U", 2L, "b", 20L))
      .toDF("op", "k", "name", "v"), dir, 0L)
    assert(snapshot(dir) == first, "identical replay must be a no-op")
    // a replay that carries FEWER rows (the retried attempt is the
    // truth) must not leave the old attempt's extra row behind
    MergeSink.applyBatch(Seq(("U", 1L, "a9", 11L))
      .toDF("op", "k", "name", "v"), dir, 0L)
    assert(snapshot(dir) == Map(1L -> ("a9", 11L)),
      "partition overwrite must replace the prior attempt wholesale")
  }

  test("compaction: one partition, identical reads, later batches still win") {
    val dir = Files.createTempDirectory("merge-sink").resolve("t").toString
    MergeSink.applyBatch(Seq(
      ("U", 1L, "a", 10L), ("U", 2L, "b", 20L), ("U", 3L, "c", 30L))
      .toDF("op", "k", "name", "v"), dir, 0L)
    MergeSink.applyBatch(Seq(("D", 1L, null, 0L), ("U", 2L, "b2", 21L))
      .toDF("op", "k", "name", "v"), dir, 1L)
    val before = snapshot(dir)
    val n = MergeSink.compact(spark, dir, "k", "op")
    assert(n == 2L)
    assert(snapshot(dir) == before, "compaction must not change the resolved table")
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(s"${MergeSink.BatchCol}="))
    assert(parts.map(_.getName).toSeq == Seq(s"${MergeSink.BatchCol}=-1"),
      s"compaction must leave one partition below every batch, got ${parts.toSeq}")
    // a post-compaction stream batch (higher id) still outranks the base
    MergeSink.applyBatch(Seq(("U", 2L, "b3", 22L))
      .toDF("op", "k", "name", "v"), dir, 2L)
    assert(snapshot(dir)(2L) == ("b3", 22L))
  }

  test("a replay of the last batch after a compaction leaves the read " +
      "unchanged") {
    val dir = Files.createTempDirectory("merge-sink").resolve("t").toString
    MergeSink.applyBatch(Seq(
      ("U", 1L, "a", 10L), ("U", 2L, "b", 20L), ("U", 3L, "c", 30L))
      .toDF("op", "k", "name", "v"), dir, 0L)
    val b1 = Seq(("D", 1L, null, 0L), ("U", 2L, "b2", 21L))
      .toDF("op", "k", "name", "v")
    MergeSink.applyBatch(b1, dir, 1L)
    MergeSink.compact(spark, dir, "k", "op")
    val before = snapshot(dir)
    assert(before == Map(2L -> ("b2", 21L), 3L -> ("c", 30L)))
    // at-least-once delivery: a restart re-delivers batch 1 unchanged
    MergeSink.applyBatch(b1, dir, 1L)
    assert(snapshot(dir) == before,
      "a replayed batch overwrote the compacted base")
  }

  test("randomized op sequences match a driver-side map fold (3 seeds)") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"merge-prop-$seed").resolve("t").toString
      var ref = Map.empty[Long, (String, Long)]
      for (batchId <- 0L until 6L) {
        // one op per key per batch (the documented CDC contract)
        val keys = rnd.shuffle((1L to 12L).toList).take(1 + rnd.nextInt(6))
        val ops = keys.map { k =>
          if (rnd.nextInt(4) == 0) ("D", k, null: String, 0L)
          else ("U", k, s"n$batchId-$k", rnd.nextInt(1000).toLong)
        }
        MergeSink.applyBatch(ops.toDF("op", "k", "name", "v"), dir, batchId)
        ops.foreach {
          case ("D", k, _, _) => ref -= k
          case ("U", k, n, v) => ref += k -> ((n, v))
          case _ => ()
        }
      }
      assert(snapshot(dir) == ref, s"seed $seed diverged from the reference fold")
      // compaction preserves the fold result too
      MergeSink.compact(spark, dir, "k", "op")
      assert(snapshot(dir) == ref, s"seed $seed diverged after compaction")
    }
  }

  test("streaming apply: file-source batches land through the checkpointed stream") {
    val root = Files.createTempDirectory("merge-stream")
    Files.createDirectories(root.resolve("in"))
    val dir = root.resolve("out").toString
    def stage(name: String, rows: Seq[(String, Long, String, Long)]): Unit = {
      val scratch = root.resolve(s"scratch_$name")
      rows.toDF("op", "k", "name", "v").coalesce(1).write.parquet(scratch.toString)
      val part = Files.list(scratch).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, root.resolve("in").resolve(s"$name.parquet"))
    }
    def runOnce(): Unit = {
      val changes = spark.readStream
        .schema("op STRING, k LONG, name STRING, v LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(root.resolve("in").toString)
      val q = MergeSink.start(changes, dir, root.resolve("cp").toString,
        Trigger.AvailableNow())
      assert(q.awaitTermination(120000), "merge stream did not finish in 120 s")
    }
    stage("b0", Seq(("U", 1L, "a", 10L), ("U", 2L, "b", 20L)))
    stage("b1", Seq(("D", 1L, null, 0L), ("U", 3L, "c", 30L)))
    runOnce()
    assert(snapshot(dir) == Map(2L -> ("b", 20L), 3L -> ("c", 30L)))
    // restart with a new file: the checkpoint resumes batch numbering,
    // prior partitions stay untouched
    stage("b2", Seq(("U", 2L, "b2", 21L)))
    runOnce()
    assert(snapshot(dir) == Map(2L -> ("b2", 21L), 3L -> ("c", 30L)))
  }
}
