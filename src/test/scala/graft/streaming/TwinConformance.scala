package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Shared conformance harness for the LOG-TWIN family — every
  * streaming twin whose state is an append-only parquet log with a
  * read-time fold (TwinLog additive counts, order-statistic summaries, set
  * facts, result rows). Each twin declares its stream in ~15 lines (a
  * [[TwinFixture]]) and the harness proves the THREE operational
  * properties every such twin owes, uniformly:
  *
  *  1. RESTART MID-STREAM (the merge law): every staged batch runs
  *     under a fresh AvailableNow query against the same checkpoint —
  *     a restart between every pair of batches — and the final read
  *     must equal a one-shot ingest of the same rows as a SINGLE
  *     epoch into a fresh log. Multi-epoch fold == single-epoch fold
  *     is exactly the mergeability claim each log design rests on.
  *  2. CRASH REPLAY: the harness deletes the checkpoint's LATEST
  *     commit marker and reruns — Structured Streaming then re-
  *     delivers the last epoch through the twin's own foreachBatch
  *     (the REAL at-least-once path, not a hand-rolled applyBatch
  *     imitation). The read must not move.
  *  3. EMPTY BATCH: a zero-row file arrives (a real epoch with no
  *     rows — the quiet-period shape); the read must not move and the
  *     stream must not crash.
  *
  * Twin-specific semantics (stream == batch-operator equality, caps,
  * compaction, non-vacuity of fixtures) remain in each twin's own
  * spec — this harness is the OPERATIONAL contract, stated once.
  *
  * Out of scope, deliberately: the EventsStream watermark twins
  * (restart/replay there is the state store's contract, proven via
  * query-progress assertions in StreamingSpec, and an "empty batch"
  * cannot advance a watermark) and AnnIndexStream (its staleness-
  * triggered retrain makes one-shot vs multi-epoch ingest
  * legitimately different index generations — its exactly-once append
  * slices are spec'd in AnnIndexStreamSpec).
  */
trait TwinConformance { self: SparkSpec =>

  /** One log twin, declaratively.
    *
    * @param schema   readStream schema DDL for the input files
    * @param batches  at least two non-empty input batches
    * @param start    (input stream, outDir, checkpointDir) => query
    * @param read     outDir => the twin's current result fold
    * @param mergeLaw run property 1; set false for twins whose
    *                 PER-BATCH grain is semantic (CurateStream's
    *                 within-batch near-dup stage, MergeSink's
    *                 batch-ordered upserts) — for those, one-shot and
    *                 multi-epoch ingest are DOCUMENTED to differ and
    *                 their own specs pin the cross-batch semantics
    */
  final case class TwinFixture(
      schema: String,
      batches: Seq[DataFrame],
      start: (DataFrame, String, String) => StreamingQuery,
      read: String => DataFrame,
      mergeLaw: Boolean = true)

  protected def stageDf(inDir: Path, name: String, df: DataFrame): Unit = {
    val scratch = inDir.getParent.resolve(s"scratch_$name")
    df.coalesce(1).write.parquet(scratch.toString)
    val part = Files.list(scratch).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, inDir.resolve(s"$name.parquet"))
  }

  /** Result rows as a sorted multiset of row strings — schema-agnostic
    * exact comparison (both sides are computed in this JVM/session, so
    * formatting is deterministic). */
  private def canon(df: DataFrame): Seq[String] = {
    val rows = df.collect().map(_.toString).toSeq.sorted
    spark.catalog.clearCache()
    rows
  }

  protected def runOnce(fx: TwinFixture, name: String, in: Path, out: String,
      cp: String): Unit = {
    val q = fx.start(
      spark.readStream.schema(fx.schema).parquet(in.toString), out, cp)
    assert(q.awaitTermination(180000), s"$name: stream run did not finish")
  }

  /** Register the conformance test for one twin. `mk` is by-name so
    * fixture construction (standing indexes, frozen models) runs
    * inside the test, not at suite construction. */
  def twinConformance(name: String)(mk: => TwinFixture): Unit =
    test(s"$name twin conformance: restarts obey the merge law, a " +
        "crash replay and an empty batch change nothing") {
      val fx = mk
      require(fx.batches.size >= 2, s"$name: need >= 2 batches")
      val rootA = Files.createTempDirectory(s"twinconf-$name-a")
      val inA = rootA.resolve("in"); Files.createDirectories(inA)
      val outA = rootA.resolve("out").toString
      val cpA = rootA.resolve("cp").toString

      // one run per batch = a restart between every pair of epochs
      fx.batches.zipWithIndex.foreach { case (b, i) =>
        stageDf(inA, s"b$i", b)
        runOnce(fx, name, inA, outA, cpA)
      }
      val settled = canon(fx.read(outA))
      assert(settled.nonEmpty, s"$name: fixture vacuous — empty read")

      // CRASH REPLAY: drop the newest commit marker; the restart
      // re-delivers the last epoch through the twin's own foreachBatch
      val commits = rootA.resolve("cp").resolve("commits")
      val newest = Files.list(commits).iterator().asScala
        .filter(_.getFileName.toString.matches("\\d+"))
        .maxBy(_.getFileName.toString.toLong)
      Files.delete(newest)
      // the local FS keeps a checksum sibling; a stale one makes the
      // re-commit rename fail
      val crc = commits.resolve(s".${newest.getFileName}.crc")
      if (Files.exists(crc)) Files.delete(crc)
      runOnce(fx, name, inA, outA, cpA)
      assert(canon(fx.read(outA)) == settled,
        s"$name: a replayed epoch moved the result")

      // EMPTY BATCH: a zero-row file is a real epoch with no rows
      stageDf(inA, "empty", spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], StructType.fromDDL(fx.schema)))
      runOnce(fx, name, inA, outA, cpA)
      assert(canon(fx.read(outA)) == settled,
        s"$name: an empty batch moved the result")

      // MERGE LAW: one-shot ingest of the same rows as a single epoch
      if (fx.mergeLaw) {
        val rootB = Files.createTempDirectory(s"twinconf-$name-b")
        val inB = rootB.resolve("in"); Files.createDirectories(inB)
        val outB = rootB.resolve("out").toString
        fx.batches.zipWithIndex.foreach { case (b, i) =>
          stageDf(inB, s"b$i", b)
        }
        runOnce(fx, name, inB, outB, rootB.resolve("cp").toString)
        assert(canon(fx.read(outB)) == settled,
          s"$name: multi-restart ingest != one-shot ingest (merge law)")
      }
    }
}
