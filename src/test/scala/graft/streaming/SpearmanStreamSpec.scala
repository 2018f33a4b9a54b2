package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SpearmanHist

/** Streaming histogram-Spearman monitor vs its batch twin: after any
  * prefix of the stream, merging the logged joint-histogram cell
  * deltas and running the exact midrank/moment finish must equal
  * batch q259 over every document seen — the rank-statistic case the
  * additive protocol only reaches BECAUSE the statistic coarsens to a
  * histogram first (ranks do not merge; the histogram they are
  * computed from does). Replay idempotence rides the TwinLog
  * protocol, proven here on its third binding. */
class SpearmanStreamSpec extends SparkSpec {
  import spark.implicits._

  /** (doc_id, source, n_chars, text) slices: length and token count
    * positively associated in source s0, negatively in s1, noisy in
    * s2 — three visibly different rho signs. */
  private def rows(ids: Range): Seq[(Long, String, Long, String)] =
    ids.map { i =>
      val src = s"s${i % 3}"
      val len = 40L + (i % 25) * 16
      val toks = i % 3 match {
        case 0 => 4 + (i % 25) * 3 + i % 2 // rises with len
        case 1 => 80 - (i % 25) * 3 + i % 2 // falls with len
        case _ => 5 + (i * 37) % 60 // noise
      }
      (i.toLong, src, len, Seq.fill(toks)("w").mkString(" "))
    }

  private def toDf(rs: Seq[(Long, String, Long, String)]): DataFrame =
    rs.toDF("doc_id", "source", "n_chars", "text")

  private def stage(root: Path, name: String, rs: Seq[(Long, String, Long, String)]): Unit = {
    val scratch = root.resolve(s"scratch_$name")
    toDf(rs).coalesce(1).write.parquet(scratch.toString)
    val part = Files.list(scratch).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, root.resolve("in").resolve(s"$name.parquet"))
  }

  private def runOnce(root: Path, out: String, cp: String): Unit = {
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, n_chars LONG, text STRING")
      .parquet(root.resolve("in").toString)
    val q = SpearmanStream.start(stream, out, cp)
    assert(q.awaitTermination(120000), "spearman stream did not finish")
  }

  private def batchTwin(rs: Seq[(Long, String, Long, String)]): Set[(String, Long, Long)] =
    SpearmanHist.rho(SpearmanHist.cells(toDf(rs))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def streamed(out: String): Set[(String, Long, Long)] =
    SpearmanStream.rho(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("rho == batch q259 twin after each prefix; compaction and replay preserve it") {
    val root = Files.createTempDirectory("spearman-stream")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    // before the first commit: empty stats, 0-file compaction
    assert(SpearmanStream.rho(spark, out).collect().isEmpty)
    assert(SpearmanStream.compactLog(spark, out) == 0L)

    val b1 = rows(0 until 120)
    val b2 = rows(120 until 300)
    val b3 = rows(300 until 450)

    stage(root, "a", b1)
    runOnce(root, out, cp)
    assert(streamed(out) == batchTwin(b1), "prefix 1 diverged")
    // the fixture really carries both association signs
    val first = batchTwin(b1).map { case (s, _, r) => s -> r }.toMap
    assert(first("s0") > 0 && first("s1") < 0,
      s"fixture lost its rho structure: $first")

    stage(root, "b", b2)
    stage(root, "c", b3)
    runOnce(root, out, cp)
    val full = batchTwin(b1 ++ b2 ++ b3)
    assert(streamed(out) == full, "full stream diverged")

    val removed = SpearmanStream.compactLog(spark, out)
    assert(removed >= 2, s"expected multiple log files compacted, got $removed")
    assert(streamed(out) == full, "compaction changed the statistics")

    // at-least-once replay of epoch 0: byte-identical cell deltas must
    // collapse, not double-count
    SpearmanHist.cells(toDf(b1))
      .withColumn("__batch", lit(0L))
      .withColumn("__covers", lit(null).cast("long"))
      .write.mode("append").parquet(SpearmanStream.logDir(out))
    assert(streamed(out) == full, "replayed epoch double-counted")

    // and a batch after a snapshot-only compaction still lands (the
    // covers-overflow regression class)
    SpearmanStream.compactLog(spark, out)
    val b4 = rows(450 until 600)
    stage(root, "d", b4)
    runOnce(root, out, cp)
    assert(streamed(out) == batchTwin(b1 ++ b2 ++ b3 ++ b4),
      "post-compaction append diverged")
  }
}
