package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Cusum

/** Streaming CUSUM monitor vs its batch twin: after any prefix of the
  * stream, merging the logged (type, day) cent-sum deltas and running
  * the exact integer argmax must equal batch q256 over every event
  * seen — and because the summary is ADDITIVE, replay and crashed
  * compaction must not double-count (the TwinLog protocol, proven
  * here on its second binding). */
class CusumStreamSpec extends SparkSpec {
  import spark.implicits._

  /** (event_id, day-of-2024, type, value): purchase revenue steps up
    * sharply at day 30, clicks drift, views stay flat — each series
    * has a well-defined changepoint. */
  private def rows(ids: Range): Seq[(Long, Int, String, Double)] =
    ids.map { i =>
      val day = 1 + (i % 45)
      val kind = i % 3 match {
        case 0 => "purchase"
        case 1 => "click"
        case _ => "view"
      }
      val v = kind match {
        case "purchase" => if (day >= 30) 50.0 + (i % 7) else 5.0 + (i % 7)
        case "click" => 2.0 + day * 0.5 + (i % 5)
        case _ => 7.25
      }
      (i.toLong, day, kind, v)
    }

  private def toDf(rs: Seq[(Long, Int, String, Double)]): DataFrame =
    rs.toDF("event_id", "day", "event_type", "value")
      .withColumn("ts", to_timestamp(
        concat(lit("2024-"), lpad(((col("day") - 1) / 28 + 1).cast("int")
            .cast("string"), 2, "0"),
          lit("-"), lpad(((col("day") - 1) % 28 + 1).cast("int")
            .cast("string"), 2, "0"),
          lit(" 09:00:00"))))
      .select("event_id", "ts", "event_type", "value")

  private def stage(root: Path, name: String, rs: Seq[(Long, Int, String, Double)]): Unit = {
    val scratch = root.resolve(s"scratch_$name")
    toDf(rs).coalesce(1).write.parquet(scratch.toString)
    val part = Files.list(scratch).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, root.resolve("in").resolve(s"$name.parquet"))
  }

  private def runOnce(root: Path, out: String, cp: String): Unit = {
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE")
      .parquet(root.resolve("in").toString)
    val q = CusumStream.start(stream, out, cp)
    assert(q.awaitTermination(120000), "cusum stream did not finish")
  }

  private def batchTwin(rs: Seq[(Long, Int, String, Double)]): Set[(String, Long, Long, String, Long, Long, Long)] =
    Cusum.changepoints(Cusum.daily(toDf(rs))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDate(3).toString, r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet

  private def streamed(out: String): Set[(String, Long, Long, String, Long, Long, Long)] =
    CusumStream.changepoints(spark, out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDate(3).toString, r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet

  test("changepoints == batch q256 twin after each streamed prefix; compaction preserves them") {
    val root = Files.createTempDirectory("cusum-stream")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    val b1 = rows(0 until 150)
    val b2 = rows(150 until 320)
    val b3 = rows(320 until 470)

    stage(root, "a", b1)
    runOnce(root, out, cp)
    assert(streamed(out) == batchTwin(b1), "prefix 1 diverged")

    stage(root, "b", b2)
    stage(root, "c", b3)
    runOnce(root, out, cp)
    val full = batchTwin(b1 ++ b2 ++ b3)
    assert(streamed(out) == full, "full stream diverged")

    val removed = CusumStream.compactLog(spark, out)
    assert(removed >= 2, s"expected multiple log files compacted, got $removed")
    assert(streamed(out) == full, "compaction changed the changepoints")

    // the stream continues AFTER a compaction; a compaction of the
    // resulting snapshot-only log must not hide the next batch (the
    // covers-overflow regression class)
    CusumStream.compactLog(spark, out)
    val b4 = rows(470 until 620)
    stage(root, "d", b4)
    runOnce(root, out, cp)
    assert(streamed(out) == batchTwin(b1 ++ b2 ++ b3 ++ b4),
      "post-compaction append diverged")
  }

  test("additive idempotence: epoch replay cannot double-count; empty log reads empty") {
    val root = Files.createTempDirectory("cusum-replay")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    // before the first commit: empty changepoints, 0-file compaction
    assert(CusumStream.changepoints(spark, out).collect().isEmpty)
    assert(CusumStream.compactLog(spark, out) == 0L)

    val b1 = rows(0 until 200)
    stage(root, "a", b1)
    runOnce(root, out, cp)
    val before = streamed(out)
    assert(before == batchTwin(b1))

    // at-least-once replay: re-append epoch 0's deltas byte-identical
    Cusum.daily(toDf(b1))
      .withColumn("__batch", lit(0L))
      .withColumn("__covers", lit(null).cast("long"))
      .write.mode("append").parquet(CusumStream.logDir(out))
    assert(streamed(out) == before, "replayed epoch double-counted")
  }
}
