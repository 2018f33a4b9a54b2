package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The incremental bigram LM vs its batch twin (q262's arithmetic):
  * after any streamed prefix, scoring the prefix against the merged
  * logs must equal the from-first-principles reference trained on
  * exactly those documents — and scoring a NEVER-SEEN batch must take
  * the Laplace-smoothed path (c12 = 0, possibly c1 = 0) the batch
  * query's self-trained inner joins never exercise. Replay and
  * crash-between-the-two-appends cases ride [[TwinLog]]'s
  * idempotence protocol. */
class LmStreamSpec extends SparkSpec {
  import spark.implicits._

  // boilerplate floods (low surprise) + distinctive docs + gibberish
  private def docs1: Seq[(Long, String)] = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the mat"),
    (3L, "the dog sat on the rug"),
    (4L, "lorem"), // 1 token: grows V, has no bigrams, drops from scores
    (5L, "colorless green ideas sleep furiously"))
  private def docs2: Seq[(Long, String)] = Seq(
    (6L, "the cat sat on the mat"),
    (7L, "green ideas sleep on the mat"),
    (8L, "zig zag zig zag zig"))
  private def docs3: Seq[(Long, String)] = Seq(
    (9L, "the mat sat on the cat"),
    (10L, "qq ww qq ww qq ww qq"))

  /** From-first-principles q262 arithmetic: train a Laplace-smoothed
    * bigram LM on `train`, score `eval` — plain Scala maps, no Spark. */
  private def reference(train: Seq[(Long, String)], eval: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long)] = {
    def bigrams(t: String): Seq[(String, String)] = {
      val ts = t.split(" ", -1).toSeq
      if (ts.length < 2) Seq.empty
      else ts.sliding(2).map(a => (a(0), a(1))).toSeq
    }
    val trainBgs = train.flatMap { case (_, t) => bigrams(t) }
    val c12 = trainBgs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = trainBgs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val v = train.flatMap(_._2.split(" ", -1)).distinct.size.toLong
    val out = for {
      (id, t) <- eval
      bgs = bigrams(t)
      if bgs.nonEmpty
    } yield {
      val bits = bgs.map { bg =>
        val q = (c1.getOrElse(bg._1, 0L) + v) / (c12.getOrElse(bg, 0L) + 1L)
        // floor(log2 q) as bitlength - 1; bin(0) has length 1 -> 0
        (java.lang.Long.toBinaryString(q).length - 1).toLong
      }
      id -> (bgs.size.toLong, bits.sum, 1000L * bits.sum / bgs.size)
    }
    out.toMap
  }

  private def stage(root: Path, name: String, rs: Seq[(Long, String)]): Unit = {
    val scratch = root.resolve(s"scratch_$name")
    rs.toDF("doc_id", "text").coalesce(1).write.parquet(scratch.toString)
    val part = Files.list(scratch).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, root.resolve("in").resolve(s"$name.parquet"))
  }

  private def runOnce(root: Path, out: String, cp: String): Unit = {
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(root.resolve("in").toString)
    val q = LmStream.start(stream, out, cp)
    assert(q.awaitTermination(120000), "LM stream did not finish")
  }

  private def scored(out: String, eval: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long)] =
    LmStream.score(spark, out, eval.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  test("stream scores == batch q262 arithmetic over every prefix; " +
      "compaction preserves it; the model keeps growing after") {
    val root = Files.createTempDirectory("lm-stream")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    // empty-before-first-commit: an unstarted monitor scores docs
    // against the empty model (V = 0), it does not throw
    assert(scored(out, Seq((99L, "a b"))) == Map(99L -> (1L, 0L, 0L)))

    stage(root, "a", docs1)
    runOnce(root, out, cp)
    assert(scored(out, docs1) == reference(docs1, docs1), "prefix 1 diverged")

    stage(root, "b", docs2)
    runOnce(root, out, cp)
    val p2 = docs1 ++ docs2
    assert(scored(out, p2) == reference(p2, p2), "prefix 2 diverged")

    val removed = LmStream.compactLog(spark, out)
    assert(removed >= 2, s"expected files folded from both logs, got $removed")
    assert(scored(out, p2) == reference(p2, p2), "compaction changed scores")

    stage(root, "c", docs3)
    runOnce(root, out, cp)
    val p3 = p2 ++ docs3
    assert(scored(out, p3) == reference(p3, p3),
      "post-compaction append diverged")
  }

  test("scoring a NEVER-SEEN batch takes the smoothed path: unseen " +
      "bigram, unseen context word, 1-token doc drops") {
    val root = Files.createTempDirectory("lm-stream-new")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString
    stage(root, "a", docs1)
    runOnce(root, out, cp)

    val fresh = Seq(
      (20L, "the cat sat on the rug"), // seen words, one unseen bigram (the,rug)... (on,the) seen
      (21L, "xylophones never sleep"), // unseen w1s entirely (c1 = 0)
      (22L, "mat the cat"), // seen words, reversed (unseen bigrams, seen contexts)
      (23L, "solo")) // 1 token -> no bigrams -> dropped
    val got = scored(out, fresh)
    val want = reference(docs1, fresh)
    assert(got == want, s"new-batch smoothing diverged: $got vs $want")
    assert(!got.contains(23L), "a bigram-less doc must drop, as in q262")
    // sanity: the fixture really exercises both smoothing branches
    assert(want(21L)._2 > 0L)
  }

  test("idempotence: epoch replay and a crash between the two appends " +
      "cannot double-count either log") {
    val root = Files.createTempDirectory("lm-stream-replay")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString
    stage(root, "a", docs1)
    runOnce(root, out, cp)
    val before = scored(out, docs1)

    // crash AFTER the bigram append, BEFORE the token append: the
    // epoch replay re-lands byte-identical bigram rows (collapsed by
    // the protocol's distinct) and the token rows once
    def df(rs: Seq[(Long, String)]): DataFrame = rs.toDF("doc_id", "text")
    LmStream.bigramSummary(df(docs1))
      .withColumn("__batch", lit(0L))
      .withColumn("__covers", lit(null).cast("long"))
      .write.mode("append").parquet(LmStream.bigramDir(out))
    assert(scored(out, docs1) == before,
      "replayed bigram epoch double-counted")
    LmStream.tokenSummary(df(docs1))
      .withColumn("__batch", lit(0L))
      .withColumn("__covers", lit(null).cast("long"))
      .write.mode("append").parquet(LmStream.tokenDir(out))
    assert(scored(out, docs1) == before,
      "replayed token epoch double-counted")

    LmStream.compactLog(spark, out)
    assert(scored(out, docs1) == before, "compaction after replay diverged")
  }
}
