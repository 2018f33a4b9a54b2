package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The incremental trigram stupid-backoff LM vs its batch twin (q269's
  * arithmetic): after any streamed prefix, scoring against the three
  * merged logs must equal the from-first-principles reference trained
  * on exactly those documents — with arriving batches exercising every
  * backoff level including out-of-vocabulary. Replay and crash between
  * ANY pair of the three appends ride [[TwinLog]]'s idempotence
  * protocol. */
class BackoffLmStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs1: Seq[(Long, String)] = Seq(
    (1L, "a b c a b c d"),
    (2L, "x y z x y"),
    (3L, "pp"))
  private def docs2: Seq[(Long, String)] = Seq(
    (4L, "a b d c a"),
    (5L, "m n o m n o"))
  private def docs3: Seq[(Long, String)] = Seq(
    (6L, "c a b x y q"))

  /** Plain-Scala stupid backoff, alpha = 1/4 — the BackoffSurpriseSpec
    * reference, parametrized by the training prefix. */
  private def reference(train: Seq[(Long, String)],
      eval: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long, Long, Long, Long)] = {
    def toks(t: String) = t.split(" ", -1).toSeq
    def grams(n: Int) = train.flatMap(d => toks(d._2).sliding(n).toSeq
      .filter(_.size == n).map(_.toList))
    val c123 = grams(3).groupBy(identity).map { case (k, v) => k -> v.size }
    val c12t = grams(3).groupBy(_.take(2)).map { case (k, v) => k -> v.size }
    val c23 = grams(2).groupBy(identity).map { case (k, v) => k -> v.size }
    val c2 = grams(2).groupBy(_.take(1)).map { case (k, v) => k -> v.size }
    val c3 = grams(1).groupBy(identity).map { case (k, v) => k -> v.size }
    val n = grams(1).size
    def bitlen(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    (for {
      (id, t) <- eval
      tris = toks(t).sliding(3).toSeq.filter(_.size == 3).map(_.toList)
      if tris.nonEmpty
    } yield {
      val scored = tris.map { g =>
        if (c123.contains(g)) (1, bitlen(c12t(g.take(2)).toLong / c123(g)) - 1)
        else if (c23.contains(g.drop(1)))
          (2, bitlen(c2(List(g(1))).toLong / c23(g.drop(1))) - 1 + 2)
        else if (c3.contains(List(g(2))))
          (3, bitlen(n.toLong / c3(List(g(2)))) - 1 + 4)
        else (4, bitlen(math.max(n, 1).toLong) - 1 + 6)
      }
      def cnt(l: Int) = scored.count(_._1 == l).toLong
      id -> (tris.size.toLong, scored.map(_._2).sum,
        cnt(1), cnt(2), cnt(3), cnt(4))
    }).toMap
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
    val q = BackoffLmStream.start(stream, out, cp)
    assert(q.awaitTermination(120000), "backoff LM stream did not finish")
  }

  private def scored(out: String, eval: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long, Long, Long, Long)] =
    BackoffLmStream.score(spark, out, eval.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap

  test("stream scores == batch q269 arithmetic over every prefix; " +
      "compaction preserves it; every backoff level fires") {
    val root = Files.createTempDirectory("bklm-stream")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    // empty model: every trigram is OOV at bitlen(1) - 1 + 6 = 6 bits
    assert(scored(out, Seq((99L, "a b c"))) ==
      Map(99L -> (1L, 6L, 0L, 0L, 0L, 1L)))

    stage(root, "a", docs1)
    runOnce(root, out, cp)
    assert(scored(out, docs1) == reference(docs1, docs1), "prefix 1 diverged")

    stage(root, "b", docs2)
    runOnce(root, out, cp)
    val p2 = docs1 ++ docs2
    assert(scored(out, p2) == reference(p2, p2), "prefix 2 diverged")

    val removed = BackoffLmStream.compactLog(spark, out)
    assert(removed >= 3, s"expected files folded from all three logs, got $removed")
    assert(scored(out, p2) == reference(p2, p2), "compaction changed scores")

    stage(root, "c", docs3)
    runOnce(root, out, cp)
    val p3 = p2 ++ docs3
    assert(scored(out, p3) == reference(p3, p3),
      "post-compaction append diverged")

    // an arriving batch exercising all four levels (tri / bi / uni /
    // OOV) against the standing model — vacuity-guarded
    val fresh = Seq(
      (20L, "a b c"),            // trigram hit
      (21L, "d x y"),            // (x,y) bigram backoff
      (22L, "qq ww a"),          // unigram backoff on 'a'
      (23L, "qq ww ee"))         // full OOV
    val got = scored(out, fresh)
    val want = reference(p3, fresh)
    assert(got == want, s"fresh-batch backoff diverged: $got vs $want")
    assert(got(20L)._3 >= 1L, "vacuous: no trigram hit")
    assert(got(21L)._4 >= 1L, "vacuous: no bigram backoff")
    assert(got(22L)._5 >= 1L, "vacuous: no unigram backoff")
    assert(got(23L)._6 >= 1L, "vacuous: no OOV")
  }

  test("idempotence: epoch replay and crashes between any of the " +
      "three appends cannot double-count any log") {
    val root = Files.createTempDirectory("bklm-replay")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString
    stage(root, "a", docs1)
    runOnce(root, out, cp)
    val before = scored(out, docs1)

    def df(rs: Seq[(Long, String)]): DataFrame = rs.toDF("doc_id", "text")
    def land(summary: DataFrame, dir: String): Unit = summary
      .withColumn("__batch", lit(0L))
      .withColumn("__covers", lit(null).cast("long"))
      .write.mode("append").parquet(dir)

    // crash after the FIRST append of the replayed epoch
    land(BackoffLmStream.trigramSummary(df(docs1)),
      BackoffLmStream.trigramDir(out))
    assert(scored(out, docs1) == before, "replayed trigram epoch double-counted")
    // crash after the SECOND
    land(BackoffLmStream.bigramSummary(df(docs1)),
      BackoffLmStream.bigramDir(out))
    assert(scored(out, docs1) == before, "replayed bigram epoch double-counted")
    // epoch completes
    land(BackoffLmStream.tokenSummary(df(docs1)),
      BackoffLmStream.tokenDir(out))
    assert(scored(out, docs1) == before, "replayed token epoch double-counted")

    BackoffLmStream.compactLog(spark, out)
    assert(scored(out, docs1) == before, "compaction after replay diverged")
  }
}
