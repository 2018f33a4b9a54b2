package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Portable

/** The incremental DSIR model vs its batch twin (q265's arithmetic):
  * after any streamed prefix, scoring against the merged bucket logs
  * must equal the from-first-principles reference whose raw/target
  * counts come from exactly those documents — and scoring documents
  * whose buckets the model has NEVER seen must take the fully smoothed
  * ct = cr = 0 default. Replay and crash-between-the-two-appends ride
  * [[TwinLog]]'s idempotence protocol. */
class DsirStreamSpec extends SparkSpec {
  import spark.implicits._

  private val B = 64 // small enough for real bucket collisions

  // (doc_id, text, is_target): targets are the "quality reference"
  private def docs1: Seq[(Long, String, Boolean)] = Seq(
    (1L, "the cat sat on the mat", true),
    (2L, "the dog sat on the rug", true),
    (3L, "spam spam buy now spam", false),
    (4L, "solo", false))
  private def docs2: Seq[(Long, String, Boolean)] = Seq(
    (5L, "the cat naps on the rug", true),
    (6L, "buy now buy now buy", false))
  private def docs3: Seq[(Long, String, Boolean)] = Seq(
    (7L, "qq ww qq ww", false))

  /** From-first-principles q265 arithmetic: plain Scala maps, no Spark. */
  private def reference(model: Seq[(Long, String, Boolean)],
      eval: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
    def feats(t: String): Seq[Long] = {
      val ts = t.split(" ", -1).toSeq
      val grams = ts ++ (if (ts.length < 2) Seq.empty
        else ts.sliding(2).map(_.mkString(" ")).toSeq)
      grams.map(g => Portable.pmd5Local(g) % B)
    }
    def flog2(num: BigInt, den: BigInt): Long = {
      def le(k: Int): Boolean =
        if (k >= 0) den << k <= num else num << -k >= den
      var k = 0
      while (le(k + 1)) k += 1
      while (!le(k)) k -= 1
      k.toLong
    }
    val rawF = model.flatMap(d => feats(d._2))
    val tgtF = model.filter(_._3).flatMap(d => feats(d._2))
    val cr = rawF.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ct = tgtF.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val (tr, tt) = (rawF.size.toLong, tgtF.size.toLong)
    eval.map { case (id, t) =>
      val bits = feats(t).map { b =>
        flog2(BigInt(ct.getOrElse(b, 0L) + 1) * (tr + B),
          BigInt(cr.getOrElse(b, 0L) + 1) * (tt + B))
      }
      id -> (bits.size.toLong, bits.sum)
    }.toMap
  }

  private def stage(root: Path, name: String,
      rs: Seq[(Long, String, Boolean)]): Unit = {
    val scratch = root.resolve(s"scratch_$name")
    rs.toDF("doc_id", "text", "is_target").coalesce(1)
      .write.parquet(scratch.toString)
    val part = Files.list(scratch).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, root.resolve("in").resolve(s"$name.parquet"))
  }

  private def runOnce(root: Path, out: String, cp: String): Unit = {
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, is_target BOOLEAN")
      .parquet(root.resolve("in").toString)
    val q = DsirStream.start(stream, out, cp, B)
    assert(q.awaitTermination(120000), "DSIR stream did not finish")
  }

  private def scored(out: String, eval: Seq[(Long, String)])
      : Map[Long, (Long, Long)] =
    DsirStream.score(spark, out, eval.toDF("doc_id", "text"), B).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("stream scores == batch q265 arithmetic over every prefix; " +
      "compaction preserves it; the model keeps growing after") {
    val root = Files.createTempDirectory("dsir-stream")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    // empty-before-first-commit: Tr = Tt = 0, default flog2(B, B) = 0
    assert(scored(out, Seq((99L, "a b"))) == Map(99L -> (3L, 0L)))

    def evalOf(rs: Seq[(Long, String, Boolean)]) = rs.map(r => (r._1, r._2))

    stage(root, "a", docs1)
    runOnce(root, out, cp)
    assert(scored(out, evalOf(docs1)) == reference(docs1, evalOf(docs1)),
      "prefix 1 diverged")

    stage(root, "b", docs2)
    runOnce(root, out, cp)
    val p2 = docs1 ++ docs2
    assert(scored(out, evalOf(p2)) == reference(p2, evalOf(p2)),
      "prefix 2 diverged")

    val removed = DsirStream.compactLog(spark, out, B)
    assert(removed >= 2, s"expected files folded from both logs, got $removed")
    assert(scored(out, evalOf(p2)) == reference(p2, evalOf(p2)),
      "compaction changed scores")

    stage(root, "c", docs3)
    runOnce(root, out, cp)
    val p3 = p2 ++ docs3
    assert(scored(out, evalOf(p3)) == reference(p3, evalOf(p3)),
      "post-compaction append diverged")
    // the fixture discriminates: target-like text outscores spam-like
    val s3 = scored(out, evalOf(p3))
    assert(s3(1L)._2 > s3(3L)._2, s"no discrimination: $s3")
  }

  test("resample: the stream's keep decision == the q270 rule applied " +
      "to the standing model's scores (same id -> same draw)") {
    val root = Files.createTempDirectory("dsir-resample")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString
    stage(root, "a", docs1)
    runOnce(root, out, cp)

    val eval = (docs1 ++ docs2).map(r => (r._1, r._2)) // incl. unseen docs
    val got = DsirStream.resample(spark, out, eval.toDF("doc_id", "text"), B)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    val ref = reference(docs1, eval) // doc -> (n_feats, weight_bits)
    val u = eval.map(_._1).toDF("doc_id")
      .select(col("doc_id"), pmod(Portable.pmd5(
        concat(lit("dsirk:"), col("doc_id").cast("string"))),
        lit(1L << 30)).as("u"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    eval.foreach { case (id, _) =>
      val (nf, wb) = ref(id)
      val wbn = Math.floorDiv(wb, nf)
      val thr =
        if (wbn >= 0) 1L << 30
        else if (30 + wbn <= 0) 1L
        else 1L << (30 + wbn).toInt
      assert(got(id) == ((wbn, u(id) < thr)),
        s"doc $id: got ${got(id)}, want ($wbn, ${u(id) < thr})")
    }
  }

  test("never-seen buckets take the fully smoothed default (a batch " +
      "of novel tokens scores n_feats * flog2(Tr+B, Tt+B))") {
    val root = Files.createTempDirectory("dsir-stream-new")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString
    stage(root, "a", docs1)
    runOnce(root, out, cp)

    // tokens chosen so their buckets miss docs1's occupied set — the
    // reference takes getOrElse(0) on every one; assert that really
    // happened (otherwise the test is vacuous)
    val fresh = Seq((20L, "zzqx9 vvmp3 kkrt7"))
    val occupied = docs1.flatMap(d =>
      (d._2.split(" ").toSeq ++ d._2.split(" ").sliding(2).map(_.mkString(" ")))
        .map(g => Portable.pmd5Local(g) % B)).toSet
    val freshBuckets = fresh.flatMap(d =>
      (d._2.split(" ").toSeq ++ d._2.split(" ").sliding(2).map(_.mkString(" ")))
        .map(g => Portable.pmd5Local(g) % B))
    assert(freshBuckets.exists(b => !occupied.contains(b)),
      "fixture vacuous: every fresh bucket collides with the model")
    assert(scored(out, fresh) == reference(docs1, fresh),
      "never-seen-bucket smoothing diverged")
  }

  test("idempotence: epoch replay and a crash between the two appends " +
      "cannot double-count either log") {
    val root = Files.createTempDirectory("dsir-stream-replay")
    Files.createDirectories(root.resolve("in"))
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString
    stage(root, "a", docs1)
    runOnce(root, out, cp)
    val eval = docs1.map(r => (r._1, r._2))
    val before = scored(out, eval)

    def df(rs: Seq[(Long, String, Boolean)]): DataFrame =
      rs.toDF("doc_id", "text", "is_target")
    DsirStream.rawSummary(df(docs1), B)
      .withColumn("__batch", lit(0L))
      .withColumn("__covers", lit(null).cast("long"))
      .write.mode("append").parquet(DsirStream.rawDir(out, B))
    assert(scored(out, eval) == before, "replayed raw epoch double-counted")
    DsirStream.targetSummary(df(docs1), B)
      .withColumn("__batch", lit(0L))
      .withColumn("__covers", lit(null).cast("long"))
      .write.mode("append").parquet(DsirStream.targetDir(out, B))
    assert(scored(out, eval) == before, "replayed target epoch double-counted")

    DsirStream.compactLog(spark, out, B)
    assert(scored(out, eval) == before, "compaction after replay diverged")
  }
}
