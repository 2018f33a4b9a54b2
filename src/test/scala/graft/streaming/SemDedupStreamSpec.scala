package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** The 25th stream==batch twin: incremental SemDeDup against frozen
  * centroids must equal batch [[Similarity.semDedupWithCentroids]]
  * over the union, after EVERY prefix — including the retroactive
  * case (a later arrival with better keep priority drops an already-
  * landed vector). The three operational properties are ALSO
  * inherited uniformly in TwinConformanceSpec; this spec pins the
  * batch equality, the retroactive drop, and staleness. */
class SemDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  // frozen model: three axis cells
  private val seed = Seq(
    (900L, vec(1.0, 0.0, 0.0, 0.0)),
    (901L, vec(0.0, 1.0, 0.0, 0.0)),
    (902L, vec(0.0, 0.0, 1.0, 0.0)))

  // batch 1: a prototypical e1 vector (kept — alone in its cell so
  // far), an e2 pair that resolves within the batch, an e3 loner
  private val b1 = Seq(
    (1L, vec(1.0, 0.0, 0.0, 0.0)),
    (2L, vec(0.0, 1.0, 0.0, 0.0)),
    (3L, vec(0.0, 0.95, 0.05, 0.0)),
    (4L, vec(0.0, 0.0, 1.0, 0.0)))
  // batch 2: a LESS prototypical e1 vector — the paper's keeper choice
  // says it wins, so doc 1 must be RETROACTIVELY dropped
  private val b2 = Seq(
    (5L, vec(0.95, 0.05, 0.0, 0.0)),
    (6L, vec(0.0, 0.0, 0.0, 1.0)))

  private val EPS = 0.9

  private def toDf(rs: Seq[(Long, Array[Float])]): DataFrame =
    rs.toDF("vec_id", "embedding")

  private def stage(root: Path, name: String,
      rs: Seq[(Long, Array[Float])]): Unit = {
    val scratch = root.resolve(s"scratch_$name")
    toDf(rs).coalesce(1).write.parquet(scratch.toString)
    Files.move(Files.list(scratch).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get,
      root.resolve("in").resolve(s"$name.parquet"))
  }

  private def runOnce(root: Path, cents: String, out: String,
      cp: String): Unit = {
    val q = SemDedupStream.start(
      spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .parquet(root.resolve("in").toString),
      "vec_id", "embedding", cents, out, cp, eps = EPS)
    assert(q.awaitTermination(120000), "semdedup stream did not finish")
  }

  private def batchForm(cents: String,
      rs: Seq[(Long, Array[Float])]): Seq[String] = {
    val (sd, release) = Similarity.semDedupWithCentroids(
      toDf(rs), spark.read.parquet(cents), "vec_id", "embedding", EPS)
    val got = sd.collect().map(_.toString).toSeq.sorted
    release()
    got
  }

  private def streamed(out: String): Seq[String] =
    SemDedupStream.read(spark, out, "vec_id")
      .collect().map(_.toString).toSeq.sorted

  test("stream == batch semDedup over the union with frozen centroids " +
      "after every prefix; a later better-priority arrival drops an " +
      "already-landed vector; staleness reports corpus growth") {
    val root = Files.createTempDirectory("semdedup-stream")
    Files.createDirectories(root.resolve("in"))
    val cents = root.resolve("cents").toString
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString

    SemDedupStream.train(spark, toDf(seed), "vec_id", "embedding",
      nCells = 3, trainIters = 1, dim = 4, centDir = cents)

    // pre-commit: empty with the batch output schema
    val empty = SemDedupStream.read(spark, out, "vec_id")
    assert(empty.columns.toSeq == Seq("vec_id", "cell", "cscore", "drop"))
    assert(empty.count() == 0)

    stage(root, "a", b1)
    runOnce(root, cents, out, cp)
    assert(streamed(out) == batchForm(cents, b1),
      "prefix 1 diverged from batch semDedup")
    val after1 = SemDedupStream.read(spark, out, "vec_id")
      .filter(col("vec_id") === 1L).head()
    assert(!after1.getBoolean(3), "doc 1 is kept while alone in its cell")

    stage(root, "b", b2)
    runOnce(root, cents, out, cp) // restart
    assert(streamed(out) == batchForm(cents, b1 ++ b2),
      "full stream diverged from batch semDedup over the union")
    // the retroactive drop: 5 (less prototypical) wins the cell, the
    // already-landed 1 flips to dropped
    val byId = SemDedupStream.read(spark, out, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(byId(1L), "doc 1 must be retroactively dropped by doc 5")
    assert(!byId(5L), "doc 5 (least prototypical) must be the keeper")
    assert(!byId(6L), "the new-axis loner must survive")
    // the within-batch pair resolved to exactly one survivor
    assert(Seq(2L, 3L).count(byId) == 1)
    spark.catalog.clearCache()

    // staleness: trained on 3, streamed 6 -> (6-3)/6 = 5000 bp
    assert(SemDedupStream.staleness(spark, out, cents, "vec_id") == 5000L)
  }

  test("staleness counts distinct ids: a compaction that crashed after " +
      "landing its new generation does not move it") {
    val root = Files.createTempDirectory("semdedup-stale-crash")
    Files.createDirectories(root.resolve("in"))
    val cents = root.resolve("cents").toString
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString
    SemDedupStream.train(spark, toDf(seed), "vec_id", "embedding",
      nCells = 3, trainIters = 1, dim = 4, centDir = cents)
    stage(root, "a", b1)
    runOnce(root, cents, out, cp)
    stage(root, "b", b2)
    runOnce(root, cents, out, cp)
    assert(SemDedupStream.staleness(spark, out, cents, "vec_id") == 5000L)
    val before = streamed(out)

    // the crash: compactLogs' folded generation lands, its delete of
    // the superseded files never runs
    val asg = SemDedupStream.asgDir(out)
    spark.read.parquet(asg).drop("__batch").distinct()
      .withColumn("__batch", lit(2L))
      .write.mode("append").partitionBy("cell").parquet(asg)
    assert(SemDedupStream.staleness(spark, out, cents, "vec_id") == 5000L,
      "duplicate assignment rows from a crashed compaction were counted")
    assert(streamed(out) == before, "the crashed compaction moved the read")
  }

  test("logs are partitioned by cell (standing reads prune to the " +
      "touched cells) and compaction folds them without moving the " +
      "read; post-compaction batches still land") {
    val root = Files.createTempDirectory("semdedup-compact")
    Files.createDirectories(root.resolve("in"))
    val cents = root.resolve("cents").toString
    val out = root.resolve("out").toString
    val cp = root.resolve("cp").toString
    SemDedupStream.train(spark, toDf(seed), "vec_id", "embedding",
      nCells = 3, trainIters = 1, dim = 4, centDir = cents)

    stage(root, "a", b1)
    runOnce(root, cents, out, cp)
    stage(root, "b", b2)
    runOnce(root, cents, out, cp)
    // the physical layout the per-batch pruning depends on
    val parts = Files.list(java.nio.file.Paths.get(
      SemDedupStream.asgDir(out))).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("cell=")).toSeq
    assert(parts.nonEmpty, s"assignment log must partition by cell")

    val before = streamed(out)
    assert(SemDedupStream.compactLogs(spark, out) >= 1L)
    assert(streamed(out) == before, "compaction moved the read")
    // a later batch lands on top of the compacted generation
    stage(root, "c", Seq((7L, vec(0.9, 0.1, 0.0, 0.0))))
    runOnce(root, cents, out, cp)
    assert(streamed(out) == batchForm(cents, b1 ++ b2 ++
      Seq((7L, vec(0.9, 0.1, 0.0, 0.0)))),
      "post-compaction append diverged from batch semDedup")
  }
}
