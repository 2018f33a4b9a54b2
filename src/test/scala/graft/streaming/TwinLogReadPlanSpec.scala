package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

/** Building a log twin's read schedules no Spark job: every log is read
  * with a declared schema and the additive live slice's covers bound is
  * a scalar subquery, so all work waits for the caller's action. Each
  * twin of [[TwinFixtures]] runs its two batches as two epochs; an
  * additive twin is then compacted (a snapshot lands) and runs one more
  * epoch, so its read folds a snapshot and the raw deltas past it. The
  * one read that owes a job is `SpanDedupStream.spanLog`: whether it
  * folds the log or re-derives spans from pages is the plan's shape. */
class TwinLogReadPlanSpec extends TwinFixtures {
  import TwinLogReadPlanSpec.Reads
  import spark.implicits._

  /** Each block's fixture, collected instead of registered as a
    * conformance test. Lazy: the blocks run in [[TwinFixtures]]'s
    * constructor, before this class's own fields are set. */
  private lazy val fixtures = mutable.Map.empty[String, () => TwinFixture]

  override def twinConformance(name: String)(mk: => TwinFixture): Unit =
    fixtures(name) = () => mk

  private def additive(name: String, read: String => Any,
      compact: String => Long): Reads =
    Reads(Seq((name, read, 0)), Some(compact))

  private val plans: Seq[(String, Reads)] = Seq(
    "cusum-changepoint" -> additive("changepoints",
      CusumStream.changepoints(spark, _), CusumStream.compactLog(spark, _)),
    "drift-monitor" -> additive("stats",
      DriftStream.stats(spark, _), DriftStream.compactLog(spark, _)),
    "spearman-monitor" -> additive("rho",
      SpearmanStream.rho(spark, _), SpearmanStream.compactLog(spark, _)),
    "mixture-monitor" -> additive("mixture",
      MixtureStream.mixture(spark, _), MixtureStream.compactLog(spark, _)),
    "token-budget" -> additive("budget",
      TokenBudgetStream.budget(spark, _),
      TokenBudgetStream.compactLog(spark, _)),
    "quality-audit" -> additive("audit",
      QualityAuditStream.audit(spark, _),
      QualityAuditStream.compactLog(spark, _)),
    "dsir-model" -> additive("DsirStream.score",
      DsirStream.score(spark, _, probe), DsirStream.compactLog(spark, _)),
    "bigram-lm" -> additive("LmStream.score",
      LmStream.score(spark, _, probe), LmStream.compactLog(spark, _)),
    "backoff-lm" -> additive("BackoffLmStream.score",
      BackoffLmStream.score(spark, _, probe),
      BackoffLmStream.compactLog(spark, _)),
    "lsh-dedup-index" -> Reads(Seq(
      ("candidates", DedupIndexStream.candidates(spark, _), 0))),
    "kmv-sketch" -> Reads(Seq(("estimate", KmvStream.estimate(spark, _, 8), 0))),
    "weighted-reservoir" -> Reads(Seq(("sample",
      SampleStream.sample(spark, _, "grp", "doc_id", 4, schemaFrom = Some(
        (Seq((0L, "g", 1L)).toDF("doc_id", "grp", "w_in"), "w_in"))), 0))),
    "semdedup-incremental" -> Reads(Seq(
      ("SemDedupStream.read", SemDedupStream.read(spark, _, "vec_id"), 0))),
    "c4-span-dedup" -> Reads(Seq(
      ("pages", SpanDedupStream.pages(spark, _), 0),
      ("spanLog", SpanDedupStream.spanLog(spark, _), 1))),
    "longest-match-decon" -> Reads(Seq(("LongestMatchStream.read",
      LongestMatchStream.read(spark, _, "eval_id"), 0))),
    "ccnet-buckets" -> Reads(Seq(("scores", CcnetStream.scores(spark, _), 0))))

  for ((name, Reads(reads, compact)) <- plans)
    test(s"$name: ${reads.map { case (r, _, n) => s"$r plans with $n " +
        (if (n == 1) "job" else "jobs") }.mkString(", ")} on a standing log") {
      val fx = fixtures(name)()
      val root = Files.createTempDirectory(s"readplan-$name")
      val in = root.resolve("in"); Files.createDirectories(in)
      val out = root.resolve("out").toString
      val cp = root.resolve("cp").toString
      fx.batches.zipWithIndex.foreach { case (b, i) =>
        stageDf(in, s"b$i", b)
        runOnce(fx, name, in, out, cp)
      }
      compact.foreach { c =>
        assert(c(out) > 0L, s"$name: compaction collected nothing")
        stageDf(in, "again", fx.batches.head)
        runOnce(fx, name, in, out, cp)
      }
      for ((read, build, jobs) <- reads)
        assert(jobsOf { build(out); () } == jobs,
          s"$name: building $read ran a job count other than $jobs")
    }
}

object TwinLogReadPlanSpec {

  /** A twin's reads (name, build, jobs to build) and, for an additive
    * twin, its compaction. */
  final case class Reads(reads: Seq[(String, String => Any, Int)],
      compact: Option[String => Long] = None)
}
