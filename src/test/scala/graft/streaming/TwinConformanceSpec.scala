package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Curate

/** Every log twin's stream, declared once: each `twinConformance`
  * block below names a twin and builds its fixture (by-name, so
  * standing indexes and frozen models are built inside the test that
  * uses them). [[TwinConformanceSpec]] registers the harness's proofs
  * for each block; [[TwinLogReadPlanSpec]] collects the fixtures
  * instead, to plan each twin's reads on a standing log. */
abstract class TwinFixtures extends SparkSpec with TwinConformance {
  import spark.implicits._

  // ---- shared fixture builders -------------------------------------

  private def docRows(ids: Range, salt: String): Seq[(Long, String)] =
    ids.map { i =>
      if (i % 7 == 3) (i.toLong, s"template shared body $salt common run")
      else (i.toLong,
        (0 until 12).map(w => s"${salt}w${i}t$w").mkString(" "))
    }

  private def events(ids: Range, shift: Boolean): DataFrame =
    ids.map { i =>
      val day = 1 + (i % 14)
      val base = if (i % 2 == 0) "purchase" else "click"
      val v = if (shift && day > 7) 40.0 + i % 5 else 10.0 + i % 5
      (i.toLong, f"2024-01-$day%02d 10:00:00", base, v)
    }.toDF("event_id", "tss", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("tss")).as("ts"),
        col("event_type"), col("value"))

  // ---- TwinLog additive count twins ----------------------------

  twinConformance("drift-monitor") {
    TwinFixture(
      "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE",
      Seq(events(0 until 60, shift = false),
        events(60 until 120, shift = true)),
      (s, out, cp) => DriftStream.start(s, out, cp),
      out => DriftStream.stats(spark, out))
  }

  twinConformance("cusum-changepoint") {
    TwinFixture(
      "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE",
      Seq(events(0 until 60, shift = false),
        events(60 until 120, shift = true)),
      (s, out, cp) => CusumStream.start(s, out, cp),
      out => CusumStream.changepoints(spark, out))
  }

  twinConformance("spearman-monitor") {
    def docs(ids: Range) = ids.map { i =>
      (i.toLong, s"src${i % 2}", (40 + 3 * (i % 17)).toLong,
        (0 until 3 + i % 11).map(w => s"w$w").mkString(" "))
    }.toDF("doc_id", "source", "n_chars", "text")
    TwinFixture(
      "doc_id LONG, source STRING, n_chars LONG, text STRING",
      Seq(docs(0 until 80), docs(80 until 160)),
      (s, out, cp) => SpearmanStream.start(s, out, cp),
      out => SpearmanStream.rho(spark, out))
  }

  // ---- order-statistic / set-fact twins ----------------------------

  twinConformance("kmv-sketch") {
    def docs(ids: Range) = ids.map { i =>
      if (i % 5 == 4) ("srcB", i.toLong, "tiny shared vocab here")
      else ("srcA", i.toLong, (0 until 10).map(w => s"w${i}t$w").mkString(" "))
    }.toDF("source", "doc_id", "text")
    TwinFixture(
      "source STRING, doc_id LONG, text STRING",
      Seq(docs(0 until 40), docs(40 until 80)),
      (s, out, cp) => KmvStream.start(s, out, cp, 8),
      out => KmvStream.estimate(spark, out, 8))
  }

  twinConformance("weighted-reservoir") {
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, s"g${i % 2}", (1 + i % 9).toLong))
      .toDF("doc_id", "grp", "w_in")
    TwinFixture(
      "doc_id LONG, grp STRING, w_in LONG",
      Seq(docs(0 until 30), docs(30 until 60)),
      (s, out, cp) => SampleStream.start(s, "grp", "doc_id", "w_in", 4,
        out, cp),
      out => SampleStream.sample(spark, out, "grp", "doc_id", 4))
  }

  twinConformance("lsh-dedup-index") {
    TwinFixture(
      "doc_id LONG, text STRING",
      Seq(docRows(0 until 40, "a").toDF("doc_id", "text"),
        docRows(40 until 80, "a").toDF("doc_id", "text")),
      (s, out, cp) => DedupIndexStream.start(s, out, cp),
      out => DedupIndexStream.candidates(spark, out))
  }

  // ---- model twins (read = scoring a fixed probe) ------------------

  protected val probe = Seq(
    (9001L, "template shared body a common run"),
    (9002L, "entirely novel words nowhere in any training batch"))
    .toDF("doc_id", "text")

  twinConformance("bigram-lm") {
    TwinFixture(
      "doc_id LONG, text STRING",
      Seq(docRows(0 until 40, "a").toDF("doc_id", "text"),
        docRows(40 until 80, "b").toDF("doc_id", "text")),
      (s, out, cp) => LmStream.start(s, out, cp),
      out => LmStream.score(spark, out, probe))
  }

  twinConformance("backoff-lm") {
    TwinFixture(
      "doc_id LONG, text STRING",
      Seq(docRows(0 until 40, "a").toDF("doc_id", "text"),
        docRows(40 until 80, "b").toDF("doc_id", "text")),
      (s, out, cp) => BackoffLmStream.start(s, out, cp),
      out => BackoffLmStream.score(spark, out, probe))
  }

  twinConformance("dsir-model") {
    def docs(ids: Range) = docRows(ids, "a")
      .map { case (id, t) => (id, t, id % 3 == 0) }
      .toDF("doc_id", "text", "is_target")
    TwinFixture(
      "doc_id LONG, text STRING, is_target BOOLEAN",
      Seq(docs(0 until 40), docs(40 until 80)),
      (s, out, cp) => DsirStream.start(s, out, cp),
      out => DsirStream.score(spark, out, probe))
  }

  // ---- result-log twins --------------------------------------------

  twinConformance("longest-match-decon") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "totally different corpus line here"))
      .toDF("doc_id", "text")
    TwinFixture(
      "eval_id LONG, text STRING",
      Seq(
        Seq((10L, "xx alpha beta gamma yy"), (11L, "zz unseen zz"))
          .toDF("eval_id", "text"),
        Seq((12L, "one two three qq"), (13L, "five six seven"))
          .toDF("eval_id", "text")),
      (s, out, cp) => LongestMatchStream.start(s, "eval_id", "text",
        "twinconf_lm", corpus, "doc_id", "text", out, cp, cap = 13),
      out => LongestMatchStream.read(spark, out, "eval_id"))
  }

  twinConformance("token-budget") {
    // frozen merges trained once on a seed corpus, before the stream
    val table = "twinconf_tok_merges"
    graft.operators.Bpe.saveMerges(spark,
      graft.operators.Bpe.trainMerges(
        Seq((900L, "aaab aaab aaab ab ab ba")).toDF("doc_id", "text"),
        "text", 4), table)
    TwinFixture(
      "doc_id LONG, text STRING, source STRING",
      Seq(
        Seq((1L, "aaab ba", "s0"), (2L, "ab ab aaab", "s1"))
          .toDF("doc_id", "text", "source"),
        Seq((3L, "ba ba aaab ab", "s0"))
          .toDF("doc_id", "text", "source")),
      (s, out, cp) => TokenBudgetStream.start(s, table, out, cp),
      out => TokenBudgetStream.budget(spark, out))
  }

  twinConformance("c4-span-dedup") {
    // the C4RulesSpec sentence fixture: content-defined boundaries end
    // each 5-word sentence, span ABC is duplicated across the batches
    val A = "the fast big data sort"
    val B = "key table window row join"
    val C = "slow small agg value filter"
    val D = "batch stream merge dup group"
    val E = "spark hash line part vector"
    TwinFixture(
      "doc_id LONG, text STRING",
      Seq(
        Seq((10L, Seq(A, B, C, D).mkString(" ")),
          (20L, Seq(E, A, B, C).mkString(" "))).toDF("doc_id", "text"),
        Seq((30L, Seq(B, C, D, E).mkString(" ")),
          (5L, Seq(A, B, C).mkString(" "))).toDF("doc_id", "text")),
      (s, out, cp) => SpanDedupStream.start(s, out, cp),
      out => SpanDedupStream.dedupedCorpus(spark, out))
  }

  twinConformance("ccnet-buckets") {
    // frozen reference LM, trained once before the stream under test
    val lmRoot = Files.createTempDirectory("twinconf-ccnet-lm")
    val lmIn = lmRoot.resolve("in"); Files.createDirectories(lmIn)
    val lm = lmRoot.resolve("lm").toString
    locally {
      val scratch = lmRoot.resolve("scratch")
      (1 to 10).map(i => (1000L + i, "the quick brown fox jumps over " +
        "the lazy dog again and again")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(scratch.toString)
      Files.move(Files.list(scratch).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get,
        lmIn.resolve("ref.parquet"))
      val q = LmStream.start(
        spark.readStream.schema("doc_id LONG, text STRING")
          .parquet(lmIn.toString), lm, lmRoot.resolve("cp").toString)
      assert(q.awaitTermination(120000), "ccnet LM training did not finish")
    }
    def docs(rows: Seq[(Long, String, String, Long)]) =
      rows.toDF("doc_id", "text", "lang", "n_chars")
    TwinFixture(
      "doc_id LONG, text STRING, lang STRING, n_chars LONG",
      Seq(
        docs(Seq((1L, "the quick brown fox jumps", "en", 25L),
          (2L, "zq xv qq zz vv kk", "en", 17L),
          (3L, "the lazy dog again", "de", 18L))),
        docs(Seq((4L, "fox jumps over the lazy dog", "en", 27L),
          (5L, "aa bb cc dd ee", "de", 14L)))),
      (s, out, cp) => CcnetStream.start(s, lm, out, cp),
      out => CcnetStream.buckets(spark, out))
  }

  twinConformance("quality-audit") {
    // the 24th twin, declared AFTER the harness existed: this block is
    // the entire cost of its three operational proofs
    def docs(ids: Range) = ids.map { i =>
      val src = s"src${i % 2}"
      if (i % 3 == 0) (i.toLong, src, "too few words here")
      else (i.toLong, src,
        "the of " + (1 to 32).map(j => f"qa${i}w$j%02d").mkString(" "))
    }.toDF("doc_id", "source", "text")
    TwinFixture(
      "doc_id LONG, source STRING, text STRING",
      Seq(docs(0 until 30), docs(30 until 60)),
      (s, out, cp) => QualityAuditStream.start(s, out, cp),
      out => QualityAuditStream.audit(spark, out))
  }

  twinConformance("semdedup-incremental") {
    // frozen centroids trained once before the stream under test (the
    // ccnet-buckets convention) — with a frozen model, one-shot and
    // multi-epoch ingest discover the same dominance facts, so the
    // merge law holds
    def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val sdRoot = Files.createTempDirectory("twinconf-semdedup")
    val cents = sdRoot.resolve("cents").toString
    SemDedupStream.train(spark,
      Seq((900L, vec(1.0, 0.0, 0.0, 0.0)), (901L, vec(0.0, 1.0, 0.0, 0.0)),
        (902L, vec(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCells = 3, trainIters = 1, dim = 4,
      centDir = cents)
    TwinFixture(
      "vec_id LONG, embedding ARRAY<FLOAT>",
      Seq(
        Seq((1L, vec(1.0, 0.0, 0.0, 0.0)), (2L, vec(0.0, 1.0, 0.0, 0.0)),
          (3L, vec(0.0, 0.95, 0.05, 0.0))).toDF("vec_id", "embedding"),
        Seq((5L, vec(0.95, 0.05, 0.0, 0.0)), (6L, vec(0.0, 0.0, 1.0, 0.0)))
          .toDF("vec_id", "embedding")),
      (s, out, cp) => SemDedupStream.start(s, "vec_id", "embedding",
        cents, out, cp, eps = 0.9),
      out => SemDedupStream.read(spark, out, "vec_id"))
  }

  twinConformance("mixture-monitor") {
    // frozen DSIR model trained once before the stream under test —
    // with a frozen model every keep decision is a pure function of
    // the document, so the merge law holds
    val seed = (0 until 40).map { i =>
      val tgt = i % 3 == 0
      val text =
        if (tgt) (0 until 8).map(w => s"en$w common the of").mkString(" ")
        else (0 until 8).map(w => s"tcseed${i}w$w").mkString(" ")
      (900L + i, text, tgt)
    }.toDF("doc_id", "text", "is_target")
    graft.operators.DsirIndex.model(spark, "mixtwin", seed, "doc_id",
      "text", col("is_target"))
    def docs(ids: Range) = ids.map { i =>
      val text =
        if (i % 2 == 0) (0 until 8).map(w => s"en$w common the of").mkString(" ")
        else (0 until 8).map(w => s"tcjunk${i}w$w").mkString(" ")
      (i.toLong, text, s"src${i % 2}", text.length.toLong)
    }.toDF("doc_id", "text", "source", "n_chars")
    TwinFixture(
      "doc_id LONG, text STRING, source STRING, n_chars LONG",
      Seq(docs(0 until 30), docs(30 until 60)),
      (s, out, cp) => MixtureStream.start(s,
        graft.operators.DsirIndex.tableName("mixtwin"), out, cp),
      out => MixtureStream.mixture(spark, out))
  }

  // ---- per-batch-grain twins: merge law documented OFF ---------------

  twinConformance("curate-sink") {
    // within-batch near-dup removal is a DOCUMENTED per-batch grain:
    // one-shot ingest would near-dup across what were separate
    // batches, so the merge law is off and CurateStreamSpec pins the
    // cross-batch semantics instead
    def long(i: Long, salt: String) = (i,
      s"document $salt number $i talks about " +
        (0 until 16).map(w => s"${salt}topic$w").mkString(" ") +
        " with the a of and is closing words")
    TwinFixture(
      "doc_id LONG, text STRING",
      Seq(
        Seq(long(0L, "alpha"), long(1L, "beta")).toDF("doc_id", "text"),
        Seq(long(2L, "gamma"), (3L, long(0L, "alpha")._2))
          .toDF("doc_id", "text")),
      (s, out, cp) => CurateStream.start(s, "text", "doc_id", out, cp,
        Curate.Config(minQuality = 0.4, nearDupThreshold = 0.7)),
      out => spark.read.parquet(out).select("doc_id", "text"),
      mergeLaw = false)
  }

  twinConformance("merge-sink") {
    // upserts are batch-ORDERED (latest batch wins): one-shot ingest
    // collapses the order, so the merge law is off and MergeSinkSpec
    // pins the resolution rules
    def ch(rows: Seq[(String, Long, String, Long)]) =
      rows.toDF("op", "k", "name", "v")
    TwinFixture(
      "op STRING, k LONG, name STRING, v LONG",
      Seq(
        ch(Seq(("U", 1L, "one", 10L), ("U", 2L, "two", 20L))),
        ch(Seq(("U", 1L, "one-v2", 11L), ("D", 2L, "two", 0L),
          ("U", 3L, "three", 30L)))),
      (s, out, cp) => MergeSink.start(s, out, cp),
      out => MergeSink.read(spark, out, "k", "op"),
      mergeLaw = false)
  }
}

/** The three operational properties (restart merge law, crash replay
  * via real commit-marker deletion, empty batch) proven UNIFORMLY for
  * every log twin — one ~15-line declaration per twin in
  * [[TwinFixtures]], the [[TwinConformance]] harness. Twin-specific
  * semantics stay in each twin's own spec. */
class TwinConformanceSpec extends TwinFixtures
