package graft.operators

import graft.SparkSpec

/** The [[Rounds]] contract, pinned on every migrated round loop:
  *
  *  (a) jobs per round are no more than before the loops shared
  *      [[Rounds]] — one round's cost is the whole call (plus the
  *      caller's action) at r + 1 rounds minus the same call at r;
  *  (b) once an operator returns, only its final round's state (or
  *      its materialized result) is left registered as persistent —
  *      no predecessor round leaks until the ContextCleaner's sweep.
  *
  * Jobs per round, before -> after (this spec's fixtures, local[8]):
  *
  *   loop                        AQE off   AQE on
  *   Graph.pageRank (stride 1)    1 -> 1    3 -> 3
  *   Graph.pageRank, reliable     3 -> 2    4 -> 3
  *   Graph.kCore                  1 -> 1    6 -> 6
  *   Graph.labelPropagation       1 -> 1    3..4 -> 4
  *   Dedup.connectedComponents    1 -> 1    9..11 -> 10..11
  *   connectedComponents, rel.    3 -> 2    10..12 -> 10..11
  *   Coverage.greedySelect        4 -> 3    8 -> 7
  *   SuffixArray.suffixRanks      2 -> 1    6 -> 5
  *   TheilSen.slopeMilli          4 -> 3    13 -> 12
  *   LongestMatch                 4 -> 4    6 -> 6
  *   Bpe.trainMerges              2 -> 2    5 -> 4
  *
  * With AQE off every job is one the driver issues (actions, eager
  * cuts, broadcast builds), so those counts are exact and pinned as
  * they are. With AQE on every query stage is a job of its own and
  * the count for the same plan varies between repetitions (ranges
  * above, over six repetitions each); that column is checked as the
  * minimum of two repetitions against the top of the range before. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def perRound(run: Int => Unit, r: Int): Int = {
    spark.catalog.clearCache()
    val a = jobsOf(run(r))
    spark.catalog.clearCache()
    val b = jobsOf(run(r + 1))
    spark.catalog.clearCache()
    b - a
  }

  /** Persistent RDDs the body leaves registered. The registry holds
    * its RDDs weakly, so a GC can only lower this count. */
  private def leftBy(body: => Unit): Int = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    val left = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    spark.catalog.clearCache()
    left
  }

  private def withTempDir[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rounds")
    try f(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  // GraphSpec's ring + chords, DedupEndToEndSpec's chain, GraphSpec's
  // peel graph, CoverageSpec's k=50 corpus
  private def ring = {
    val n = 40
    ((0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)) ++
      (0 until n).map(i => (i.toLong, (2 * i % n).toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("id_a", "id_b")
  }
  private def chain = (1 until 40).map(i => (i.toLong, (i + 1).toLong))
    .toDF("id_a", "id_b")
  private def peel = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 11L),
    (11L, 12L), (4L, 5L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 10L),
    (7L, 10L)).toDF("id_a", "id_b")
  private def coverDocs = (1L to 60L)
    .map(i => (i, Seq(s"shared${i % 7}", s"u$i").sorted))
    .toDF("doc_id", "feats")
  // Theil-Sen rounds follow the seeded interval width: 50 closes in
  // one 64-way split, 1000 needs two
  private def theilSenRows(rounds: Int) = (if (rounds == 1)
      Seq(("g", 1L, 0L), ("g", 20L, 0L), ("g", 40L, 1L))
    else Seq(("g", 1L, 0L), ("g", 2L, 0L), ("g", 3L, 1L)))
    .toDF("g", "x", "y")
  private def snips = "the quick brown fox".tails.filter(_.nonEmpty).toSeq
    .toDF("__snip")
  private def bpeDocs = Seq((1L, "aaab aaab"), (2L, "aaab ab"))
    .toDF("doc_id", "text")

  /** (loop, call at a given round count, base round count, jobs per
    * round before with AQE off, top of the AQE-on range before). */
  private val loops: Seq[(String, Int => Unit, Int, Int, Int)] = Seq(
    ("Graph.pageRank", r => Graph.pageRank(ring, iters = r,
      truncateEvery = 1).collect(), 3, 1, 3),
    ("Graph.pageRank reliable", r => withTempDir(d => Graph.pageRank(ring,
      iters = r, truncateEvery = 1, checkpointDir = Some(d)).collect()), 3, 3, 4),
    ("Graph.kCore", r => Graph.kCore(peel, k = 2, rounds = r).collect(), 2, 1, 6),
    ("Graph.labelPropagation", r => Graph.labelPropagation(ring, rounds = r,
      truncateEvery = 1).collect(), 3, 1, 4),
    ("Dedup.connectedComponents", r => Dedup.connectedComponents(chain,
      maxIter = r, failOnNonConvergence = false).collect(), 1, 1, 11),
    ("Dedup.connectedComponents reliable", r => withTempDir(d =>
      Dedup.connectedComponents(chain, maxIter = r, checkpointDir = Some(d),
        failOnNonConvergence = false).collect()), 1, 3, 12),
    ("Coverage.greedySelect", r =>
      Coverage.greedySelect(coverDocs, "doc_id", "feats", r), 3, 4, 8),
    // initKey 2 -> 3 doubling rounds over 16 a's, initKey 1 -> 4
    ("SuffixArray.suffixRanks", r => SuffixArray.suffixRanks(
      Seq((1L, "a" * 16)).toDF("doc_id", "text"), "doc_id", "text",
      initKey = 1 << (3 - r)).collect(), 2, 2, 6),
    ("TheilSen.slopeMilli", r => TheilSen.slopeMilli(theilSenRows(r),
      "g", "x", "y").collect(), 1, 4, 13),
    // binary search over [0, cap]: cap 1 -> 1 round, cap 3 -> 2
    ("LongestMatch.longestMatchFromSnips", r =>
      LongestMatch.longestMatchFromSnips(snips,
        Seq((1L, "quick")).toDF("eval_id", "text"), "eval_id", "text",
        cap = (1 << r) - 1, fanout = 1).collect(), 1, 4, 6),
    ("Bpe.trainMerges", r => Bpe.trainMerges(bpeDocs, "text", rounds = r),
      1, 2, 5))

  for ((name, run, r, offBefore, onBefore) <- loops)
    test(s"$name: jobs per round no more than before") {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val off = try perRound(run, r)
        finally spark.conf.unset("spark.sql.adaptive.enabled")
      val on = math.min(perRound(run, r), perRound(run, r))
      info(s"jobs per round: AQE off $off (before $offBefore), " +
        s"AQE on $on (before up to $onBefore)")
      assert(off <= offBefore, s"AQE off: $off jobs per round, was $offBefore")
      assert(on <= onBefore, s"AQE on: $on jobs per round, was up to $onBefore")
    }

  test("only the final round's state outlives each operator") {
    // (operator, persistent RDDs it may leave: its final round state or
    // materialized result, plus the input caches its contract names)
    val cases: Seq[(String, () => Unit, Int)] = Seq(
      // + the persisted edge list the result reads
      ("Graph.pageRank", () => Graph.pageRank(ring, iters = 4,
        truncateEvery = 1).collect(), 2),
      ("Graph.kCore", () => Graph.kCore(peel, k = 2, rounds = 4).collect(), 1),
      // + the persisted symmetrized edges the result reads
      ("Graph.labelPropagation", () => Graph.labelPropagation(ring,
        rounds = 4, truncateEvery = 1).collect(), 2),
      ("Dedup.connectedComponents", () =>
        Dedup.connectedComponents(chain).collect(), 1),
      ("Coverage.greedySelect", () =>
        Coverage.greedySelect(coverDocs, "doc_id", "feats", 5), 0),
      ("SuffixArray.suffixRanks", () => SuffixArray.suffixRanks(
        Seq((1L, "a" * 16)).toDF("doc_id", "text"), "doc_id", "text",
        initKey = 1).collect(), 1),
      // two search rounds plus the seed: before, all three stayed
      ("TheilSen.slopeMilli", () => TheilSen.slopeMilli(theilSenRows(2),
        "g", "x", "y").collect(), 1),
      ("LongestMatch.longestMatchFromSnips", () =>
        LongestMatch.longestMatchFromSnips(snips,
          Seq((1L, "quick")).toDF("eval_id", "text"), "eval_id", "text",
          cap = 7, fanout = 1).collect(), 1),
      ("Bpe.trainMerges", () => Bpe.trainMerges(bpeDocs, "text", rounds = 3), 0))
    val over = cases.flatMap { case (name, run, allowed) =>
      val left = leftBy(run())
      if (left > allowed) Some(s"$name left $left persistent RDDs (allowed $allowed)")
      else None
    }
    assert(over.isEmpty, over.mkString("\n"))
  }
}
