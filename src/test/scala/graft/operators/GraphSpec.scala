package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Graph.pageRank]]: bit-determinism across plan-truncation modes,
  * bounded plan depth for long runs, and checkpoint-file hygiene. */
class GraphSpec extends SparkSpec {

  // deterministic non-trivial graph: ring + doubling chords over 40
  // nodes (connected, irregular degrees — ranks genuinely differ)
  private def pairs = {
    import spark.implicits._
    val n = 40
    ((0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)) ++
      (0 until n).map(i => (i.toLong, (2 * i % n).toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("id_a", "id_b")
  }

  private def bits(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) ->
      java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap

  test("per-round plan truncation is bit-identical to the unrolled form") {
    val unrolled = bits(Graph.pageRank(pairs, iters = 5, truncateEvery = 0))
    spark.catalog.clearCache()
    val truncated = bits(Graph.pageRank(pairs, iters = 5, truncateEvery = 1))
    spark.catalog.clearCache()
    assert(unrolled.nonEmpty && unrolled == truncated,
      "truncateEvery must never change a single rank bit")
  }

  test("reliable checkpoint path is bit-identical and keeps only the last round's files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-ckpt").toString
    try {
      val unrolled = bits(Graph.pageRank(pairs, iters = 6, truncateEvery = 0))
      spark.catalog.clearCache()
      val ckpt = bits(Graph.pageRank(pairs, iters = 6, truncateEvery = 2,
        checkpointDir = Some(dir)))
      assert(unrolled == ckpt, "checkpointed ranks must match unrolled bit-for-bit")
      // rounds 2 and 4 truncate mid-run; round 4's files free round 2's,
      // so at most one round of checkpoint files outlives the run
      val rddDirs = new java.io.File(dir).listFiles().flatMap(_.listFiles())
        .filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.length <= 1,
        s"stale checkpoint rounds left behind: ${rddDirs.map(_.getName).toSeq}")
      // one more loop on the same reliable path: connected components
      // over this graph, in a directory of its own
      val ccDir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
      try {
        def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val viaPersist = labels(Dedup.connectedComponents(pairs))
        val viaCkpt = labels(Dedup.connectedComponents(pairs,
          checkpointDir = Some(ccDir.toString)))
        assert(viaPersist.nonEmpty && viaCkpt == viaPersist,
          "checkpointed components must match the persist path")
        val ccRounds = ccDir.toFile.listFiles().flatMap(_.listFiles())
          .filter(_.getName.startsWith("rdd-"))
        assert(ccRounds.length == 1,
          s"only the final round's files may remain: ${ccRounds.map(_.getName).toSeq}")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(ccDir.toFile)
    } finally {
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("plan depth stays constant per round under truncation (and grows unrolled)") {
    def planSize(iters: Int, truncateEvery: Int): Int =
      Graph.pageRank(pairs, iters = iters, truncateEvery = truncateEvery)
        .queryExecution.optimizedPlan.toString.length
    val t3 = planSize(3, 1); val t9 = planSize(9, 1)
    val u3 = planSize(3, 0); val u9 = planSize(9, 0)
    spark.catalog.clearCache()
    info(s"optimized-plan chars: truncated 3/9 iters = $t3/$t9, unrolled = $u3/$u9")
    // truncated: final round always plans over one LogicalRDD -> O(1)
    assert(t9 <= t3 * 12 / 10,
      s"truncated plan must not grow with iteration count: $t3 -> $t9")
    assert(u9 > u3 * 2, s"unrolled sanity: 9-iter plan should dwarf 3-iter ($u3 -> $u9)")
  }

  test("q70's shape (iters <= stride) never truncates — the oracle-mirrored unrolled plan") {
    val plan = Graph.pageRank(pairs, iters = 5).queryExecution.optimizedPlan.toString
    assert(!plan.contains("LogicalRDD"),
      "default stride must leave short runs as the plain unrolled plan")
  }

  test("kCore keeps exactly the cyclic structure, at its unique fixpoint") {
    import spark.implicits._
    // triangle {1,2,3} with a 2-step pendant path 3-11-12, a chain
    // 4-5-6, and a 4-cycle {7,8,9,10}: the 2-core is the triangle +
    // cycle, nothing else — and the path needs TWO peel rounds
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 11L), (11L, 12L),
      (4L, 5L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 10L), (7L, 10L))
      .toDF("id_a", "id_b")
    def run(rounds: Int): Map[Long, Long] =
      Graph.kCore(es, k = 2, rounds = rounds).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("core_degree")).toMap
    val core = run(6)
    assert(core == Map(1L -> 2, 2L -> 2, 3L -> 2,
      7L -> 2, 8L -> 2, 9L -> 2, 10L -> 2),
      s"2-core should be the triangle + 4-cycle at degree 2, got $core")
    // uniqueness: one more round changes nothing (the q131 contract
    // that lets the oracle unroll a FIXED round count)
    assert(run(7) == core, "rounds beyond the peel depth must be no-ops")
    // peeling propagates one layer per round: round 1 drops the leaf
    // 12 but 11 (still degree 2 then) survives; round 2 finishes it
    assert(run(1).contains(11L) && !run(2).contains(11L),
      "the 2-step pendant path must take exactly two peel rounds")
    // 3-core of this graph is empty (triangle nodes have degree 2)
    assert(Graph.kCore(es, k = 3, rounds = 6).isEmpty, "3-core must be empty")
  }

  test("label propagation matches a driver-side synchronous reference; truncation-stable") {
    def runLp(rounds: Int, stride: Int): Map[Long, Long] =
      Graph.labelPropagation(pairs, rounds = rounds, truncateEvery = stride)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: same symmetrized graph, same synchronous
    // (max count, min label) rule, computed in plain Scala
    val adj = pairs.collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var ref: Map[Long, Long] = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to 3)
      ref = adj.map { case (u, ns) =>
        u -> ns.groupBy(ref).view.mapValues(_.size)
          .map { case (l, c) => (-c.toLong, l) }.min._2
      }
    val got = runLp(3, 5)
    spark.catalog.clearCache()
    assert(got == ref, "synchronous LPA must match the driver reference exactly")
    // per-round plan truncation must not change a single label
    val truncated = runLp(3, 1)
    spark.catalog.clearCache()
    assert(truncated == got, "truncateEvery must never change labels")
  }

  test("cappedWedgeCounts: hub centers excluded (and logged), endpoints kept, work bounded") {
    import spark.implicits._
    // hub 0 with 80 spokes (deg 80 > cap 64); spokes 1,2 also attach
    // to 1000 (so the hub still shows up as an ENDPOINT of pairs
    // counted through non-hub centers); plus a bounded 5-leaf star
    val edges = ((1 to 80).map(i => (0L, i.toLong))
      ++ Seq((1L, 1000L), (2L, 1000L))
      ++ (2001 to 2005).map(i => (2000L, i.toLong))).toDF("id_a", "id_b")
    val got = Graph.cappedWedgeCounts(edges, "id_a", "id_b", degCap = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val smallStarPairs = (for {
      a <- 2001 to 2005; b <- 2001 to 2005 if a < b
    } yield (a.toLong, b.toLong) -> 1L).toMap
    // through center 1 and center 2: (0, 1000) twice; through center
    // 1000: (1, 2); through center 2000: the 10 leaf pairs. NOTHING
    // through the hub - its deg-80 fan-out is excluded wholesale.
    assert(got == Map((0L, 1000L) -> 2L, (1L, 2L) -> 1L) ++ smallStarPairs,
      s"capped wedge counts wrong: $got")
    // raising the cap past the hub degree restores full enumeration:
    // spoke pairs appear, and (1, 2) now also counts center 0
    val full = Graph.cappedWedgeCounts(edges, "id_a", "id_b", degCap = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(full((3L, 4L)) == 1L && full((1L, 2L)) == 2L,
      s"uncapped enumeration wrong: ${full.get((3L, 4L))}, ${full.get((1L, 2L))}")
    assert(full.size == got.size - 1 + 80 * 79 / 2,
      "uncapped pair universe must add exactly the hub wedges")
  }
}
