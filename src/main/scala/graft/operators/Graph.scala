package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over undirected pair lists (the near-dup
  * graph's shape: (id_a, id_b) edges from LSH + verification).
  *
  * Reference behavior: the duplicate-graph analyses in
  * `/root/reference` stop at flat components; pagerank here is the
  * finer centrality signal for choosing cluster representatives
  * (see queries q70/q82).
  */
object Graph {

  /** Damped PageRank over the symmetrized edge list: `iters` rounds of
    * r = teleport + damping * sum(in-neighbor r / deg). Every round is
    * one edge equi-join + one aggregation keyed on the 8-byte node id;
    * contributions fold in ascending neighbor order (sort_array over
    * (src, contribution) structs) so every double is bit-reproducible
    * across engines and runs. Only the round count is driver-
    * controlled — no driver-side iteration over data.
    *
    * Scale design:
    *  - the degree-joined edge list is persisted ALREADY hash-
    *    partitioned on `src`, so all `iters` joins reuse one
    *    partitioning instead of re-exchanging the edges each round;
    *  - the graph is symmetrized, so every node has an in-edge and the
    *    contribution aggregate covers the full node set each round (no
    *    dangling-mass term);
    *  - `truncateEvery` bounds PLAN depth for long runs: every that
    *    many rounds the rank frame is cut by [[Rounds]]
    *    ([[Rounds.Persist]]) — plan size per round stays O(1) instead
    *    of unrolling a 30-join lineage that chokes the optimizer.
    *    Lineage is KEPT (a lost block recomputes through it); pass
    *    `checkpointDir` to instead write reliable per-round
    *    checkpoints ([[Rounds.Reliable]]) that bound recovery to one
    *    round — each round's files are deleted once the successor is
    *    on disk. The final round is never truncated, so short runs
    *    (iters <= truncateEvery, e.g. q70's 5) plan exactly as the
    *    plain unrolled form.
    *
    * Cache contract: the returned frame reads the persisted edge list
    * (and, on truncated runs, the last truncation's cache); free them
    * after the terminal action with `spark.catalog.clearCache()`; on
    * the checkpointDir path also delete that directory.
    *
    * Output: (id, r) — one row per node of the symmetrized graph. */
  def pageRank(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      iters: Int = 5, teleport: Double = 0.15, damping: Double = 0.85,
      truncateEvery: Int = 5, checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val loop = new Rounds(pairs.sparkSession,
      checkpointDir.map(Rounds.Reliable).getOrElse(Rounds.Persist))
    val sym = symmetrize(pairs, idA, idB)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val edges = sym.join(deg, "src").repartition(col("src")).persist()
    var ranks = deg.select(col("src").as("id"), lit(1.0).as("r"))
    for (t <- 1 to iters) {
      val contrib = edges
        .join(ranks, edges("src") === ranks("id"))
        .select(col("dst"), col("src"), (col("r") / col("deg")).as("c"))
        .groupBy("dst")
        .agg(aggregate(
          sort_array(collect_list(struct(col("src").as("i"), col("c").as("v")))),
          lit(0.0), (acc, x) => acc + x.getField("v")).as("csum"))
      ranks = contrib.select(col("dst").as("id"),
        (lit(teleport) + lit(damping) * col("csum")).as("r"))
      if (truncateEvery > 0 && t % truncateEvery == 0 && t < iters)
        ranks = loop.next(ranks).frame
    }
    ranks
  }

  /** k-core of the symmetrized pair graph by `rounds` fixed peeling
    * rounds: drop every node whose surviving degree is < k, restrict
    * edges to surviving endpoints, repeat. The k-core (maximal
    * subgraph with min degree >= k) is UNIQUE — peeling order cannot
    * change it — so a run that reaches the fixpoint is exact; callers
    * pick `rounds` >= the graph's peel depth and a spec asserts
    * rounds/rounds+1 agreement at test scale (GraphSpec). The round
    * count is plan-time fixed so the DuckDB oracle unrolls the SAME
    * peels — no driver-side convergence probe inside the query.
    *
    * Scale design: each round is one count agg on the 8-byte node id
    * plus two semi-joins of the edge list against the (shrinking)
    * survivor set; nothing ever grows. Each round MATERIALIZES into a
    * cache (one count job, [[Rounds.Persist]]) and the next round
    * plans over the materialized rows: the round body references the
    * edge frame three times (degree agg + two semi-joins), so an
    * unmaterialized loop fans the logical plan out
    * 3^rounds and Catalyst analysis alone goes exponential by round
    * ~6 — measured as a multi-hour analysis stall at rounds=6 on an
    * 11-edge graph before this truncation. The previous round's cache
    * is freed as soon as the next is materialized (two live at most);
    * the final round's cache is left for the caller's action and falls
    * to `spark.catalog.clearCache()` like every other operator cache.
    *
    * Output: (id, core_degree) — surviving nodes with their degree
    * inside the k-core (>= k when converged). */
  def kCore(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      k: Int = 2, rounds: Int = 6): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got $k, $rounds")
    // materialize the INPUT edge set before peeling (r16): the round
    // body references `edges` three times (degree agg + two semi
    // joins), so an unmaterialized first round recomputes the whole
    // upstream pair pipeline (LSH minhash + verify at the call sites)
    // up to three times; one count job here makes round 1 read rows
    // like every later round.
    val loop = new Rounds(pairs.sparkSession, Rounds.Persist)
    var edges = loop.next(symmetrize(pairs, idA, idB), count(lit(1))).frame
    for (_ <- 0 until rounds) {
      val keep = edges.groupBy("src").agg(count(lit(1)).as("n"))
        .filter(col("n") >= k).select(col("src").as("node"))
      // NOTE (r16): broadcasting `keep` into both semi joins was tried
      // (it would spare the round's edge exchanges at cluster scale)
      // and measured SLOWER at bench scale — each round then pays a
      // driver broadcast-build job, serializing the peel. The shuffled
      // semi joins reuse the degree agg's exchange on the src side, so
      // the round's real exchange cost is one edge-list hop; kept.
      val next = edges
        .join(keep, edges("src") === keep("node"), "left_semi")
        .join(keep, edges("dst") === keep("node"), "left_semi")
      // one count job per round materializes it; the predecessor is
      // freed only after that — the round computes FROM it
      edges = loop.next(next, count(lit(1))).frame
    }
    edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /** Synchronous label propagation (community detection) over the
    * symmetrized pair graph: every node starts labeled with its own id;
    * each round, a node adopts the most frequent label among its
    * NEIGHBORS, ties broken by the smallest label — both rules
    * deterministic, so (unlike classic randomized-order LPA) the same
    * input always yields the same communities. Updates are synchronous
    * (all nodes re-label from the same previous round), which is what
    * makes a fixed round count well-defined and lets the DuckDB oracle
    * unroll the identical rounds; on bipartite structures synchronous
    * LPA can oscillate with period 2, which a fixed `rounds` simply
    * samples — callers wanting a fixpoint certificate compare rounds
    * and rounds+1 the way GraphSpec does for kCore.
    *
    * Scale design: each round is one edge equi-join on `src` plus two
    * keyed aggregations — (dst, lbl) counts, then an argmax per dst
    * folded as `min(struct(-count, label))` so no per-node sort or
    * window exists anywhere; the edge list is persisted pre-partitioned
    * on `src` (the pageRank layout) so all rounds reuse one exchange,
    * and `truncateEvery` bounds plan depth for long runs exactly as in
    * [[pageRank]]. Labels are one 16-byte row per node.
    *
    * Cache contract: same as [[pageRank]] — the result reads the
    * persisted edges; free with `spark.catalog.clearCache()`.
    *
    * Output: (id, lbl) — one row per node of the symmetrized graph. */
  def labelPropagation(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", rounds: Int = 3,
      truncateEvery: Int = 5): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val loop = new Rounds(pairs.sparkSession, Rounds.Persist)
    val sym = symmetrize(pairs, idA, idB).repartition(col("src")).persist()
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    for (t <- 1 to rounds) {
      val next = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        // lexicographic struct min == (max count, then min label); the
        // negation cannot overflow (c is a positive row count)
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("best"))
        .select(col("dst").as("id"), col("best.l").as("lbl"))
      labels = next
      if (truncateEvery > 0 && t % truncateEvery == 0 && t < rounds)
        labels = loop.next(labels).frame
    }
    labels
  }

  /** Common-neighbor counts over the symmetrized pair graph with a
    * HARD per-vertex degree cap on wedge CENTERS — the bounded-work
    * form of link prediction's wedge enumeration.
    *
    * Wedges enumerate deg^2 pairs through each center vertex, so one
    * viral hub (a duplicate-template cluster at near-dup scale: deg
    * 10^5 -> 10^10 wedge rows on ONE shuffle key) turns the self-join
    * degenerate. Centers with deg > `degCap` are therefore EXCLUDED
    * from enumeration — common_neighbors counts shared NON-HUB
    * neighbors, a documented statistic both engines can state
    * identically (the q197 oracle carries the same cap), not a silent
    * truncation: the number of capped hubs rides the plan as an
    * [[ObservedWarn]] metric (logged by the consuming action itself —
    * no extra job, and building the frame stays action-free), and a
    * hub still appears as an ENDPOINT of pairs counted through its
    * non-hub co-neighbors. Per-center work is thereby bounded by
    * degCap^2 whatever the degree distribution.
    *
    * Output: (id_a, id_b, common_neighbors) for id_a < id_b,
    * INCLUDING adjacent pairs — callers wanting the link-prediction
    * shape anti-join their edge list. */
  def cappedWedgeCounts(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", degCap: Long = 64L): DataFrame = {
    require(degCap > 0)
    val und = symmetrize(pairs, idA, idB)
    val deg = ObservedWarn(
      und.groupBy(col("src")).agg(count(lit(1)).as("__deg")),
      "capped_wedge_hubs",
      sum(when(col("__deg") > degCap, 1L).otherwise(0L)),
      n => s"cappedWedgeCounts: $n hub vertices (deg > $degCap) excluded " +
        "from wedge enumeration — common_neighbors counts non-hub " +
        "co-neighbors only")
    val centers = und.join(deg.filter(col("__deg") <= degCap), Seq("src"))
      .select(col("src").as("v"), col("dst").as("w"))
    centers.as("n1")
      .join(centers.as("n2"),
        col("n1.v") === col("n2.v") && col("n1.w") < col("n2.w"))
      .groupBy(col("n1.w").as("id_a"), col("n2.w").as("id_b"))
      .agg(count(lit(1)).as("common_neighbors"))
  }

  /** Both directions of an undirected pair list: (a,b) and (b,a) as
    * (src, dst) — the shared edge canonicalization for every graph
    * operator here (self-loops and duplicate pairs pass through; the
    * upstream pair generators already dedup). */
  private def symmetrize(pairs: DataFrame, idA: String, idB: String): DataFrame =
    pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionAll(pairs.select(col(idB).as("src"), col(idA).as("dst")))

}
