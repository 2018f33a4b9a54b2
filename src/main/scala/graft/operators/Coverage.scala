package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy maximum-coverage selection over per-document feature sets —
  * the submodular facility-location recipe behind coverage-driven
  * training-data selection (pick the document covering the most of the
  * feature space, then repeatedly the document adding the most
  * not-yet-covered features; the greedy prefix carries the classic
  * 1 - 1/e approximation guarantee).
  *
  * Execution shape is the BPE-training one (q90): ONE argmax job per
  * round whose driver-side traffic is a single row — never the gain
  * table, never a feature list. The covered set stays distributed.
  * Nothing ever materializes pairwise document overlaps — the O(n^2)
  * trap a naive "most-novel vs all previously picked" join would hit.
  *
  * Round-on-round state discipline: the exploded (id, feature)
  * projection is persisted ONCE (a round-7/8 lesson — every round's
  * anti-join and the winner-feature probe re-derive it otherwise), and
  * the covered set is cut every round by [[Rounds.Local]], so BOTH
  * logical-plan depth and RDD lineage stay O(1) in k instead of the
  * O(k) chained `union().distinct()` history that re-registers every
  * ancestor stage per job (O(k^2) scheduler work) and overflows the
  * task-deserialization stack around k~50. See the in-loop comment for
  * why the [[Rounds.Persist]] cut [[Dedup.connectedComponents]] uses
  * is NOT enough here, and the fault-tolerance tradeoff that buys.
  *
  * The covered set's row count is a free by-product of the per-round
  * materialize action (the count that populates the cache before the
  * predecessor is freed), so the broadcast decision below costs zero
  * extra jobs; it also equals the running sum of marginal gains, each
  * gain counting exactly the winner's not-yet-covered features. While the
  * covered set is small it broadcasts into the anti-join (feature-key
  * lookup, no shuffle of the pairs table); past `broadcastMaxRows` the
  * hint is DROPPED and the anti-join shuffles both sides. The hint
  * must be dropped explicitly: an explicit `broadcast()` overrides
  * `autoBroadcastJoinThreshold` and is never demoted by Spark, so a
  * pathological corpus would otherwise OOM the driver collecting the
  * covered set.
  *
  * q229 is the 2-round SQL-expressible slice of exactly this loop,
  * oracled against DuckDB; CoverageSpec proves the k-round loop equals
  * a from-first-principles reference on planted corpora (including
  * k=50) and pins the O(1) covered-plan depth.
  *
  * @param sets (`idCol`, `featCol`: array of distinct features) — one
  *             row per candidate document
  * @param k    rounds; selection stops early when no candidate adds a
  *             new feature (marginal gain would be 0)
  * @param broadcastMaxRows covered-set row bound up to which the
  *             anti-join build side broadcasts (default 4M features —
  *             tens of MB of hashed strings, comfortably inside a
  *             normal driver/executor budget)
  * @return picks in selection order: (id, marginal gain)
  */
object Coverage {

  def greedySelect(sets: DataFrame, idCol: String, featCol: String,
      k: Int, broadcastMaxRows: Long = 4L << 20): Seq[(Long, Long)] =
    greedySelectWithCovered(sets, idCol, featCol, k, broadcastMaxRows) match {
      case (picks, free) => free(); picks
    }

  /** Test seam: returns the picks plus a `free()` that unpersists the
    * final round's state; `lastCoveredPlanDepth` (set when k >= 1 ran)
    * lets CoverageSpec pin that plan depth does not grow with k. */
  private[graft] var lastCoveredPlanDepth: Int = -1

  private[graft] def greedySelectWithCovered(sets: DataFrame, idCol: String,
      featCol: String, k: Int,
      broadcastMaxRows: Long): (Seq[(Long, Long)], () => Unit) = {
    require(k > 0, "need k > 0 rounds")
    val pairs = sets.select(col(idCol).as("__id"),
      explode(col(featCol)).as("__f")).persist()
    val loop = new Rounds(sets.sparkSession, Rounds.Local)
    var covered: Option[DataFrame] = None // plan-truncated view
    var coveredRows = 0L // == sum of gains so far (exact, see scaladoc)
    val picks = Seq.newBuilder[(Long, Long)]
    var round = 0
    var exhausted = false
    while (round < k && !exhausted) {
      val marginal = covered
        .map { c =>
          val build = if (coveredRows <= broadcastMaxRows) broadcast(c) else c
          pairs.join(build, Seq("__f"), "left_anti")
        }
        .getOrElse(pairs)
        .groupBy(col("__id")).agg(count(lit(1)).as("__gain"))
        .orderBy(col("__gain").desc, col("__id").asc)
        .limit(1)
        .collect() // exactly ONE row crosses to the driver per round
      marginal.headOption match {
        case Some(row) =>
          val id = row.getLong(0)
          val gain = row.getLong(1)
          picks += ((id, gain))
          val winnerFeats = pairs.filter(col("__id") === id)
            .select(col("__f")).distinct()
          // the Local cut, NOT lineage-kept persist (the CC cut):
          // persist cuts neither RDD lineage nor the per-job stage DAG,
          // so round r's jobs re-register all r ancestor stages
          // (skipped, but scheduled) and task serialization recurses
          // through r rounds of nested RDD deps — at k=50 that is a
          // StackOverflowError in task deserialization (observed) and
          // O(k^2) scheduler work. CC survives on lineage-kept persist
          // because its round count is ~log(diameter) <= 25; greedy
          // selection's k is a caller budget with no such bound, so
          // each round's covered set is MATERIALIZED and its lineage
          // erased. Tradeoff, stated plainly: a lost executor now
          // fails the job instead of recomputing — the covered set is
          // tiny (feature keys only) and rounds are cheap to re-run,
          // so restart-the-selection is the recovery story at scale.
          // The size tracker rides the materialize job; on a
          // precondition-respecting corpus it equals coveredRows + gain
          val next = loop.next(covered.map(_.union(winnerFeats).distinct())
            .getOrElse(winnerFeats), count(lit(1)))
          coveredRows = next.stats.getLong(0)
          val handle = next.frame
          covered = Some(handle)
          lastCoveredPlanDepth =
            handle.queryExecution.analyzed.collect { case p => p }.size
          round += 1
        case None => exhausted = true // every feature covered
      }
    }
    (picks.result(), () => { loop.close(); pairs.unpersist(); () })
  }
}
