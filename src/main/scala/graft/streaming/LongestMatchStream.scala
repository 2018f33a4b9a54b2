package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.{LongestMatch, SuffixIndex}

/** Streaming longest-contamination-span scoring — the incremental read
  * of q266 (the 22nd stream==batch twin): the standing suffix index is
  * append-immutable per corpus SNAPSHOT ([[SuffixIndex]] builds once
  * and every read reuses it until the stamp moves), so arriving EVAL
  * batches can be scored as they land — each micro-batch runs
  * [[LongestMatch.longestMatchFromRanks]] against the persisted index
  * and appends its spans, and no batch ever rebuilds or rescans the
  * corpus side (the per-batch cost is the batch's own k-ary probe
  * rounds against the persisted snippet table).
  *
  * Idempotence is [[TwinLog]]'s RESULT-log protocol (rows are final
  * values, not additive deltas): each appended row is a deterministic
  * function of (batchId, the batch's rows) tagged with the epoch, so
  * an at-least-once replay (foreachBatch re-runs the same epoch after
  * a crash) appends byte-identical rows that [[read]]'s per-epoch
  * distinct collapses. Eval ids must be
  * UNIQUE across the stream (the eval-suite contract shared with every
  * decon operator): the same id arriving twice in different epochs is
  * two legitimate rows this protocol cannot tell from a replay. Eval
  * ids are LONGs — the engine-wide id convention — enforced at start
  * (the [[read]] schema states BIGINT; a different id type would write
  * fine and fail only at read time).
  *
  * OPERATIONAL: refresh the corpus snapshot (anything that moves the
  * [[SuffixIndex]] stamp) only while the stream is STOPPED — the
  * [[CurateStream.SemanticGate]] maintenance-window rule. A corpus
  * move between a crashed epoch and its replay would rebuild the index
  * mid-epoch and re-score that epoch's rows against a DIFFERENT model,
  * so the replayed rows are no longer byte-identical and the full-row
  * distinct keeps both versions.
  */
object LongestMatchStream {

  /** Score one batch and append its spans under the epoch tag —
    * exposed for crash/replay testing, the [[CurateStream]] pattern. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      tag: String, corpus: DataFrame, idCol: String, textCol: String,
      eIdCol: String, eTextCol: String, outDir: String, cap: Int,
      fanout: Int = 6, root: Option[String] = None): Unit = {
    TwinLog.append(LongestMatch.longestMatchFromRanks(
        SuffixIndex.ranks(spark, tag, corpus, idCol, textCol, root),
        corpus, idCol, textCol, batch, eIdCol, eTextCol, cap, fanout),
      outDir, batchId)
    // the operator persists its snippet table per call (the documented
    // clearCache-after-terminal-action contract); a long-lived stream
    // must free it per batch
    spark.catalog.clearCache()
  }

  /** Start the maintainer: per arriving eval micro-batch, score
    * against the standing `tag` index over `corpus` (built on first
    * touch, reused while the corpus stamp holds) and append the spans
    * to `outDir`. */
  def start(evalDocs: DataFrame, eIdCol: String, eTextCol: String,
      tag: String, corpus: DataFrame, idCol: String, textCol: String,
      outDir: String, checkpointDir: String, cap: Int,
      fanout: Int = 6, root: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(evalDocs.schema(eIdCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"eval id column '$eIdCol' must be LONG (the engine id " +
        s"convention; read() states BIGINT), got " +
        s"${evalDocs.schema(eIdCol).dataType.simpleString}")
    TwinLog.foreachEpoch(evalDocs, checkpointDir, trigger) { (b, id) =>
      applyBatch(b.sparkSession, b, id, tag, corpus, idCol, textCol,
        eIdCol, eTextCol, outDir, cap, fanout, root)
    }
  }

  /** Everything scored so far: one (eIdCol, match_len, witness) row
    * per eval document — replayed epochs collapse
    * ([[TwinLog.results]]). A log whose first batch has not committed
    * reads as EMPTY. */
  def read(spark: SparkSession, outDir: String, eIdCol: String): DataFrame =
    TwinLog.results(spark, outDir, StructType.fromDDL(
      s"$eIdCol BIGINT, match_len BIGINT, witness STRING"))
}
