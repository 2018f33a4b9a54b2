package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.DriftStat

/** Streaming twin of q251/q252's drift statistics
  * ([[graft.operators.DriftStat]]): a continuous KS + Wasserstein-1
  * drift monitor over an UNBOUNDED event stream, maintained as an
  * append-only log of mergeable histogram deltas.
  *
  * Per micro-batch the stream appends ONLY the batch's own
  * (week, cents) count deltas — bounded by the batch's value support,
  * whatever the batch size — and the statistics are recovered at READ
  * time by merging: histograms add, and both drift norms are exact
  * functions of the merged histogram, so the stream result after any
  * prefix equals the batch queries over every event seen.
  *
  * The log mechanics (replay idempotence, snapshot compaction safe
  * under crashes and concurrent streams, empty-before-first-commit
  * reads) are [[TwinLog]]'s — this object declares
  * [[DriftStat.histogram]]'s layout: keys (week, cents), sums (cp, cc). */
object DriftStream {

  /** The histogram-delta log: [[DriftStat.histogram]]'s rows, summed
    * per (week, cents). */
  private val Log = TwinLog.Additive("_driftlog",
    "week BIGINT, cents BIGINT, cp BIGINT, cc BIGINT", Seq("cp", "cc"))

  /** Append-only histogram-delta log for a monitor rooted at
    * `outDir`. */
  def logDir(outDir: String): String = Log.dir(outDir)

  /** Start the monitor: per micro-batch, append the batch-local
    * (week, cents) histogram tagged with the epoch id. */
  def start(events: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(events, checkpointDir, trigger, outDir)(
      (DriftStat.histogram(_), Log))

  /** Current drift statistics: merge the live histogram by addition,
    * finish with the exact one-pass stats. Reads the log only —
    * bounded by batches x weeks x value support, never the event
    * history. */
  def stats(spark: SparkSession, outDir: String): DataFrame =
    DriftStat.stats(TwinLog.merged(spark, outDir, Log))

  /** Fold the fully-committed prefix of the log into one snapshot,
    * then garbage-collect the superseded files. Returns the number of
    * files collected. Safe concurrently with a running stream —
    * [[TwinLog.compactAdditive]]. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compactAdditive(spark, outDir, Log)
}
