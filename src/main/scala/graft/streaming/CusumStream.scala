package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Cusum

/** Streaming twin of q256's CUSUM changepoint
  * ([[graft.operators.Cusum]]): a continuous level-shift monitor over
  * an UNBOUNDED event stream, maintained as an append-only log of
  * per-(type, day) cent-sum deltas.
  *
  * The CUSUM sufficient statistic is ADDITIVE — day sums of a union
  * equal the sum of per-batch day sums — so per micro-batch the
  * stream appends only the batch's own (g, day, x) deltas (bounded by
  * the batch's day support, whatever the batch size), and the exact
  * changepoint after any stream prefix equals the batch q256 over
  * every event seen: merge the log by addition, run the same argmax.
  * Note the statistic is over CLOSED data by construction — a day
  * still receiving events simply has its partial sum so far, exactly
  * as batch q256 would see mid-day data.
  *
  * The log mechanics (replay idempotence, snapshot compaction safe
  * under crashes and concurrent streams, empty-before-first-commit
  * reads) are [[TwinLog]]'s — this object declares [[Cusum.daily]]'s
  * layout: keys (g, day), sum (x). */
object CusumStream {

  /** The day-delta log: [[Cusum.daily]]'s rows, summed per (g, day). */
  private val Log =
    TwinLog.Additive("_cusumlog", "g STRING, day DATE, x BIGINT", Seq("x"))

  /** Append-only day-delta log for a monitor rooted at `outDir`. */
  def logDir(outDir: String): String = Log.dir(outDir)

  /** Start the monitor: per micro-batch, append the batch-local
    * (g, day, x) sums tagged with the epoch id. */
  def start(events: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(events, checkpointDir, trigger, outDir)(
      (Cusum.daily(_), Log))

  /** Current changepoints: merge the live day sums by addition,
    * finish with the exact integer argmax. Reads the log only —
    * bounded by batches x day support, never the event history. */
  def changepoints(spark: SparkSession, outDir: String): DataFrame =
    Cusum.changepoints(TwinLog.merged(spark, outDir, Log))

  /** Fold the fully-committed prefix of the log into one snapshot,
    * then garbage-collect the superseded files. Returns the number of
    * files collected. Safe concurrently with a running stream —
    * [[TwinLog.compactAdditive]]. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compactAdditive(spark, outDir, Log)
}
