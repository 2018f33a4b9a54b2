package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.SpearmanHist

/** Streaming twin of q259's histogram-coarsened Spearman
  * ([[graft.operators.SpearmanHist]]): a continuous rank-correlation
  * monitor between two coarsened quality signals over an UNBOUNDED
  * document stream, maintained as an append-only log of joint-
  * histogram cell deltas.
  *
  * The sufficient statistic is the (source, xb, yb) cell count —
  * ADDITIVE, so per micro-batch the stream appends only the batch's
  * own cell deltas (bounded by the batch's bucket support, whatever
  * the batch size), and the exact statistic after any stream prefix
  * equals batch q259 over every document seen: merge the log by
  * addition, run the same midrank/moment finish. This is the
  * RANK-STATISTIC case the additive protocol makes possible at all:
  * ranks themselves are not mergeable, but the bucketed histogram
  * they are computed FROM is — which is precisely why q259 coarsens
  * first.
  *
  * The log mechanics (replay idempotence, snapshot compaction safe
  * under crashes and concurrent streams, empty-before-first-commit
  * reads) are [[TwinLog]]'s — this object declares
  * [[SpearmanHist.cells]]'s layout: keys (source, xb, yb), sum (cnt). */
object SpearmanStream {

  /** The cell-delta log: [[SpearmanHist.cells]]'s rows, summed per
    * (source, xb, yb). */
  private val Log = TwinLog.Additive("_rholog",
    "source STRING, xb BIGINT, yb BIGINT, cnt BIGINT", Seq("cnt"))

  /** Append-only cell-delta log for a monitor rooted at `outDir`. */
  def logDir(outDir: String): String = Log.dir(outDir)

  /** Start the monitor: per micro-batch, append the batch-local
    * (source, xb, yb) cell counts tagged with the epoch id. */
  def start(docs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(docs, checkpointDir, trigger, outDir)(
      (SpearmanHist.cells(_), Log))

  /** Current rank correlations: merge the live cells by addition,
    * finish with the exact midrank/moment pass. Reads the log only —
    * bounded by batches x bucket support, never the corpus. */
  def rho(spark: SparkSession, outDir: String): DataFrame =
    SpearmanHist.rho(TwinLog.merged(spark, outDir, Log))

  /** Fold the fully-committed prefix of the log into one snapshot,
    * then garbage-collect the superseded files. Returns the number of
    * files collected. Safe concurrently with a running stream —
    * [[TwinLog.compactAdditive]]. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compactAdditive(spark, outDir, Log)
}
