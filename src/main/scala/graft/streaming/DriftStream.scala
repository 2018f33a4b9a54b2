package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

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
  * reads) are [[TwinLog]]'s — this object binds them to
  * [[DriftStat.histogram]]'s keys (week, cents) and sums (cp, cc). */
object DriftStream {

  /** Append-only histogram-delta log for a monitor rooted at
    * `outDir`. */
  def logDir(outDir: String): String = outDir + "_driftlog"

  /** The summary schema — needed to answer reads that arrive BEFORE
    * the first micro-batch commits (no parquet directory yet): the
    * monitor is simply empty, not broken. Derived from
    * [[DriftStat.histogram]] itself, so a histogram schema change
    * cannot silently diverge empty-log reads from real-log reads. */
  private def summarySchema(spark: SparkSession): StructType = {
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("ts", TimestampType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
    DriftStat.histogram(emptyEvents).schema
  }

  /** Start the monitor: per micro-batch, append the batch-local
    * (week, cents) histogram tagged with the epoch id. */
  def start(events: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(events, checkpointDir, trigger, additive = true)(
      (DriftStat.histogram(_), logDir(outDir)))

  /** Current drift statistics: merge the live histogram by addition,
    * finish with the exact one-pass stats. Reads the log only —
    * bounded by batches x weeks x value support, never the event
    * history. */
  def stats(spark: SparkSession, outDir: String): DataFrame =
    DriftStat.stats(TwinLog.merged(spark, logDir(outDir),
      summarySchema(spark), Seq("week", "cents"), Seq("cp", "cc")))

  /** Fold the fully-committed prefix of the log into one snapshot,
    * then garbage-collect the superseded files. Returns the number of
    * files collected. Safe concurrently with a running stream —
    * [[TwinLog.compactAdditive]]. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compactAdditive(spark, logDir(outDir),
      Seq("week", "cents"), Seq("cp", "cc"))
}
