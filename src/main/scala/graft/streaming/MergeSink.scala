package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming CDC upsert/delete sink — the incremental twin of the batch
  * MERGE (q153), shaped like a log-structured merge tree on plain
  * parquet:
  *
  *  - WRITE path: each micro-batch of change rows (`opCol` = 'U'
  *    upsert / 'D' delete, a key, payload columns) lands as its own
  *    `_batch=<id>` partition using DYNAMIC partition overwrite, so a
  *    REPLAYED batch (failure + restart re-delivers the same batchId)
  *    REPLACES its own partition instead of double-appending —
  *    exactly-once sink state from idempotent writes alone, no
  *    transaction log. Writing a batch never reads or rewrites any
  *    other partition: ingest cost is O(batch), not O(table).
  *  - READ path: latest-change-per-key resolution (one key-partitioned
  *    window over base + deltas), deletes dropped. At 100 TB this is
  *    the read-amplification trade every MOR table makes; the
  *    changelog stays shallow because...
  *  - COMPACT path: [[compact]] collapses the whole changelog into one
  *    resolved partition (run between stream runs, swap-in-place like
  *    Maintenance.compactIndexInPlace). Reads before and after are
  *    identical by construction — the spec proves it.
  *
  * Contract: at most one change row per key per batch (the natural CDC
  * pre-compaction contract). If violated, resolution still stays
  * deterministic — ties break 'D' before 'U' (op ascending) — but
  * which change "wins" is then the tiebreak's choice, not arrival
  * order's. */
object MergeSink {

  val BatchCol = "_batch"

  /** Start the streaming apply: every micro-batch goes through
    * [[applyBatch]] under the stream's own batchId. */
  def start(changes: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, outDir, batchId)
      }
      .start()

  /** Land one change batch as the sink's `_batch=<batchId>` partition.
    * `mode(overwrite)` + dynamic partition overwrite replaces ONLY the
    * partitions present in this write — i.e. exactly this batch's —
    * which is what makes a crash-replay idempotent. */
  def applyBatch(batch: DataFrame, outDir: String, batchId: Long): Unit =
    batch.withColumn(BatchCol, lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BatchCol)
      .parquet(outDir)

  /** The resolved table: latest change per key wins (highest batch;
    * ties 'D' first), deletes drop, bookkeeping columns removed. */
  def read(spark: SparkSession, dir: String, keyCol: String,
      opCol: String): DataFrame =
    resolved(spark, dir, keyCol, opCol).drop(BatchCol, opCol)

  private def resolved(spark: SparkSession, dir: String, keyCol: String,
      opCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(BatchCol).desc, col(opCol).asc)
    spark.read.parquet(dir)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) === "U")
      .drop("__rn")
  }

  /** Collapse the changelog into ONE resolved partition, `_batch=-1`
    * (below every stream batchId, so any later batch still wins
    * resolution, and a replay of a batch the base already folded in
    * overwrites only its own partition, never the base), via
    * scratch-dir write + swap. Crash between
    * delete and rename loses no durability promise a changelog sink
    * ever made mid-maintenance: rerun the compaction from the scratch
    * copy's source-of-truth — the sink itself — like the index
    * compaction's documented recovery. Returns the resolved row count. */
  def compact(spark: SparkSession, dir: String, keyCol: String,
      opCol: String): Long = {
    val tmp = dir + "_compact.tmp"
    val out = resolved(spark, dir, keyCol, opCol)
      .withColumn(opCol, lit("U"))
      .withColumn(BatchCol, lit(-1L))
    out.write.mode("overwrite").partitionBy(BatchCol).parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(dir))
    spark.read.parquet(dir).count()
  }
}
