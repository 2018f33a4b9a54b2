package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.PrioritySample

/** Streaming twin of q247's priority sampling
  * ([[graft.operators.PrioritySample]]): a weighted-sample reservoir
  * over an UNBOUNDED document stream, maintained as an append-only log
  * of mergeable summaries.
  *
  * Per micro-batch the stream appends ONLY the batch's own top-(k+1)
  * priorities per group — bounded rows per batch whatever the batch
  * size — and the reservoir is recovered at READ time by merging
  * summaries: order statistics of a union equal order statistics over
  * concatenated per-part summaries, the same mergeability KMV/KLL
  * lean on. Nothing ever rescans the corpus, and the log is
  * crash/replay-safe by construction:
  *
  *  - priorities are deterministic functions of (id, weight), so a
  *    replayed batch appends byte-identical summary rows;
  *  - [[sample]] deduplicates on (group, id) before the final merge,
  *    so duplicate appends (a crashed attempt that half-landed, an
  *    at-least-once replay) cannot displace distinct members;
  *  - the log grows one summary per (batch, group) — [[compactLog]]
  *    rewrites it back to a single current summary (itself just
  *    `sample`'s merge, persisted) when accretion matters.
  *
  * The final sample after any prefix of the stream equals the batch
  * operator run over every document seen — SampleStreamSpec proves
  * equality batch-for-batch and under duplicate-append replay.
  */
object SampleStream {

  /** Append-only summary log directory for a reservoir rooted at
    * `outDir`. */
  def logDir(outDir: String): String = outDir + "_prilog"

  /** Start the reservoir maintainer: per micro-batch, append the
    * batch-local top-(k+1) summary per group to the log. */
  def start(docs: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(docs, checkpointDir, trigger)((batch =>
      PrioritySample.topSummary(PrioritySample.withPriority(batch, groupCol,
        idCol, weightCol), groupCol, idCol, k), logDir(outDir)))

  /** Current reservoir: merge every logged summary and finish with the
    * DLT rank/tau/estimator pass. Reads the log only — bounded by
    * batches x groups x (k+1) rows, never the corpus.
    *
    * `schemaFrom`: a (possibly non-empty) frame with the caller's
    * (groupCol, idCol, weightCol) types — the log layout is derived
    * from the REAL pipeline ([[PrioritySample.withPriority]] over zero
    * rows of the caller's types), the one-source-of-truth rule the
    * sibling streams follow, so an integer-grouped reservoir reads with
    * the same schema before and after its first commit. Without it the
    * log is read with the documented default layout (STRING group,
    * BIGINT id). Either way the log's schema is declared, never
    * inferred, so building the read runs no job. */
  def sample(spark: SparkSession, outDir: String, groupCol: String,
      idCol: String, k: Int,
      schemaFrom: Option[(DataFrame, String)] = None): DataFrame = {
    // the log row types: the committed path reads the LOG (parquet:
    // every column nullable), so the caller's frame goes through
    // withPriority over zero rows, normalized to parquet nullability
    val logSchema = schemaFrom match {
      case Some((docs, weightCol)) =>
        StructType(PrioritySample.withPriority(
            docs.select(col(groupCol), col(idCol), col(weightCol)).limit(0),
            groupCol, idCol, weightCol)
          .select(col(groupCol), col(idCol), col("w"), col("priority"))
          .schema.map(_.copy(nullable = true)))
      case None => StructType(Seq(StructField(groupCol, StringType),
        StructField(idCol, LongType), StructField("w", LongType),
        StructField("priority", DoubleType)))
    }
    // replay/crash guard: duplicate appends of the same member merge to
    // one row (all its columns are deterministic recomputations); a
    // reservoir whose first micro-batch has not committed yet is simply
    // EMPTY, not broken, and runs the same finishing pass over zero rows
    val log = TwinLog.read(spark, logDir(outDir), logSchema)
    PrioritySample.estimate(
      PrioritySample.topSummary(log, groupCol, idCol, k),
      groupCol, idCol, k)
  }

  /** Rewrite the accreted log back to one current summary per group
    * ([[TwinLog.compact]]: a crash between landing the new generation
    * and deleting the old files leaves duplicates that [[sample]]'s
    * distinct already tolerates). */
  def compactLog(spark: SparkSession, outDir: String, groupCol: String,
      idCol: String, k: Int): Long =
    TwinLog.compact(spark, logDir(outDir), Seq(groupCol))(
      PrioritySample.topSummary(_, groupCol, idCol, k))
}
