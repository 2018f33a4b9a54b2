package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dsir

/** Streaming twin of q265's DSIR importance weighting: the hashed
  * n-gram bucket model maintained INCREMENTALLY over an unbounded
  * document stream, scoring any frame of documents (arriving batches,
  * selection candidates) at read time against the model-so-far.
  *
  * Both model sides are additive, so [[TwinLog]]'s additive protocol
  * fits exactly (the LmStream shape, one merge class earlier):
  *
  *  - raw bucket counts cr: per micro-batch, the batch's own
  *    (bucket, cnt) deltas — at most B rows per batch;
  *  - target bucket counts ct: the same deltas restricted to the
  *    batch's TARGET documents (the quality-reference membership
  *    column travels with the stream);
  *  - totals Tr/Tt: DERIVED at read time by summing the merged logs —
  *    no third log to drift out of step.
  *
  * Both logs are appended by the SAME foreachBatch epoch under the
  * SAME batch id, so an at-least-once replay rewrites byte-identical
  * rows into both (the protocol's full-row distinct collapses them)
  * and a crash between the two appends is healed by the epoch replay —
  * the LmStream argument verbatim.
  *
  * [[score]] is the batch arithmetic verbatim
  * ([[Dsir.scoreInstances]]): instances left-join the <= B-row
  * broadcast weight table; buckets the model has NEVER seen (scoring
  * new documents) take the fully smoothed ct = cr = 0 default —
  * exactly what Laplace smoothing is for, and what DsirStreamSpec
  * proves equal to the batch twin over every prefix.
  */
object DsirStream {

  /** The bucket count is part of the LOG IDENTITY (folded into the
    * directory name): a reader or appender with a different `buckets`
    * sees a separate (initially empty) log instead of silently mixing
    * foreign bucket spaces — the additive-log version of the
    * SRP index's stamped-parameters guard. */
  private def rawLog(buckets: Int) =
    TwinLog.Additive(s"_dsraw_b$buckets", "bucket BIGINT, cr BIGINT", Seq("cr"))
  private def targetLog(buckets: Int) =
    TwinLog.Additive(s"_dstgt_b$buckets", "bucket BIGINT, ct BIGINT", Seq("ct"))

  def rawDir(outDir: String, buckets: Int): String =
    rawLog(buckets).dir(outDir)
  def targetDir(outDir: String, buckets: Int): String =
    targetLog(buckets).dir(outDir)

  /** The batch-local raw bucket count summary — q265's feature explode
    * stated over one micro-batch. `docs` carries (text, is_target). */
  private[streaming] def rawSummary(docs: DataFrame, buckets: Int): DataFrame =
    Dsir.featureBuckets(docs, "text", buckets, Seq.empty)
      .groupBy("bucket").agg(count(lit(1)).as("cr"))

  /** The target-side summary: the same explode over the batch's
    * target documents only. */
  private[streaming] def targetSummary(docs: DataFrame, buckets: Int): DataFrame =
    Dsir.featureBuckets(docs.filter(col("is_target")), "text", buckets,
      Seq.empty)
      .groupBy("bucket").agg(count(lit(1)).as("ct"))

  /** Start the maintainer: ONE epoch appends the batch's raw and
    * target bucket deltas to both logs under the same batch id.
    * `docs` must carry (doc_id, text, is_target). */
  def start(docs: DataFrame, outDir: String, checkpointDir: String,
      buckets: Int = Dsir.DefaultBuckets,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(docs, checkpointDir, trigger, outDir)(
      (rawSummary(_, buckets), rawLog(buckets)),
      (targetSummary(_, buckets), targetLog(buckets)))

  /** The merged raw bucket model (bucket, cr) after any stream prefix. */
  def rawCounts(spark: SparkSession, outDir: String,
      buckets: Int = Dsir.DefaultBuckets): DataFrame =
    TwinLog.merged(spark, outDir, rawLog(buckets))

  /** The merged target bucket model (bucket, ct). */
  def targetCounts(spark: SparkSession, outDir: String,
      buckets: Int = Dsir.DefaultBuckets): DataFrame =
    TwinLog.merged(spark, outDir, targetLog(buckets))

  /** Score `docs` (doc_id, text) against the standing model: q265's
    * output shape (doc_id, n_feats, weight_bits), with never-seen
    * buckets on the fully smoothed default path. */
  def score(spark: SparkSession, outDir: String, docs: DataFrame,
      buckets: Int = Dsir.DefaultBuckets): DataFrame =
    Dsir.scoreInstances(
      Dsir.featureBuckets(docs, "text", buckets, Seq("doc_id")),
      "doc_id", rawCounts(spark, outDir, buckets),
      targetCounts(spark, outDir, buckets), buckets)

  /** [[score]] + the q270 RESAMPLING decision against the standing
    * model — the arriving-batch data-selection gate closed end to end:
    * (doc_id, n_feats, weight_bits, wb_norm, keep). Pure per-row
    * integer arithmetic on top of the score ([[Dsir.resampleKeep]] —
    * same id -> same draw), so the stream's keep set over any prefix
    * equals the batch q270 decision against the same counts. */
  def resample(spark: SparkSession, outDir: String, docs: DataFrame,
      buckets: Int = Dsir.DefaultBuckets, pivotBits: Int = 0): DataFrame =
    Dsir.resampleKeep(score(spark, outDir, docs, buckets), "doc_id",
      pivotBits)

  /** Fold both logs' fully-committed prefixes into snapshots; returns
    * total files collected — [[TwinLog.compactAdditive]]. */
  def compactLog(spark: SparkSession, outDir: String,
      buckets: Int = Dsir.DefaultBuckets): Long =
    TwinLog.compactAdditive(spark, outDir, rawLog(buckets), targetLog(buckets))
}
