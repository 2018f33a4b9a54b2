package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Portable

/** Streaming KMV distinct-count sketch — q69's bottom-k estimator over
  * an UNBOUNDED document stream (18th twin): "how many distinct
  * shingles has this source ever ingested", answered after any prefix
  * without ever re-reading old text, in k longs of state per source.
  *
  * The mergeability here is the ORDER-STATISTIC class — a third kind
  * beside the additive logs ([[TwinLog.merged]]: summaries merge by
  * addition) and the set-fact index ([[DedupIndexStream]]: rows exist
  * or not): the k smallest of a union equal the k smallest of the
  * union of per-part k-smallest sets, so each micro-batch appends ONLY
  * its own bottom-k distinct hashes per source (<= k rows per (batch,
  * source), whatever the batch size) and the reader recovers the
  * corpus-exact sketch by re-minning the log. Hashes are deterministic
  * functions of the shingle text, so a replayed batch appends
  * byte-identical rows and the reader's distinct absorbs them — the
  * [[DedupIndexStream]] idempotence story.
  *
  * The read equals batch q69's sketch columns over every document
  * seen: h_k = the k-th smallest distinct shingle hash (NULL while
  * fewer than k distinct shingles exist — [[graft.functions
  * .Aggregators.MinKHash]]'s finish), estimate = (k-1) * 2^60 / h_k.
  * KmvStreamSpec proves stream == batch twin after every prefix,
  * under replay, and across compaction.
  */
object KmvStream {

  /** Append-only bottom-k log for a sketch rooted at `outDir`. */
  def logDir(outDir: String): String = outDir + "_kmvlog"

  /** The 2^60 hash-space constant of q69's estimator. */
  private val HashSpace = 1152921504606846976.0

  /** One batch's summary rows: the k smallest distinct shingle hashes
    * per source — (source, h). `docs` needs (source, text); shingles
    * and the salted hash are q69's exact spelling. */
  def batchSummary(docs: DataFrame, k: Int): DataFrame = {
    val hs = docs
      .select(col("source"),
        explode(Portable.wordShingles(col("text"), 3)).as("sgl"))
      .select(col("source"),
        Portable.pmd5(concat(lit("kmv:"), col("sgl"))).as("h"))
      .distinct()
    graft.plans.TopKPerKey.topK(hs, Seq("source"), Seq(("h", true)), k)
  }

  /** Start the sketch maintainer: per micro-batch, append the batch's
    * bottom-k rows tagged with the epoch. */
  def start(docs: DataFrame, outDir: String, checkpointDir: String,
      k: Int, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(docs, checkpointDir, trigger)(
      (batchSummary(_, k), logDir(outDir)))

  /** Current sketch: (source, h_k, kmv_estimate) — q69's columns over
    * everything ingested. Reads the log only (<= batches x sources x k
    * rows). A sketch whose first micro-batch has not committed reads
    * as EMPTY (source typed STRING by the canonical documents schema —
    * the [[DedupIndexStream]] convention). */
  def estimate(spark: SparkSession, outDir: String, k: Int): DataFrame = {
    // replay/crash guard: duplicate appends collapse — bottom-k rows
    // are deterministic functions of the batch's text
    val logRows = TwinLog.read(spark, logDir(outDir),
      StructType(Seq(StructField("source", StringType),
        StructField("h", LongType))))
    graft.plans.TopKPerKey.topK(logRows, Seq("source"), Seq(("h", true)), k)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("__n"), max(col("h")).as("__hk"))
      .select(col("source"),
        when(col("__n") === k && col("__hk") > 0, col("__hk")).as("h_k"),
        when(col("__n") === k && col("__hk") > 0,
          lit((k - 1).toDouble) * lit(HashSpace) / col("__hk"))
          .as("kmv_estimate"))
  }

  /** Rewrite the accreted log back to one current bottom-k generation
    * per source ([[TwinLog.compact]]: crash-safe, leftovers collapse
    * under the reader's distinct + re-min). The fold is
    * KEY-SUPPORT-BOUNDED (sources x k rows), so it stays one file
    * until the log itself outgrows one file's bytes. */
  def compactLog(spark: SparkSession, outDir: String, k: Int): Long =
    TwinLog.compact(spark, logDir(outDir), Seq("source"))(
      graft.plans.TopKPerKey.topK(_, Seq("source"), Seq(("h", true)), k))
}
