package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

/** Streaming twin of q262's per-document LM surprise: a bigram
  * language model maintained INCREMENTALLY over an unbounded document
  * stream, scoring any frame of documents (arriving batches, eval
  * sets) at read time against the model-so-far.
  *
  * Everything the model needs is additive, so [[TwinLog]]'s additive
  * protocol fits exactly:
  *
  *  - bigram counts c12: per micro-batch, the batch's own (w1, w2)
  *    count deltas — bounded by the batch's bigram support;
  *  - unigram context counts c1: DERIVED at read time from the merged
  *    bigram log (c1 = sum of c12 over w2) — no second scan, no
  *    second log to drift out of step;
  *  - vocabulary size V: a (tok, cnt) count log whose MERGED ROW
  *    COUNT is the distinct-token count (counts add; the key set is
  *    the vocabulary), fed from ALL tokens (a 1-token document grows
  *    V though it has no bigrams — q262's V states the same).
  *
  * Both logs are appended by the SAME foreachBatch epoch, tagged with
  * the SAME batch id, so an at-least-once replay rewrites
  * byte-identical rows into both (the protocol's full-row distinct
  * collapses them) and a crash between the two appends is healed by
  * the epoch replay. A reader that lands between the two appends of a
  * LIVE epoch can see that epoch's bigrams without its tokens — the
  * same transient at-least-once visibility window every consumer of a
  * live additive log already tolerates; after the epoch commits the
  * logs agree forever.
  *
  * [[score]] is the batch arithmetic verbatim (floor(-log2 p) with
  * p = (c12+1)/(c1+V), computed float-free as
  * bitlength((c1+V) div (c12+1)) - 1), with the joins LEFT instead of
  * inner: a NEW batch can hold bigrams the model has never seen
  * (c12 = 0, even c1 = 0), and Laplace smoothing is exactly what
  * keeps the estimator proper there — scoring the training prefix
  * itself makes every join hit, which is how LmStreamSpec proves
  * stream == batch over every prefix. Documents with fewer than 2
  * tokens have no bigrams and drop, as in q262.
  */
object LmStream {

  private val BigramLog = TwinLog.Additive("_lmbg",
    "w1 STRING, w2 STRING, c12 BIGINT", Seq("c12"))
  private val TokenLog =
    TwinLog.Additive("_lmtok", "tok STRING, cnt BIGINT", Seq("cnt"))

  def bigramDir(outDir: String): String = BigramLog.dir(outDir)
  def tokenDir(outDir: String): String = TokenLog.dir(outDir)

  /** The batch-local bigram count summary — q262's explode stated
    * over one micro-batch. */
  private[streaming] def bigramSummary(docs: DataFrame): DataFrame =
    docs.select(split(col("text"), " ").as("ts"))
      .select(explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))

  /** The batch-local token count summary (V's carrier). */
  private[streaming] def tokenSummary(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))

  /** Start the maintainer: ONE epoch appends the batch's bigram and
    * token deltas to both logs under the same batch id. */
  def start(docs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(docs, checkpointDir, trigger, outDir)(
      (bigramSummary(_), BigramLog),
      (tokenSummary(_), TokenLog))

  /** The merged bigram model (w1, w2, c12) after any stream prefix. */
  def bigramCounts(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.merged(spark, outDir, BigramLog)

  /** The merged vocabulary (tok, cnt); its row count is V. */
  def tokenCounts(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.merged(spark, outDir, TokenLog)

  /** Score `docs` (doc_id, text) against the standing model: q262's
    * output shape (doc_id, n_bigrams, surprise_bits,
    * milli_bits_per_bigram), LEFT-joined so unseen bigrams take the
    * smoothed path instead of dropping. */
  def score(spark: SparkSession, outDir: String, docs: DataFrame): DataFrame = {
    val c12 = bigramCounts(spark, outDir)
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val v = tokenCounts(spark, outDir).agg(count(lit(1)).as("v"))
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v)) // one-row frame
      .select(col("doc_id"),
        (length(bin(expr(
          "(coalesce(c1, 0L) + v) div (coalesce(c12, 0L) + 1)"))) - 1)
          .cast(LongType).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("surprise_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("surprise_bits"),
        expr("1000 * surprise_bits div n_bigrams")
          .as("milli_bits_per_bigram"))
  }

  /** Fold both logs' fully-committed prefixes into snapshots; returns
    * total files collected. Safe with a running stream —
    * [[TwinLog.compactAdditive]]. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compactAdditive(spark, outDir, BigramLog, TokenLog)
}
