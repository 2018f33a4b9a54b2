package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Bpe

/** Streaming token-budget monitor under a FROZEN BPE merge table —
  * the 28th stream==batch twin: q286's per-source token accounting
  * maintained as batches land, the number a training-run owner
  * watches while an ingest fills an epoch budget ("how many REAL
  * tokens has each source contributed, and at what tokens-per-word
  * rate").
  *
  * Division of labor (the [[MixtureStream]] convention): the merge
  * table is trained per corpus generation ([[Bpe.trainMerges]] +
  * [[Bpe.saveMerges]]) and FROZEN — under frozen merges a word's
  * tokenization is a pure function of the word, so one-shot and
  * multi-epoch ingest agree and the merge law holds. Each micro-batch
  * runs [[Bpe.tokenStats]] — the SAME statement q286 oracles — over
  * its own rows plus a per-source doc count, and appends additive
  * (n_docs, n_words, n_tokens) deltas on [[TwinLog]]'s additive protocol.
  * The non-additive tokens_per_word_bp derives at READ time from the
  * merged counts through q286's exact integer arithmetic.
  *
  * SCALE SHAPE: per-batch work is the batch's own vocab join plus a
  * source-bounded aggregation; the frozen merge list is driver-
  * bounded metadata (merge-round count, never corpus-scaled); log
  * growth is sources x batches rows of longs; the read folds the
  * live slice — document text is never revisited. */
object TokenBudgetStream {

  /** The budget log: [[summary]]'s rows, summed per source. */
  private val Log = TwinLog.Additive("_tokbudget",
    "source STRING, n_docs BIGINT, n_words BIGINT, n_tokens BIGINT",
    Seq("n_docs", "n_words", "n_tokens"))

  def logDir(outDir: String): String = Log.dir(outDir)

  /** The batch-local per-source summary under frozen merges — also
    * the read-side merge target. */
  private[streaming] def summary(merges: Seq[(String, String)])(
      docs: DataFrame): DataFrame =
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(Bpe.tokenStats(docs, "text", merges), Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))

  /** Start the maintainer. `mergesTable` must hold a trained merge
    * table ([[Bpe.saveMerges]] — the frozen generation this monitor
    * reports against; retraining starts a new monitor, the
    * SemDedupStream generation rule). */
  def start(docs: DataFrame, mergesTable: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    Seq("text", "source").foreach(c =>
      require(docs.columns.contains(c),
        s"TokenBudgetStream needs a '$c' column; stream has " +
          docs.columns.mkString("[", ", ", "]")))
    // the model is FROZEN for the monitor's lifetime (retraining
    // starts a new monitor), so it loads ONCE at wiring time — a
    // missing table fails here, not inside foreachBatch at epoch 0,
    // and no batch pays a catalog round-trip + driver collect for a
    // value that never changes
    val spark = docs.sparkSession
    require(spark.catalog.tableExists(mergesTable),
      s"merge table $mergesTable must be trained (Bpe.saveMerges) " +
        "before the monitor starts")
    val merges = Bpe.loadMerges(spark, mergesTable)
    TwinLog.start(docs, checkpointDir, trigger, outDir)(
      (summary(merges), Log))
  }

  /** The current budget table — merged per-source counts with q286's
    * derived tokens-per-word rate. Empty (correct schema) before the
    * first commit. */
  def budget(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.merged(spark, outDir, Log)
      // nullif: a source whose only documents carry NULL text counts
      // docs but prices no words — its rate is UNKNOWN (NULL), never a
      // DIVIDE_BY_ZERO that bricks the read (ANSI is on in Spark 4)
      .withColumn("tokens_per_word_bp",
        expr("n_tokens * 10000 div nullif(n_words, 0)"))

  /** Fold the committed prefix into one snapshot (the TwinLog
    * additive compaction contract); returns files collected. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compactAdditive(spark, outDir, Log)
}
