package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Dsir, DsirIndex}

/** Streaming mixture monitor under a FROZEN importance model — the
  * 26th stream==batch twin: the per-source admitted-mass table
  * (q276/q280's deliverable) maintained as batches land, the number a
  * data-ops dashboard actually watches while an ingest runs ("how
  * much of each source is the resampler admitting, and what epoch
  * weight does that imply?").
  *
  * Division of labor: the DSIR model is a standing [[DsirIndex]]
  * catalog table, trained per corpus generation and FROZEN (the q280
  * deployment form — with a frozen model, every document's keep
  * decision is a pure function of its text and id, so one-shot and
  * multi-epoch ingest agree and the merge law holds). Each
  * micro-batch scores itself against the table
  * ([[DsirIndex.scoreFromModel]] — one feature explode, a broadcast
  * weight join), applies [[Dsir.resampleKeep]], and appends ONE
  * additive per-source summary row set: (n_docs, n_kept, kept_chars)
  * deltas on [[TwinLog]]'s additive protocol (replay collapse, covers-
  * tagged snapshot compaction). The non-additive columns — share_bp
  * and epoch_weight_bp — derive at READ time from the merged counts
  * through [[Dsir.mixtureWeights]], the SAME statement q276/q280
  * compute with, so the monitor sits under their DuckDB oracles
  * transitively and can never drift from the batch mixture.
  *
  * SCALE SHAPE: per-batch work is the batch's own scoring pass plus a
  * source-bounded aggregation; log growth is sources x batches rows
  * of longs; the read folds the live slice and broadcasts one
  * aggregate row — nothing rescans document history. */
object MixtureStream {

  /** The admission log: [[summary]]'s rows, summed per source. */
  private val Log = TwinLog.Additive("_mix",
    "source STRING, n_docs BIGINT, n_kept BIGINT, kept_chars BIGINT",
    Seq("n_docs", "n_kept", "kept_chars"))

  def logDir(outDir: String): String = Log.dir(outDir)

  /** The batch-local per-source summary against the frozen model —
    * also the read-side merge target. */
  private[streaming] def summary(model: DataFrame)(
      docs: DataFrame): DataFrame = {
    val kept = Dsir.resampleKeep(
      DsirIndex.scoreFromModel(docs, "doc_id", "text", model), "doc_id")
      .select(col("doc_id"), col("keep"))
      .join(docs.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("doc_id"))
    kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("keep"), col("n_chars"))), lit(0L))
          .as("kept_chars"))
  }

  /** Start the maintainer. `modelTable` must hold a trained
    * [[DsirIndex]] model (the frozen generation this monitor reports
    * against; retraining starts a new monitor, the SemDedupStream
    * generation rule). */
  def start(docs: DataFrame, modelTable: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    Seq("doc_id", "text", "source", "n_chars").foreach(c =>
      require(docs.columns.contains(c),
        s"MixtureStream needs a '$c' column; stream has " +
          docs.columns.mkString("[", ", ", "]")))
    TwinLog.start(docs, checkpointDir, trigger, outDir)((
      b => {
        val spark = b.sparkSession
        require(spark.catalog.tableExists(modelTable),
          s"model table $modelTable must be trained (DsirIndex.model) " +
            "before the monitor starts")
        summary(spark.table(modelTable))(b)
      },
      Log))
  }

  /** The raw admission table — merged per-source counts (including
    * total docs seen), the ops view behind [[mixture]]. Empty
    * (correct schema) before the first commit. */
  def admission(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.merged(spark, outDir, Log)

  /** The current mixture table — q280's exact output shape over
    * everything that has arrived: merged counts through
    * [[Dsir.mixtureWeights]]. A source whose documents are all
    * resampled away carries no weight row (kept_chars = 0 — nothing
    * to schedule), exactly the batch queries' inner-join semantics. */
  def mixture(spark: SparkSession, outDir: String): DataFrame =
    Dsir.mixtureWeights(
      admission(spark, outDir).filter(col("kept_chars") > 0)
        .select(col("source"), col("n_kept"), col("kept_chars")))

  /** Fold the committed prefix into one snapshot (the TwinLog
    * additive compaction contract); returns files collected. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compactAdditive(spark, outDir, Log)
}
