package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.GopherRules

/** Streaming twin of the rule-gate AUDITS — q273's structural rules,
  * q277's repetition rules AND q283's C4 line/page audit in one
  * monitor (the 24th stream==batch twin): a pipeline owner watching
  * WHICH rule is eating their corpus wants the per-source violation
  * table maintained as batches land, not recomputed from raw text per
  * look, and the deployed CurateStream gates (`ruleGate`,
  * `repetitionGate` AND `c4Gate`) all deserve the same live mirror.
  * Every statistic is an ADDITIVE per-source count (docs, sentences,
  * per-rule violations, all-rules passes for each rule family), so the
  * monitor rides [[TwinLog]]'s additive protocol verbatim: each micro-batch
  * appends its own source-bounded count deltas (the rule arithmetic is
  * [[GopherRules]] — the SAME statements q273/q277 and the CurateStream
  * gates run — the C4 half is [[graft.operators.C4Rules.audit]], the
  * SAME statement q283 oracles — so the monitor cannot drift from the
  * audits it mirrors), replays collapse under the log's full-row
  * distinct, and [[audit]] merges by addition then derives the three
  * non-additive columns (pass_bp, rep_pass_bp, c4_pass_bp) at read
  * time from the merged counts — never stored, so they are always
  * consistent with them.
  *
  * The stream's rows must carry `doc_id`, `source` and `text` —
  * `doc_id` unique per document because the repetition flags are a
  * (doc, n, gram)-keyed aggregation joined back per document (the
  * q277 shape); [[start]] validates all three up front so a
  * mis-wired stream fails at wiring time, not with an opaque analysis
  * error inside `foreachBatch` at epoch 0.
  *
  * SCALE SHAPE: per-batch work is one pure projection plus q277's
  * single gram explode (8-byte gram hashes travel, never gram text)
  * and a source-bounded aggregation — both audits' batch shapes on
  * the batch; log growth is sources x batches rows of longs; the read
  * is bounded by the live slice, never the document history. */
object QualityAuditStream {

  private val CountCols = Seq("n_docs", "v_wordcount", "v_meanlen",
    "v_stopword", "v_diversity", "n_pass",
    "v_top2", "v_top3", "v_top4", "v_dup3", "n_rep_pass",
    "c4_sent", "c4_short_sent", "c4_unterminated", "c4_few_sent",
    "c4_pages", "c4_kept_sent")

  /** The audit log: [[summary]]'s rows, every count summed per source. */
  private val Log = TwinLog.Additive("_qaudit",
    ("source STRING" +: CountCols.map(_ + " BIGINT")).mkString(", "),
    CountCols)

  def logDir(outDir: String): String = Log.dir(outDir)

  /** q273's, q277's AND q283's per-source counts over one frame — the
    * batch-local summary AND the read-side merge target. One structural
    * projection (Gopher rules + the C4 audit struct ride the same
    * select), one repetition flag pipeline, one source-keyed
    * aggregation. */
  private[streaming] def summary(docs: DataFrame): DataFrame = {
    val (nw, wchars, stopw, ndist) = GopherRules.metrics(col("text"))
    val flagged = docs.select(col("doc_id") +: col("source") +:
      graft.operators.C4Rules.audit(col("text")).as("__c4") +:
      GopherRules.rules(nw, wchars, stopw, ndist)
        .map { case (name, pred) => pred.as(name) }: _*)
    val rep = GopherRules.repetitionFlags(docs, "doc_id", "text")
    flagged.join(rep, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("r_wc"), 1L).otherwise(0L)).as("v_wordcount"),
        sum(when(!col("r_mwl"), 1L).otherwise(0L)).as("v_meanlen"),
        sum(when(!col("r_stop"), 1L).otherwise(0L)).as("v_stopword"),
        sum(when(!col("r_div"), 1L).otherwise(0L)).as("v_diversity"),
        sum(when(col("r_wc") && col("r_mwl") && col("r_stop") &&
          col("r_div"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(!col("r_top2"), 1L).otherwise(0L)).as("v_top2"),
        sum(when(!col("r_top3"), 1L).otherwise(0L)).as("v_top3"),
        sum(when(!col("r_top4"), 1L).otherwise(0L)).as("v_top4"),
        sum(when(!col("r_dup3"), 1L).otherwise(0L)).as("v_dup3"),
        sum(when(col("rep_pass"), 1L).otherwise(0L)).as("n_rep_pass"),
        sum(col("__c4.n_sent")).as("c4_sent"),
        sum(col("__c4.n_short")).as("c4_short_sent"),
        sum(when(col("__c4.unterminated"), 1L).otherwise(0L))
          .as("c4_unterminated"),
        sum(when(!col("__c4.page_pass"), 1L).otherwise(0L))
          .as("c4_few_sent"),
        sum(when(col("__c4.page_pass"), 1L).otherwise(0L)).as("c4_pages"),
        sum(when(col("__c4.page_pass"), col("__c4.n_kept")).otherwise(0L))
          .as("c4_kept_sent"))
  }

  /** Start the maintainer: per micro-batch, append the batch's
    * per-source count deltas under the epoch id. */
  def start(docs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    Seq("doc_id", "source", "text").foreach(c =>
      require(docs.columns.contains(c),
        s"QualityAuditStream needs a '$c' column; stream has " +
          docs.columns.mkString("[", ", ", "]")))
    TwinLog.start(docs, checkpointDir, trigger, outDir)(
      (summary(_), Log))
  }

  /** The current audit table — q273's and q277's exact output shapes
    * over everything that has arrived: merged counts plus the
    * read-derived pass rates. Empty (correct schema) before the first
    * commit. */
  def audit(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.merged(spark, outDir, Log)
      .withColumn("pass_bp", expr("n_pass * 10000 div n_docs"))
      .withColumn("rep_pass_bp", expr("n_rep_pass * 10000 div n_docs"))
      .withColumn("c4_pass_bp", expr("c4_pages * 10000 div n_docs"))

  /** Fold the committed prefix into one snapshot (the TwinLog
    * additive compaction contract); returns files collected. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compactAdditive(spark, outDir, Log)
}
