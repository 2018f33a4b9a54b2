package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.C4Rules

/** Streaming C4 span-dedup index — q284's keep-one three-sentence-span
  * dedup maintained over an UNBOUNDED ingest (the 27th stream==batch
  * twin): every arriving batch is segmented and span-hashed ONCE, and
  * the deduplicated corpus after any prefix equals batch
  * [[C4Rules.spanDedup]] over everything that has arrived.
  *
  * Two logs, both append-only parquet:
  *   - the PAGE log (doc_id, kept sentence array) — the structural
  *     survivors, appended once per document;
  *   - the SPAN log (doc_id, spos, sh, __hv) — each page's three-
  *     sentence span occurrences as 64-bit hashes (xxhash64 over the
  *     sentence-pmd5 triple, [[C4Rules.spansOf]]), stamped with the
  *     hash-scheme version [[C4Rules.SpanHashVersion]]. The expensive
  *     pass (segmentation + span hashing) happens once per document,
  *     EVER; reads fold hashes and never re-hash history — UNLESS the
  *     standing log carries rows from an older hash scheme (a log
  *     written before the stamp existed, or across a scheme bump), in
  *     which case mixing old and new hashes would let cross-boundary
  *     duplicates silently survive, so [[spanLog]] falls back to
  *     re-deriving spans from the page log (always correct: pages
  *     carry content, not hashes) and [[compactLogs]] migrates the
  *     span log to the current scheme.
  * Both are SET-FACT logs (the [[DedupIndexStream]] family, not
  * [[TwinLog.merged]] counts): every row is a deterministic function of
  * its document alone, so the merge law holds trivially (multi-epoch
  * union == single-epoch union), an at-least-once replay re-appends
  * identical rows the reader's distinct absorbs, and an empty batch
  * appends nothing.
  *
  * WHY read-time resolution is the exact form: the winner of a span
  * hash is min (doc_id, spos) over ALL occurrences so far — a later
  * arrival with a smaller doc_id RETROACTIVELY demotes the standing
  * winner (its sentences become removed). Removal is monotone (a
  * min only ever decreases; a demoted occurrence can never win
  * again), so an incremental drop-fact log in the
  * [[SemDedupStream]] style would also be sound — but the fold here
  * is one hash-keyed aggregation over the span log (no text), so the
  * read-time form is both exact and already index-grain cheap; the
  * monotonicity note records the scale-out path if span cardinality
  * ever dwarfs the read budget.
  *
  * SCALE SHAPE: per-batch work is the batch's own scan-stage
  * segmentation plus two appends; the read folds (a) the span log
  * through the SAME groupBy-min resolution statement the batch
  * operator runs ([[C4Rules.rebuiltTextFrom]] — hashes travel, never
  * span text) and (b) reassembles only documents that actually lost
  * a span (the untouched-bypass shape). Compaction rewrites both
  * logs to distinct rows ([[TwinLog.compact]]). */
object SpanDedupStream {

  def pageDir(outDir: String): String = outDir + "_c4pages"
  def spanDir(outDir: String): String = outDir + "_c4spans"

  private def pageSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("kept", ArrayType(StringType))))
  private def spanSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("spos", LongType),
    StructField("sh", LongType)))

  /** Start the maintainer: per micro-batch, segment the batch's
    * documents (C4 line + page rules), append the surviving pages and
    * their span hashes. `docs` needs (doc_id, text). */
  def start(docs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    Seq("doc_id", "text").foreach(c =>
      require(docs.columns.contains(c),
        s"SpanDedupStream needs a '$c' column; stream has " +
          docs.columns.mkString("[", ", ", "]")))
    TwinLog.foreachEpoch(docs, checkpointDir, trigger) { (batch, batchId) =>
      // persisted: the page frame feeds both appends; freed before the
      // batch returns (per-batch grain, never session-lifetime)
      val pg = C4Rules.pageRows(batch, "doc_id", "text").persist()
      try {
        TwinLog.append(pg, pageDir(outDir), batchId)
        TwinLog.append(C4Rules.spansOf(pg, "doc_id")
          .withColumn("__hv", lit(C4Rules.SpanHashVersion)),
          spanDir(outDir), batchId)
      } finally { pg.unpersist(); () }
    }
  }

  /** The standing page log, replay-collapsed. Empty (correct schema)
    * before the first commit. */
  def pages(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.read(spark, pageDir(outDir), pageSchema)

  /** True iff every standing span-log row was hashed under the
    * CURRENT scheme ([[C4Rules.SpanHashVersion]]). A log from before
    * the stamp existed has no `__hv` column at all; a log appended to
    * across a scheme bump mixes versions (a read that declares `__hv`,
    * or whose inferred schema came from a stamped file, surfaces
    * pre-stamp rows as NULL `__hv`) — both must not be folded as-is.
    * The check prunes to the one stamp column and stops at the first
    * foreign row, never reading the hashes themselves. */
  private def spanLogCurrent(raw: DataFrame): Boolean =
    raw.columns.contains("__hv") && raw.filter(coalesce(col("__hv"),
      lit(0L)) =!= lit(C4Rules.SpanHashVersion)).isEmpty

  /** The standing span log, replay-collapsed. When the log is not
    * entirely at the current hash scheme, spans are re-derived from
    * the PAGE log instead (content, not hashes — so the fold is
    * correct by construction; the page log is a superset of the span
    * log's documents because pages append first). One-time cost until
    * [[compactLogs]] migrates the log. */
  def spanLog(spark: SparkSession, outDir: String): DataFrame =
    if (spanLogCurrent(TwinLog.read(spark, spanDir(outDir),
        spanSchema.add("__hv", LongType))))
      TwinLog.read(spark, spanDir(outDir), spanSchema)
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"span log at ${spanDir(outDir)} predates hash scheme " +
          s"v${C4Rules.SpanHashVersion}; deriving spans from the page " +
          "log for this read - run compactLogs to migrate")
      C4Rules.spansOf(pages(spark, outDir), "doc_id")
    }

  /** The deduplicated corpus over everything that has arrived:
    * (doc_id, text) — the SAME resolution + reassembly statement as
    * batch [[C4Rules.spanDedup]], fed from the standing logs. Equals
    * the batch operator over the union of all batches, after every
    * prefix (SpanDedupStreamSpec pins it, including a retroactive
    * winner theft).
    *
    * @note persists the page fold (it feeds the untouched bypass and
    *       the reassembly); call `spark.catalog.clearCache()` after
    *       the terminal action — the Dedup cache contract. */
  def dedupedCorpus(spark: SparkSession, outDir: String): DataFrame = {
    val pg = pages(spark, outDir).persist()
    C4Rules.rebuiltTextFrom(pg, spanLog(spark, outDir), "doc_id")
      .select(col("doc_id"), col("__txt").as("text"))
  }

  /** Rewrite both accreted logs back to one distinct generation each
    * (data first, delete after — a crash between the two leaves
    * duplicates the readers' distinct absorbs). A span log not
    * entirely at the current hash scheme is MIGRATED here: rebuilt
    * from the page log under [[C4Rules.SpanHashVersion]] (the one
    * sanctioned re-hash — compaction is already a full-log rewrite;
    * reads stay hash-only). Returns files collected. */
  def compactLogs(spark: SparkSession, outDir: String): Long =
    TwinLog.compact(spark, pageDir(outDir), Seq("doc_id"))() +
      TwinLog.compact(spark, spanDir(outDir), Seq("doc_id")) { log =>
        (if (spanLogCurrent(log)) log
          else C4Rules.spansOf(pages(spark, outDir), "doc_id"))
          .withColumn("__hv", lit(C4Rules.SpanHashVersion))
      }
}
