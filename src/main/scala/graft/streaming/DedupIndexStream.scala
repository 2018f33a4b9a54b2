package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup

/** Streaming near-dup candidate index — q28's MinHash-LSH family
  * streamed (17th twin): a persisted band-key index over an UNBOUNDED
  * document stream, the training-ingest shape where every arriving
  * batch must be deduplicated against EVERYTHING seen without ever
  * re-reading old text.
  *
  * Per micro-batch the stream shingles, minhashes and bands ONLY the
  * batch's documents — the expensive text pass happens ONCE per
  * document, ever — and appends the exploded (doc_id, band, key)
  * rows: nBands 8-byte-key rows per document, text never stored. The
  * candidate set is recovered at READ time by the same band
  * self-equi-join the batch operator runs, against INDEX rows, so the
  * stream result after any prefix equals batch `lshCandidates` over
  * every document seen — intra-batch and cross-batch pairs alike.
  *
  * Unlike the ADDITIVE logs ([[TwinLog.merged]]), band rows are SET
  * facts: priorities of the pair universe do not accumulate, they
  * exist or not — so a duplicate append (at-least-once replay, a
  * crashed attempt) is absorbed by the reader's distinct, the
  * [[SampleStream]] idempotence story. Compaction is
  * [[TwinLog.compact]]: the distinct rows land as a fresh generation
  * BEFORE the old files are deleted; a crash between the two leaves
  * duplicates the reader already tolerates.
  */
object DedupIndexStream {

  // q28's published family: 16 minhashes, 4 rows/band -> 4 band keys
  private val K = 16
  private val RPB = 4
  private val NB = K / RPB
  private val SHINGLE = 3

  /** Append-only band-key log for an index rooted at `outDir`. */
  def logDir(outDir: String): String = outDir + "_bandlog"

  /** The per-document index rows: (doc_id, band, key) — the exploded
    * band table batch `lshCandidates` self-joins. `docs` needs
    * (doc_id, text). */
  def bandRows(docs: DataFrame): DataFrame =
    Dedup.bandExplode(
      Dedup.bandKeys(
        Dedup.minhashSignature(docs.select(col("doc_id"), col("text")),
          "text", K, SHINGLE), K, RPB)
        .select((col("doc_id") +: (0 until NB).map(b => col(s"b$b"))): _*),
      "doc_id", "doc_id", NB)

  /** The index log's row layout: [[bandRows]]'s columns. */
  private val IndexLayout =
    StructType.fromDDL("doc_id BIGINT, band INT, key BIGINT")

  /** The standing index (doc_id, band, key), persisted — replay/crash
    * guard: duplicate appends collapse (band rows are deterministic
    * functions of (doc_id, text)). EMPTY before the first commit. */
  private def index(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.read(spark, logDir(outDir), IndexLayout).persist()

  /** Start the index maintainer: per micro-batch, band the batch's
    * documents and append their index rows tagged with the epoch. */
  def start(docs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(docs, checkpointDir, trigger)((bandRows(_), logDir(outDir)))

  /** Current candidate pairs: docs sharing at least one band key among
    * EVERYTHING indexed so far — (id_a, id_b), id_a < id_b, distinct.
    * Reads the index only (nBands rows per document, 8-byte keys);
    * text is never revisited. An index whose first micro-batch has
    * not committed reads as EMPTY.
    *
    * `maxBucket` is the read-time HOT-BUCKET CAP — the same bounded-
    * work valve as batch [[Dedup.lshCandidatesCapped]], which this
    * index needs MOST: the streaming index is the training-ingest
    * shape, where a template flood (one band key shared by ~all docs)
    * makes the self-join quadratic on one shuffle key (the measured
    * ARCHITECTURE.md saturation case spilled past 79 GB). With a cap,
    * every (band, key) bucket whose population exceeds it is excluded
    * BEFORE the join — per-bucket work bounded by maxBucket², members
    * still pairable through their other bands — and the number of
    * excluded buckets is reported via [[graft.operators.ObservedWarn]]
    * (logged by the consuming action — no silent caps, no eager job).
    * Default None = exact: stream result equals uncapped batch
    * `lshCandidates` over every document seen; with Some(c) it equals
    * capped-batch `lshCandidatesCapped(_, _, _, c)` over the same
    * corpus (the spec's template-flood fixture proves both).
    *
    * @note persists the distinct index projection (it feeds both join
    *       sides and, when capped, the population count); call
    *       `spark.catalog.clearCache()` after the terminal action —
    *       the Dedup cache contract. */
  def candidates(spark: SparkSession, outDir: String,
      maxBucket: Option[Int] = None): DataFrame = {
    val idx = index(spark, outDir)
    val joinSide = maxBucket match {
      case None => idx
      case Some(cap) =>
        require(cap > 0, s"maxBucket must be > 0, got $cap")
        val pops = idx.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("__pop"))
        val keep = graft.operators.ObservedWarn(
          pops, "dedup_index_hot_buckets",
          sum(when(col("__pop") > cap, 1L).otherwise(0L)),
          n => s"DedupIndexStream.candidates: $n hot (band, key) buckets " +
            s"(population > $cap) excluded from the candidate join — " +
            "members still pair through their other bands")
          .filter(col("__pop") <= cap)
          .select(col("band"), col("key"))
        idx.join(keep, Seq("band", "key"))
    }
    joinSide.as("l")
      .join(joinSide.as("r"), col("l.band") === col("r.band")
        && col("l.key") === col("r.key")
        && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
      .distinct()
  }

  /** Cross-table candidates against the standing index — the streaming
    * DECONTAMINATION shape: every (indexed training doc, eval doc)
    * pair sharing at least one band key, with the eval set banded
    * fresh (it is small and changes per release) and the training
    * corpus never re-read — its band rows are already in the index.
    * Equals batch [[Dedup.lshCandidatesAcross]] over (everything
    * indexed, evalDocs); the self-join's `id < id` dedup does not
    * apply, so ids are reported as (train_id, eval_id).
    *
    * `maxBucket` caps hot INDEX buckets exactly as [[candidates]]
    * does (population counted over the index side only — the eval
    * side is small by construction), with the excluded count
    * reported via [[graft.operators.ObservedWarn]]. An index whose
    * first micro-batch has not committed reads as EMPTY.
    *
    * @note persists the distinct index projection; call
    *       `spark.catalog.clearCache()` after the terminal action —
    *       the Dedup cache contract. */
  def candidatesAcross(spark: SparkSession, outDir: String,
      evalDocs: DataFrame, maxBucket: Option[Int] = None): DataFrame = {
    val idx = index(spark, outDir)
    val trainSide = maxBucket match {
      case None => idx
      case Some(cap) =>
        require(cap > 0, s"maxBucket must be > 0, got $cap")
        val keep = graft.operators.ObservedWarn(
          idx.groupBy(col("band"), col("key"))
            .agg(count(lit(1)).as("__pop")),
          "dedup_index_hot_buckets_across",
          sum(when(col("__pop") > cap, 1L).otherwise(0L)),
          n => s"DedupIndexStream.candidatesAcross: $n hot (band, key) " +
            s"index buckets (population > $cap) excluded from the " +
            "decontamination join")
          .filter(col("__pop") <= cap)
          .select(col("band"), col("key"))
        idx.join(keep, Seq("band", "key"))
    }
    trainSide.as("l")
      .join(bandRows(evalDocs).as("r"), col("l.band") === col("r.band")
        && col("l.key") === col("r.key"))
      .select(col("l.doc_id").as("train_id"), col("r.doc_id").as("eval_id"))
      .distinct()
  }

  /** Rewrite the accreted log back to one distinct generation
    * ([[TwinLog.compact]]). The index is CORPUS-sized (nBands rows per
    * document), so the rewrite is repartitioned by (band, key) into a
    * file count scaled to the pre-compaction bytes: compaction
    * parallelism grows with the corpus instead of serializing through
    * one task. Returns the number of files collected. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compact(spark, logDir(outDir), Seq("band", "key"))()
}
