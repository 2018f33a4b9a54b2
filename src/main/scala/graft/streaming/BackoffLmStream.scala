package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming twin of q269's trigram stupid-backoff LM: the three count
  * tables the model needs are all additive, so THREE [[TwinLog]] additive logs
  * carry per-batch deltas — trigram counts, bigram counts, token
  * counts — and every context denominator DERIVES at read time from
  * the log one order up's own numerator log (c12t = trigram log summed
  * over w3; c2 = bigram log summed over the second word; N = token log
  * summed), the LmStream no-second-log-to-drift rule applied three
  * times.
  *
  * All three logs are appended by the SAME foreachBatch epoch under
  * the SAME batch id, so an at-least-once replay rewrites
  * byte-identical rows into each (the protocol's full-row distinct
  * collapses them) and a crash between ANY pair of the three appends
  * heals on the epoch replay — the LmStream argument, now with two
  * crash windows instead of one.
  *
  * [[score]] is q269's float-free arithmetic verbatim (alpha = 1/4, a
  * power of two, so each backoff level adds exactly 2 bits): scoring
  * an ARRIVING batch backs off through whatever the model-so-far has
  * — trigram hit, bigram, unigram, out-of-vocabulary — which is
  * exactly the novelty signature a streaming ingest gate wants per
  * batch. BackoffLmStreamSpec proves stream == the from-first-
  * principles batch reference over every prefix, all four levels
  * exercised.
  */
object BackoffLmStream {

  private val TrigramLog = TwinLog.Additive("_bk3",
    "w1 STRING, w2 STRING, w3 STRING, c123 BIGINT", Seq("c123"))
  private val BigramLog = TwinLog.Additive("_bk2",
    "w1 STRING, w2 STRING, c12 BIGINT", Seq("c12"))
  private val TokenLog =
    TwinLog.Additive("_bk1", "tok STRING, cnt BIGINT", Seq("cnt"))

  def trigramDir(outDir: String): String = TrigramLog.dir(outDir)
  def bigramDir(outDir: String): String = BigramLog.dir(outDir)
  def tokenDir(outDir: String): String = TokenLog.dir(outDir)

  private def grams(docs: DataFrame, n: Int): DataFrame = docs
    .select(split(col("text"), " ").as("ts"))
    .select(explode(when(size(col("ts")) >= n,
      transform(sequence(lit(1), size(col("ts")) - (n - 1)),
        i => struct((1 to n).map(j =>
          element_at(col("ts"), i + (j - 1)).as(s"w$j")): _*)))
      .otherwise(array().cast(
        s"array<struct<${(1 to n).map(j => s"w$j:string").mkString(",")}>>")))
      .as("g"))
    .select((1 to n).map(j => col(s"g.w$j").as(s"w$j")): _*)

  private[streaming] def trigramSummary(docs: DataFrame): DataFrame =
    grams(docs, 3).groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))

  private[streaming] def bigramSummary(docs: DataFrame): DataFrame =
    grams(docs, 2).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))

  private[streaming] def tokenSummary(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))

  /** Start the maintainer: ONE epoch appends the batch's trigram,
    * bigram and token deltas to the three logs under one batch id. */
  def start(docs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.start(docs, checkpointDir, trigger, outDir)(
      (trigramSummary(_), TrigramLog),
      (bigramSummary(_), BigramLog),
      (tokenSummary(_), TokenLog))

  def trigramCounts(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.merged(spark, outDir, TrigramLog)
  def bigramCounts(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.merged(spark, outDir, BigramLog)
  def tokenCounts(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.merged(spark, outDir, TokenLog)

  /** Score `docs` (doc_id, text) against the standing model — q269's
    * output shape (doc_id, n_trigrams, surprise_bits, n_tri, n_bi,
    * n_uni, n_oov). Docs with fewer than 3 tokens have no trigrams
    * and drop, as in q269. */
  def score(spark: SparkSession, outDir: String, docs: DataFrame): DataFrame = {
    val c123 = trigramCounts(spark, outDir)
    val c12t = c123.groupBy("w1", "w2").agg(sum(col("c123")).as("c12t"))
    val cbg = bigramCounts(spark, outDir)
    val c23 = cbg.select(col("w1").as("w2"), col("w2").as("w3"),
      col("c12").as("c23"))
    val c2 = cbg.groupBy(col("w1").as("w2")).agg(sum(col("c12")).as("c2"))
    val ctok = tokenCounts(spark, outDir)
    val c3 = ctok.select(col("tok").as("w3"), col("cnt").as("c3"))
    val nTok = ctok.agg(coalesce(sum(col("cnt")), lit(0L)).as("n"))
    val lvl = expr("""CASE
      WHEN c123 IS NOT NULL THEN 1
      WHEN c23 IS NOT NULL THEN 2
      WHEN c3 IS NOT NULL THEN 3
      ELSE 4 END""")
    // n = 0 (empty model) never reaches bin(): every level key misses,
    // and the OOV branch's bin(n) is guarded to bin(1) = 0 bits
    val bits = expr("""CAST(CASE
      WHEN c123 IS NOT NULL THEN length(bin(c12t div c123)) - 1
      WHEN c23 IS NOT NULL THEN length(bin(c2 div c23)) - 1 + 2
      WHEN c3 IS NOT NULL THEN length(bin(n div c3)) - 1 + 4
      ELSE length(bin(greatest(n, 1L))) - 1 + 6 END AS BIGINT)""")
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), explode(when(size(col("ts")) >= 3,
        transform(sequence(lit(1), size(col("ts")) - 2),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2"),
            element_at(col("ts"), i + 2).as("w3"))))
        .otherwise(array().cast(
          "array<struct<w1:string,w2:string,w3:string>>"))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(c12t, Seq("w1", "w2"), "left")
      .join(c23, Seq("w2", "w3"), "left")
      .join(c2, Seq("w2"), "left")
      .join(c3, Seq("w3"), "left")
      .crossJoin(broadcast(nTok)) // one-row frame
      .select(col("doc_id"), lvl.as("lvl"), bits.as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("bits")).as("surprise_bits"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_uni"),
        sum(when(col("lvl") === 4, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Fold all three logs' fully-committed prefixes into snapshots;
    * returns total files collected — [[TwinLog.compactAdditive]]. */
  def compactLog(spark: SparkSession, outDir: String): Long =
    TwinLog.compactAdditive(spark, outDir, TrigramLog, BigramLog, TokenLog)
}
