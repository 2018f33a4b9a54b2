package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming CCNet quality bucketing — q272's recipe at its REAL
  * deployment shape (the 23rd stream==batch twin): CCNet scores
  * arriving CommonCrawl documents against a FIXED reference LM
  * (Wenzek et al. 2020 train on Wikipedia, not on the stream), so the
  * model here is a FROZEN [[LmStream]] log pair — trained once, then
  * only read — and each arriving micro-batch is scored
  * ([[LmStream.score]]'s float-free milli-bits) and appended to a
  * per-document score log. Bucket boundaries are a READ-time fold:
  * terciles must see the whole scored population, so [[buckets]]
  * recomputes them over the merged log's (lang, milli_bits) HISTOGRAM
  * (support-bounded, the q272 shape) — per-batch work never touches
  * the boundary computation, and no batch ever rescans earlier text.
  *
  * Idempotence is [[TwinLog]]'s RESULT-log protocol, as in
  * [[LongestMatchStream]]: with
  * the model frozen, an epoch's score rows are a deterministic
  * function of (batchId, its rows), so an at-least-once replay
  * appends byte-identical rows that the read-time per-epoch distinct
  * collapses. Doc ids must be UNIQUE across the stream, and the LM
  * logs must not be appended to while scoring runs (the
  * [[CurateStream.SemanticGate]] maintenance-window rule — a model
  * move between a crashed epoch and its replay would re-score that
  * epoch differently and defeat the collapse).
  *
  * Docs with fewer than 2 tokens have no bigrams and drop (q262's
  * rule, enforced by the score join).
  */
object CcnetStream {

  /** Score one batch against the frozen LM at `lmDir` and append
    * (doc_id, lang, n_chars, mbits) under the epoch tag — exposed for
    * crash/replay testing. `batch` carries (doc_id, text, lang,
    * n_chars). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      lmDir: String, outDir: String): Unit = {
    TwinLog.append(
      LmStream.score(spark, lmDir, batch.select("doc_id", "text"))
        .select(col("doc_id"), col("milli_bits_per_bigram").as("mbits"))
        .join(batch.select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("mbits")),
      outDir, batchId)
  }

  /** Start the maintainer: per arriving micro-batch, score against the
    * frozen LM and append to the score log. */
  def start(docs: DataFrame, lmDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    TwinLog.foreachEpoch(docs, checkpointDir, trigger) { (b, id) =>
      applyBatch(b.sparkSession, b, id, lmDir, outDir)
    }

  /** Everything scored so far — replayed epochs collapse
    * ([[TwinLog.results]]); empty before the first commit. */
  def scores(spark: SparkSession, outDir: String): DataFrame =
    TwinLog.results(spark, outDir, StructType.fromDDL(
      "doc_id BIGINT, lang STRING, n_chars BIGINT, mbits BIGINT"))

  /** Derived histogram-support bound, ENFORCED (not asserted) by
    * [[boundariesOf]]: a per-bigram surprise is a BIGINT bitlength
    * minus 1, so 0 <= bits <= 62, and the per-document mean in
    * milli-bits lies in [0, 62000] — at most 62001 distinct
    * (lang, mbits) cells per language can exist, which is what makes
    * the boundary window safe at any corpus size. A cell outside the
    * range means the support derivation no longer holds (a caller fed
    * a different score scale), and the fold fails FAST in both
    * engines rather than silently running a window whose partition
    * width is no longer bounded. */
  val MaxMilliBits = 62000L

  /** Both engines' spelling of the support guard over a histogram
    * cell's `mbits` — the oracle SQL interpolates [[guardDuckSql]] so
    * the two statements cannot drift. */
  def guardDuckSql(mbits: String): String =
    s"""CASE WHEN ($mbits) < 0 OR ($mbits) > $MaxMilliBits
        THEN CAST(error('ccnet_buckets: milli-bits cell outside the' ||
          ' [0, $MaxMilliBits] derived histogram-support bound') AS BIGINT)
        ELSE ($mbits) END"""

  /** The tercile BOUNDARY fold alone: per language, b1/b2 from a
    * cumulative window over the support-bounded (lang, mbits)
    * histogram, ceil spelled (n + 2) div 3, boundary ties to the
    * lower bucket. The support bound is enforced on every histogram
    * CELL (cheap — the guard runs on the aggregated frame, never the
    * corpus): see [[MaxMilliBits]]. */
  def boundariesOf(perDoc: DataFrame): DataFrame = {
    val hist = perDoc.groupBy(col("lang"), col("mbits"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("lang"),
        when(col("mbits") < 0 || col("mbits") > MaxMilliBits,
          raise_error(concat(
            lit("ccnet_buckets: milli-bits cell "), col("mbits"),
            lit(s" outside the [0, $MaxMilliBits] derived " +
              "histogram-support bound"))).cast("bigint"))
          .otherwise(col("mbits")).as("mbits"),
        col("cnt"))
    val n = perDoc.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("lang")).orderBy(col("mbits"))))
      .join(broadcast(n), Seq("lang"))
    cum.groupBy(col("lang")).agg(
      min(when(col("cum") >= expr("(n + 2) div 3"), col("mbits"))).as("b1"),
      min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("mbits")))
        .as("b2"))
  }

  /** Per-document bucket assignment against a given boundary table —
    * the ONE statement of the tie-to-lower arithmetic (score <= b1 is
    * head), shared by the aggregate fold and per-doc consumers (the
    * q275 admission matrix). Keeps every perDoc column and adds
    * `bucket`, `b1`, `b2`. */
  def bucketed(perDoc: DataFrame, bounds: DataFrame): DataFrame =
    perDoc.join(broadcast(bounds), Seq("lang"))
      .withColumn("bucket",
        when(col("mbits") <= col("b1"), "head")
          .when(col("mbits") <= col("b2"), "middle")
          .otherwise("tail"))

  /** [[bucketed]] with boundaries folded from the same population. */
  def bucketedOf(perDoc: DataFrame): DataFrame =
    bucketed(perDoc, boundariesOf(perDoc))

  private def withBounds(perDoc: DataFrame, bounds: DataFrame): DataFrame =
    bucketed(perDoc, bounds)
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("mbits")).as("sum_milli_bits"),
        min(col("b1")).as("b1"), min(col("b2")).as("b2"))

  /** q272's per-language tercile bucketing over ANY
    * (lang, n_chars, mbits) frame — shared by [[buckets]] and the
    * batch twin so both state one fold: [[boundariesOf]]'s histogram
    * window, then the broadcast boundary join. */
  def bucketsOf(perDoc: DataFrame): DataFrame =
    withBounds(perDoc, boundariesOf(perDoc))

  // ------------------------------------------------------------------
  // Boundary memo: a read-heavy consumer (dashboards, repeated keep-
  // fraction lookups) must not re-run the histogram fold per call when
  // nothing new has committed. Keyed on the score log's FILE LISTING
  // (names + lengths) rather than the max batch id — strictly stronger:
  // a replay that completes a partially-written epoch changes the
  // listing but not the max id, and stale boundaries over the partial
  // row set would otherwise survive. One directory listing per read
  // (already paid by the exists() check); the cached value is the
  // languages-cardinality boundary table, driver-bounded by design.
  // One entry per out dir — the map is bounded by the number of
  // distinct score logs the process reads, a deployment constant.
  // ------------------------------------------------------------------
  private val boundsSchema = StructType.fromDDL(
    "lang STRING, b1 BIGINT, b2 BIGINT")
  private val boundsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Row])]()
  private val memoHits = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def boundsMemoHits: Long = memoHits.get()
  private[graft] def clearBoundsMemo(): Unit = boundsMemo.clear()

  // the key is the FULL sorted (name, length) listing string compared
  // by EQUALITY — a 32-bit hash of it could collide between two
  // different listings and silently serve stale boundaries, the exact
  // staleness class the memo exists to rule out. The string is one
  // bounded log listing per out dir (file count x ~60 chars), cheaper
  // than a wrong tercile.
  private def listingKey(spark: SparkSession, outDir: String): Option[String] = {
    val p = new Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).map(s => s"${s.getPath.getName}:${s.getLen}")
      .sorted.mkString("\n"))
  }

  /** The standing head/middle/tail table over everything scored so
    * far. Terciles are a whole-population statistic, so the boundary
    * fold cannot be incremental — but it CAN be memoized: the
    * boundary table is recomputed only when the log's listing moved
    * (new batch, or a replay's catch-up files), and otherwise replays
    * from the memo as a broadcast local relation. The per-document
    * bucket join always runs against the CURRENT log either way. */
  def buckets(spark: SparkSession, outDir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val perDoc = scores(spark, outDir)
    listingKey(spark, outDir) match {
      case None => withBounds(perDoc, boundariesOf(perDoc))
      case Some(key) =>
        val rows = Option(boundsMemo.get(outDir)) match {
          case Some((k, cached)) if k == key =>
            memoHits.incrementAndGet()
            cached
          case _ =>
            val computed = boundariesOf(perDoc).collect().toSeq
            boundsMemo.put(outDir, (key, computed))
            computed
        }
        withBounds(perDoc, spark.createDataFrame(rows.asJava, boundsSchema))
    }
  }
}
