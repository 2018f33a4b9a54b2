package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

/** The append-only log protocol every log twin rides — the one main
  * source that knows the on-disk format. A twin's state is a parquet
  * directory; each micro-batch appends rows that are deterministic
  * functions of (epoch, the batch's rows), tagged `__batch` = the epoch
  * id, and the twin's answer is a read-time fold over the log. Three
  * row classes share the tag:
  *
  *  - FACTS (set facts, order-statistic summaries): a row exists or
  *    not, so an at-least-once replay's byte-identical rows collapse
  *    under [[read]]'s distinct. [[compact]] folds the log into one
  *    generation tagged `max(__batch) + 1` and lands it BEFORE deleting
  *    the files it replaces: a crash between the two leaves duplicates
  *    the distinct already absorbs, and a re-run converges;
  *  - RESULTS (final per-epoch values): [[results]] collapses only
  *    rows of the same epoch, so equal rows from two epochs stay two
  *    results;
  *  - ADDITIVE deltas (summaries that MERGE BY ADDITION — DriftStream's
  *    per-(week, cents) counts, CusumStream's cent sums, the LM and
  *    DSIR count models), each declared once as an [[Additive]] (its
  *    directory, row layout and sum columns): a stray duplicate
  *    double-counts, so these logs carry an explicit idempotence
  *    protocol:
  *     - raw delta rows are tagged `__batch` (`__covers` null): a
  *       replayed epoch appends byte-identical rows that [[merged]]'s
  *       full-row distinct collapses;
  *     - compaction never mutates in place: it appends a SNAPSHOT
  *       (summed rows tagged `__covers = C`, the largest batch it folds
  *       in) as ONE file and only then garbage-collects older files.
  *       One file is what makes the snapshot land atomically: a file
  *       committer renames task outputs one at a time, so a reader or a
  *       crash between two renames of a multi-file snapshot would see
  *       part of it and drop every delta it covers. Its size is bounded
  *       by the key support, not by the log's bytes. Readers take
  *       the max-covers snapshot plus raw deltas with `__batch > C` — a
  *       crash ANYWHERE in compaction (snapshot landed / delete
  *       half-done / compact re-run) changes nothing. Correctness never
  *       depends on the delete step;
  *     - the max observed raw batch N may be MID-COMMIT (part files
  *       still landing), so a fold covers only `max(N - 1, snapshot
  *       covers)` — epochs commit in order, so everything below the max
  *       observed is fully committed — and batch N's visible rows are
  *       CARRIED FORWARD verbatim. A snapshot-only log (no raw rows)
  *       folds to its own snapshot reach, never a sentinel arithmetic
  *       overflow.
  *
  * Reads never infer a schema and run no job to plan: every read
  * declares its columns, and the additive live slice's covers bound is
  * a scalar subquery evaluated with the read's own action. A log whose
  * first micro-batch has not committed (no directory, or only an
  * in-flight `_temporary`) reads as EMPTY with the caller's schema or
  * the declared layout, and compacting it is a 0-file no-op that
  * creates nothing. Compaction is the one read that infers: it runs
  * only once data files are listed, and it is an action anyway. A
  * fact-log compaction writes [[fileCount]] files for its input bytes
  * (its old files stay until the write finishes, so a partly landed
  * generation only adds duplicates).
  */
object TwinLog {

  private val Batch = "__batch"
  private val Covers = "__covers"

  /** Bytes of compacted output per file — the standard parquet target. */
  private val BytesPerFile = 128L << 20

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Files a compaction of `bytes` of log writes: one per 128 MB, at
    * least one. Known from the file listing — no count job. */
  private[streaming] def fileCount(bytes: Long): Int =
    math.max(1L, bytes / BytesPerFile).toInt

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def write(rows: DataFrame, dir: String,
      partitionBy: Seq[String]): Unit = {
    val w = rows.write.mode("append")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(dir)
  }

  /** Append one epoch's fact or result rows under the epoch's tag. */
  def append(rows: DataFrame, dir: String, batchId: Long,
      partitionBy: Seq[String] = Nil): Unit =
    write(rows.withColumn(Batch, lit(batchId)), dir, partitionBy)

  /** Run `step` on every micro-batch of `rows` with its epoch id. */
  def foreachEpoch(rows: DataFrame, checkpointDir: String,
      trigger: Trigger)(step: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) => step(b.toDF(), id) }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Start a twin whose epoch only appends FACT summaries: per
    * micro-batch, each (summarize, dir) pair appends `summarize(batch)`
    * to `dir` under the same epoch tag, in order — a crash between two
    * appends heals on the epoch replay. */
  def start(rows: DataFrame, checkpointDir: String, trigger: Trigger)(
      logs: (DataFrame => DataFrame, String)*): StreamingQuery =
    foreachEpoch(rows, checkpointDir, trigger) { (batch, batchId) =>
      logs.foreach { case (summarize, dir) =>
        append(summarize(batch), dir, batchId)
      }
    }

  /** Start a twin whose epoch appends ADDITIVE deltas: per micro-batch,
    * each (summarize, log) pair appends `summarize(batch)` to `log`
    * under `outDir`, tagged as a raw delta ([[merged]]). Every summary
    * is checked against its log's layout first, so an epoch whose
    * summary drifted from its declaration fails before it writes. */
  def start(rows: DataFrame, checkpointDir: String, trigger: Trigger,
      outDir: String)(
      logs: (DataFrame => DataFrame, Additive)*): StreamingQuery =
    foreachEpoch(rows, checkpointDir, trigger) { (batch, batchId) =>
      logs.map { case (summarize, log) => log -> log.check(summarize(batch)) }
        .foreach { case (log, rows) =>
          write(rows.withColumn(Batch, lit(batchId))
            .withColumn(Covers, lit(null).cast(LongType)), log.dir(outDir), Nil)
        }
    }

  /** `dir` read with `schema`, in its column order (a partition column
    * would come last) — never inferred from the files, so no job runs
    * to plan it, and a log whose first append is still in flight (only
    * `_temporary` exists) reads as EMPTY too. */
  private def scan(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    if (!exists(spark, dir)) empty(spark, schema)
    else spark.read.schema(schema).parquet(dir)
      .select(schema.fieldNames.toSeq.map(col): _*)

  /** A FACT log's `schema` columns, replay-collapsed. EMPTY with
    * `schema` before the first commit. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    scan(spark, dir, schema).distinct()

  /** A RESULT log read with exactly `schema`: rows collapse only within
    * their epoch. EMPTY with `schema` before the first commit. */
  def results(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    scan(spark, dir, schema.add(Batch, LongType)).distinct().drop(Batch)

  /** Fold a FACT log into one generation: `fold` of the log's own
    * columns (tag dropped, replays collapsed; no fold keeps the distinct
    * rows) tagged `max(__batch) + 1`, repartitioned by `keys` and laid
    * out by `partitionBy`, landed BEFORE the files it replaces are
    * deleted. Returns the number of files collected. */
  def compact(spark: SparkSession, dir: String, keys: Seq[String],
      partitionBy: Seq[String] = Nil)(
      fold: DataFrame => DataFrame = identity): Long =
    rewrite(spark, dir, keys, partitionBy, fileCount,
        spark.read.parquet(dir)) { log =>
      val gen = log.agg(max(col(Batch))).head() match {
        case r if r.isNullAt(0) => 1L // a log of empty files
        case r => r.getLong(0) + 1L
      }
      Some(fold(log.drop(Batch).distinct()).withColumn(Batch, lit(gen)))
    }

  /** The one rewrite: list the log's data files (recursively, so
    * partitioned logs work; `_`/`.`-prefixed entries such as an
    * in-flight append's `_temporary` are skipped, as Spark's reader
    * skips them), write `next(log)` as `files(input bytes)` files,
    * then delete the listed files. `log` is read only once data files
    * exist — which is what lets [[compact]] infer its schema — and
    * `next` returns None when nothing is safe to fold. */
  private def rewrite(spark: SparkSession, dir: String, keys: Seq[String],
      partitionBy: Seq[String], files: Long => Int, log: => DataFrame)(
      next: DataFrame => Option[DataFrame]): Long = {
    if (!exists(spark, dir)) return 0L
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = dataFiles(fs, root)
    if (before.isEmpty) return 0L
    next(log) match {
      case None => 0L
      case Some(rows) =>
        val n = files(before.map(_.getLen).sum)
        write(rows.repartition(n, keys.map(col): _*), dir, partitionBy)
        before.foreach(f => fs.delete(f.getPath, false))
        before.length.toLong
    }
  }

  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (s.isDirectory) dataFiles(fs, s.getPath)
      else if (name.endsWith(".parquet")) Seq(s)
      else Nil
    }

  /** An ADDITIVE log, declared once: the directory `suffix` under a
    * twin's `outDir`, the row `layout` as DDL (for example
    * `"w1 STRING, w2 STRING, c12 BIGINT"`) and the `sums` columns. The
    * keys are the layout's other columns, in layout order — every
    * summary is `groupBy(keys).agg(sums)`. [[start]] checks each
    * epoch's summary against the layout, [[merged]] reads with it and
    * [[compactAdditive]] folds by it. */
  final case class Additive(suffix: String, layout: String, sums: Seq[String]) {
    val schema: StructType = StructType.fromDDL(layout)
    require(sums.nonEmpty && sums.forall(schema.fieldNames.contains),
      s"sum columns ${sums.mkString("[", ", ", "]")} of log $suffix " +
        s"must be columns of its layout $layout")
    val keys: Seq[String] = schema.fieldNames.toSeq.filterNot(sums.contains)

    def dir(outDir: String): String = outDir + suffix

    /** The layout plus both tags — what the log holds on disk. */
    private[TwinLog] def tagged: StructType =
      schema.add(Batch, LongType).add(Covers, LongType)

    /** `rows`, if their column names and types are the layout's
      * (nullability aside); otherwise fails naming both schemas. */
    private[TwinLog] def check(rows: DataFrame): DataFrame = {
      def shape(s: StructType) = s.map(f => f.name -> f.dataType)
      require(shape(rows.schema) == shape(schema),
        s"summary for log $suffix has columns ${rows.schema.toDDL}; " +
          s"its layout is $layout")
      rows
    }

    /** `groupBy(keys).agg(sum(c) as c for c in sums)`. */
    private[TwinLog] def fold(rows: DataFrame): DataFrame = {
      val aggs = sums.map(c => sum(col(c)).as(c))
      rows.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** The live slice of an ADDITIVE log — max-covers snapshot (if any)
    * plus raw deltas past it — collapsed against replays. The covers
    * bound is a scalar subquery (-1 with no snapshot), so building the
    * slice runs no job. */
  private def live(log: DataFrame): DataFrame = {
    val distinctLog = log.distinct()
    val covers = coalesce(distinctLog.agg(max(col(Covers))).scalar(), lit(-1L))
    distinctLog.filter(
      (col(Covers).isNotNull && col(Covers) === covers)
        || (col(Covers).isNull && col(Batch) > covers))
  }

  /** The exact merged ADDITIVE summary after any stream prefix: the
    * live slice of `log` under `outDir`, summed per key — (keys, sums).
    * Reads the log only — bounded by batches x key support, never the
    * event history. An uncommitted log reads as EMPTY. */
  def merged(spark: SparkSession, outDir: String, log: Additive): DataFrame =
    log.fold(live(scan(spark, log.dir(outDir), log.tagged)))

  /** Fold the fully-committed prefix of each `logs` live slice under
    * `outDir` into a one-file snapshot, then garbage-collect the
    * superseded files. Returns the number of files collected (0 for a
    * log with nothing safe to fold). Safe concurrently with a running
    * stream and with crashed prior compactions — see the object doc. */
  def compactAdditive(spark: SparkSession, outDir: String,
      logs: Additive*): Long =
    logs.map { log =>
      val dir = log.dir(outDir)
      rewrite(spark, dir, log.keys, Nil, _ => 1,
          scan(spark, dir, log.tagged)) { raw =>
        val slice = live(raw)
        val bounds = slice.agg(max(col(Covers)),
          max(when(col(Covers).isNull, col(Batch)))).head()
        val snapC = if (bounds.isNullAt(0)) -1L else bounds.getLong(0)
        // no raw rows (e.g. a freshly-compacted log holds only the
        // snapshot): the snapshot's reach IS the fold bound — subtracting
        // from a sentinel would wrap and poison __covers forever
        val covers =
          if (bounds.isNullAt(1)) snapC
          else math.max(snapC, bounds.getLong(1) - 1L)
        if (covers < 0) None // nothing provably fully committed yet
        else {
          val fold = log.fold(
              slice.filter(col(Covers).isNotNull || col(Batch) <= covers))
            .withColumn(Batch, lit(covers))
            .withColumn(Covers, lit(covers))
          val carry = slice.filter(col(Covers).isNull && col(Batch) > covers)
          Some(fold.unionByName(carry))
        }
      }
    }.sum
}
