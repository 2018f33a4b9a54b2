package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Round-state materialization for iterative operators — the ONE place
  * in graft that cuts a frame's plan or lineage (RoundsLintSpec keeps
  * it that way). Every round loop needs the same four things: to
  * materialize the round's state, hide its plan so round r+1 does not
  * re-plan rounds 1..r, free the predecessor once the successor is in,
  * and read a size or convergence number off the state.
  *
  * [[next]] materializes a frame in ONE Spark job that also evaluates
  * the caller's aggregate columns (row count, checksums, max span) and
  * returns the plan-truncated frame with that stats row; the state the
  * previous [[next]] returned is then freed, so a loop holds at most
  * two rounds. [[keep]] materializes state every later round still
  * reads; [[close]] frees both kinds. Each round's plan is logged at
  * DEBUG. The [[Rounds.Cut]] is the caller's fault-tolerance choice and
  * changes no output. */
final class Rounds(spark: SparkSession, cut: Rounds.Cut) {
  import Rounds._

  cut match {
    case Reliable(dir) => spark.sparkContext.setCheckpointDir(dir)
    case _ => ()
  }

  private var freeCurrent: () => Unit = () => ()
  private val kept = scala.collection.mutable.Buffer.empty[() => Unit]

  def next(df: DataFrame, stats: Column*): Round = {
    val (round, free) = materialize(df, cut, stats)
    freeCurrent()
    freeCurrent = free
    round
  }

  def keep(df: DataFrame, stats: Column*): Round = {
    val (round, free) = materialize(df, cut, stats)
    kept += free
    round
  }

  def close(): Unit = {
    freeCurrent()
    freeCurrent = () => ()
    kept.foreach(_.apply())
    kept.clear()
  }
}

object Rounds {

  sealed trait Cut

  /** Dataset persist plus a `LogicalRDD` over the cached rows: plan
    * O(1) per round, lineage KEPT (a lost executor recomputes through
    * it) — for loops with a bounded round count. Without stats columns
    * nothing runs: the first action reading the round computes it,
    * and since lineage is kept, the predecessor is freed right away.
    * The cache is the session's, so `spark.catalog.clearCache()` frees
    * a state the caller was handed. */
  case object Persist extends Cut

  /** Eager `localCheckpoint`: plan AND lineage cut, so an unbounded
    * round count keeps plan, stage DAG and task-serialization depth
    * O(1); a lost executor fails the job instead of recomputing. */
  case object Local extends Cut

  /** Reliable checkpoint files under `dir`: cut and recoverable, for a
    * write per round. A freed round deletes its files, so `dir` holds
    * at most two rounds. */
  final case class Reliable(dir: String) extends Cut

  /** The plan-truncated frame and its stats row (empty without stats
    * columns). */
  final case class Round(frame: DataFrame, stats: Row)

  /** An operator's RESULT, materialized with the [[Local]] cut so the
    * loop state it reads can be freed; its blocks go to the
    * ContextCleaner with the returned frame. */
  def result(df: DataFrame): DataFrame = materialize(df, Local, Nil)._1.frame

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def materialize(df: DataFrame, cut: Cut,
      stats: Seq[Column]): (Round, () => Unit) = {
    if (log.isDebugEnabled)
      log.debug("round plan:\n" + df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    def statsOf(frame: DataFrame): Row =
      if (stats.isEmpty) Row.empty
      else frame.agg(stats.head, stats.tail: _*).head()
    // the rows Dataset.checkpoint would mark
    def rows = df.queryExecution.toRdd.map(_.copy())
    cut match {
      case Persist =>
        val handle = df.persist()
        val frame = df.sparkSession.createDataFrame(handle.rdd, handle.schema)
        (Round(frame, statsOf(frame)), () => { handle.unpersist(); () })
      case Local =>
        // the stats job computes (so caches) every partition, which
        // leaves the checkpoint nothing to run: one job, not two
        val marked = rows.localCheckpoint()
        val frame = GraftSqlBridge.ofCheckpointRows(df, marked, originStats = true)
        val row = statsOf(frame)
        GraftSqlBridge.doCheckpoint(marked)
        (Round(frame, row), () => { marked.unpersist(blocking = false); () })
      case Reliable(_) =>
        // cached across the stats job and the file write, so the write
        // reads blocks instead of recomputing the round; planned like
        // the Persist frame, so going reliable changes only the I/O
        val marked = rows.persist(StorageLevel.MEMORY_AND_DISK)
        marked.checkpoint()
        val frame = GraftSqlBridge.ofCheckpointRows(df, marked, originStats = false)
        val row = statsOf(frame)
        GraftSqlBridge.doCheckpoint(marked)
        marked.unpersist(blocking = false)
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        (Round(frame, row), () => marked.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).delete(p, true)
          ()
        })
    }
  }
}
