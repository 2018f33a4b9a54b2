package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The run harness: the only place `src/main` builds a SparkSession,
  * and the one query loop that `Bench`, `Verify` and the two dev modes
  * below share. Every caller fails the same way: a query that throws is
  * printed to stderr with its exception, gets no time, and makes the
  * main exit 1 after it wrote everything else it writes.
  *
  * {{{
  * sbt "runMain graft.Harness profile <sfDir> [query ...]"
  * sbt "runMain graft.Harness explain <sfDir> [query ...]"
  * }}}
  *
  * `profile` times each query's warm second pass and prints its row
  * count plus the jobs, stages, tasks and shuffle MB it scheduled, and
  * the rows themselves when there are at most five;
  * `SPARK_GRAFT_EXTRA_CONF="k=v,k2=v2"` sets session confs first (A/B
  * aid, e.g. `graft.topk.rewrite.enabled=false`). `explain` prints each
  * query's formatted physical plan. No names means every query.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** One query that ran: the action's value and its wall seconds. */
  final case class Ran[A](name: String, value: A, seconds: Double)

  final case class Outcome[A](done: Seq[Ran[A]], failed: Seq[String]) {
    def seconds: Map[String, Double] = done.map(r => r.name -> r.seconds).toMap
  }

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The harness session. `aqe` is the one setting callers differ on:
    * Bench and profile time with AQE off, Verify and explain run with
    * it on. */
  def session(aqe: Boolean): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); read as long, see Tables.t
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native functions, the top-k strategy and the optimizer rules
      // activate through the extension point, as in a consuming app
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Every registered query, by name. */
  def registry: Seq[(String, Query)] = SparkEntry.queries.toSeq.sortBy(_._1)

  /** The named queries, in the order given, and the names that are not
    * registered (reported on stderr). */
  def resolve(names: Seq[String]): (Seq[(String, Query)], Seq[String]) = {
    val known = SparkEntry.queries
    val (found, unknown) = names.distinct.partition(known.contains)
    unknown.foreach(n => System.err.println(s"[harness] unknown query: $n"))
    (found.map(n => n -> known(n)), unknown)
  }

  /** Builds each query over `sfDir` and applies `act` to it, timing
    * both. Operators persist self-joined projections, so the cache is
    * cleared after every query, outside the timed span. */
  def run[A](spark: SparkSession, queries: Seq[(String, Query)], sfDir: String)(
      act: (String, DataFrame) => A): Outcome[A] = {
    val done = Seq.newBuilder[Ran[A]]
    val failed = Seq.newBuilder[String]
    queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val value = act(name, fn(spark, sfDir))
        done += Ran(name, value, (System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) =>
        System.err.println(s"[harness] $name FAILED: $e")
        failed += name
      } finally spark.catalog.clearCache()
    }
    Outcome(done.result(), failed.result())
  }

  /** Stops the session, then exits 1 if any query failed. */
  def finish(spark: SparkSession, failed: Seq[String]): Unit = {
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[harness] ${failed.size} failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case mode :: sfDir :: names if mode == "profile" || mode == "explain" =>
      val (queries, unknown) = if (names.isEmpty) (registry, Nil) else resolve(names)
      val spark = session(aqe = mode == "explain")
      val failed =
        if (mode == "profile") profile(spark, sfDir, queries)
        else run(spark, queries, sfDir) { (name, df) =>
          println(s"\n========== $name ==========")
          println(df.queryExecution.explainString(FormattedMode))
        }.failed
      finish(spark, unknown ++ failed)
    case _ =>
      System.err.println("usage: graft.Harness profile|explain <sfDir> [query ...]")
      sys.exit(2)
  }

  /** Two passes per query; the second (warm: codegen and file listing
    * cached) is reported, which is what Bench's min-of-3 measures. */
  private def profile(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)]): Seq[String] = {
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(",")
      .filter(_.contains("=")).foreach { kv =>
        val Array(ck, cv) = kv.split("=", 2)
        spark.conf.set(ck, cv)
      })
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shuffleBytes = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffleBytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    // the listener bus drains async: settle before resetting and again
    // before reading, or late events of the previous pass bleed in
    def pass(q: (String, Query)): Outcome[Long] = {
      Thread.sleep(400)
      jobs.set(0); stages.set(0); tasks.set(0); shuffleBytes.set(0L)
      run(spark, Seq(q), sfDir)((_, df) => df.count())
    }
    println(f"${"query"}%-38s ${"wall_s"}%7s ${"rows"}%9s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"shufMB"}%7s")
    queries.flatMap { q =>
      val cold = pass(q)
      val warm = if (cold.failed.isEmpty) pass(q) else cold
      warm.failed ++ warm.done.flatMap { case Ran(n, rows, dt) =>
        Thread.sleep(400)
        println(f"$n%-38s $dt%7.2f $rows%9d ${jobs.get}%5d ${stages.get}%7d ${tasks.get}%6d ${shuffleBytes.get / 1e6}%7.1f")
        if (rows > 5) Nil
        else {
          val shown = run(spark, Seq(q), sfDir)((_, df) => df.collect())
          shown.done.foreach(r => println(s"  ${r.value.mkString(" | ")}"))
          shown.failed
        }
      }
    }
  }
}
