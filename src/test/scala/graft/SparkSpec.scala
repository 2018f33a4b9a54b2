package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM, with the
  * engine's extensions on as in `Harness.session`: plans under test are
  * the plans Verify and Bench run, whatever an earlier test installed. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** A new session on the shared context built without the engine's
    * extensions, as in an application that does not set
    * `spark.sql.extensions`: no native SQL function, optimizer rule or
    * planner strategy. (`spark.newSession()` would inherit them.) The
    * constructor that takes the extensions is private to Scala code, so
    * it is called by reflection. */
  protected def bareSession(): SparkSession = {
    val cls = classOf[org.apache.spark.sql.classic.SparkSession]
    cls.getConstructor(classOf[org.apache.spark.SparkContext], classOf[Option[_]],
        classOf[Option[_]], classOf[SparkSessionExtensions],
        classOf[Map[_, _]], classOf[Map[_, _]])
      .newInstance(spark.sparkContext, Some(cls.cast(spark).sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty)
  }

  /** Runs `body` with the given session confs set, then restores them. */
  protected def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Jobs the body launches, seen by a SparkListener between two
    * marker jobs. Delivery is async, so the count is read only once
    * the closing marker's start event arrived (one listener queue
    * delivers in order). */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(e.jobId); ()
      }
    }
    def marker(): Int = {
      val f = sc.submitJob(sc.parallelize(Seq(0), 1),
        (_: Iterator[Int]) => (), Seq(0), (_: Int, _: Unit) => (), ())
      f.get()
      f.jobIds.head
    }
    sc.addSparkListener(listener)
    try {
      val start = marker()
      body
      val end = marker()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(end) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(seen.contains(end), "listener never saw the closing marker")
      seen.asScala.count(id => id > start && id < end)
    } finally sc.removeSparkListener(listener)
  }
}
