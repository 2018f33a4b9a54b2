package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

/** The shared query loop's failure and cache contract, and the exit
  * code a harness main derives from it. */
class HarnessSpec extends SparkSpec {

  test("loop: a failing query gets no time, the next still runs, the cache is empty after each") {
    spark.catalog.clearCache()
    val cacheEmptyAtStart = mutable.Buffer[Boolean]()
    def query(fail: Boolean): Harness.Query = (s, _) => {
      cacheEmptyAtStart += s.sharedState.cacheManager.isEmpty
      val df = s.range(10).toDF("id").cache()
      df.count()
      if (fail) throw new IllegalStateException("boom")
      df
    }
    val out = Harness.run(spark,
      Seq("ok1" -> query(fail = false), "bad" -> query(fail = true), "ok2" -> query(fail = false)),
      "unused")((_, df) => df.count())
    assert(out.failed == Seq("bad"))
    assert(out.done.map(r => r.name -> r.value) == Seq("ok1" -> 10L, "ok2" -> 10L))
    assert(out.done.forall(_.seconds > 0))
    assert(!out.seconds.contains("bad"), "a failed query must get no time")
    assert(cacheEmptyAtStart == Seq(true, true, true),
      "every query must start on an empty cache, the failed one's included")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a harness main prints no time for a failed query and exits 1") {
    val missing = Files.createTempDirectory("harness-spec").resolve("missing").toString
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val cmd = Seq(java) ++ opens ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
      "graft.Harness", "profile", missing, "q01_pricing_summary")
    val out, err = mutable.Buffer[String]()
    val code = Process(cmd, None, "SPARK_GRAFT_CPUS" -> "2")
      .!(ProcessLogger(out += _, err += _))
    assert(code == 1, err.takeRight(20).mkString("\n"))
    assert(err.exists(_.contains("q01_pricing_summary FAILED")))
    assert(out.exists(_.startsWith("query")), "the profile header is printed")
    assert(!out.exists(_.startsWith("q01_pricing_summary")),
      "a failed query must get no row with a time")
  }
}
