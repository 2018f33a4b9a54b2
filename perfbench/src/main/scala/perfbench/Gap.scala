package perfbench

import java.nio.file.Paths

/** Measures how far graft.Bench's way of timing a query set is from the
  * benchmark's, on the same queries and the same fresh state per pass:
  *
  *   perfbench.Gap <workload> <perfbench dir> <scratch dir> <pairs>
  *
  * "bench" passes time `Q.run(...).count()` with AQE off, as graft.Bench
  * does; "verify" passes time `Q.run` plus the digest action under
  * Verify's conf, as perfbench.Main does. One pass of each per pair, in
  * alternating order after one untimed warm-up pass of each, each pass
  * over its own copy of the tier; prints the median pass total of each
  * kind. */
object Gap {
  def main(args: Array[String]): Unit = {
    val Array(workload, benchDir, scratch, pairs) = args
    val (tier, names) = Workloads.querySet(workload)
    val bundled = Paths.get(benchDir).toAbsolutePath.resolve("data").resolve(tier)
    val registry = graft.SparkEntry.queries
    def pass(kind: String, no: Int): Double = {
      val dirs = StateDirs(Paths.get(scratch).toAbsolutePath.resolve(s"$kind-$no"))
      val spark = Session.start(dirs)
      spark.conf.set("spark.sql.adaptive.enabled", kind == "verify")
      val input = QueryWorkload.copyTier(bundled, dirs.root.resolve("input"))
      try names.map { q =>
        val t0 = System.nanoTime()
        val df = registry(q)(spark, input)
        if (kind == "verify") Digest.of(df) else df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }.sum
      finally Session.stop(spark, dirs)
    }
    Seq("bench", "verify").foreach(k => pass(k, 0))
    val totals = (1 to pairs.toInt).flatMap { i =>
      val order = if (i % 2 == 1) Seq("bench", "verify") else Seq("verify", "bench")
      order.map(k => k -> pass(k, i))
    }
    val med = totals.groupMap(_._1)(_._2).map { case (k, v) => k -> Stats.median(v) }
    println(Json.obj("workload" -> workload, "cpus" -> Session.cpus,
      "bench_count_aqe_off_total_s" -> med("bench"), "verify_digest_aqe_on_total_s" -> med("verify"),
      "passes" -> totals.map { case (k, v) => Seq(k, v) }))
  }
}
