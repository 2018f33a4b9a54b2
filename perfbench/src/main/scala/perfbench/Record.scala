package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Records the expected digests of a query workload:
  *
  *   perfbench.Record <workload> <sfDir> <outDir> <expectedFile>
  *
  * Runs each query of the workload over `sfDir` in a fresh session under
  * the benchmark's conf, digests it as the benchmark does, writes its output the way graft.Verify does (one
  * parquet dir per query plus oracle_sql.json, for tools/check.py), and
  * writes `query<TAB>digest` lines to `expectedFile`. record.py keeps the
  * digests only when tools/check.py passes every query. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(workload, sfDir, outDir, expectedFile) = args
    val names = Workloads.querySet(workload)._2
    val registry = graft.SparkEntry.queries
    val dirs = StateDirs(Paths.get(outDir).toAbsolutePath.resolve("_state"))
    val lines = names.map { q =>
      val spark = Session.start(dirs)
      try {
        val digest = Digest.of(registry(q)(spark, sfDir))
        spark.catalog.clearCache()
        registry(q)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        s"$q\t$digest"
      } finally Session.stop(spark, dirs)
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Json.render(scala.collection.immutable.ListMap(oracles.toSeq.sortBy(_._1): _*)))
    Files.write(Paths.get(expectedFile), lines.asJava)
    lines.foreach(println)
  }
}
