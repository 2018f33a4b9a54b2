package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A failed query
  * writes no output and makes the run exit 1 once oracle_sql.json is
  * written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local iteration)
    val (queries, unknown) =
      if (args.length > 2) Harness.resolve(args(2).split(",").toSeq)
      else (Harness.registry, Nil)
    val spark = Harness.session(aqe = true)
    new java.io.File(outDir).mkdirs()
    val outcome = Harness.run(spark, queries, sfDir) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = queries.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Harness.finish(spark, unknown ++ outcome.failed)
  }
}
