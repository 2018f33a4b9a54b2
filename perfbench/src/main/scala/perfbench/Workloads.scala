package perfbench

import java.nio.file.Path

/** The benchmark's workloads by name. NOTES.md records why each query
  * set was chosen and the per-query numbers behind the choice. */
object Workloads {

  /** Queries whose time goes to driver-side rounds: eager round jobs,
    * re-planning, checkpoints and standing-index table writes. */
  val Rounds: Seq[String] = Seq("q131_kcore", "q279_epoch_schedule")

  /** Queries whose time goes to per-row kernels, scan and shuffle. */
  val Rows: Seq[String] = Seq("q30_ngram_jaccard", "q134_table_profile")

  /** Query workloads: (bundled tier, queries). */
  val QuerySets: Map[String, (String, Seq[String])] = Map(
    "rounds_sf0.01" -> ("sf0.01", Rounds),
    "rows_sf0.1" -> ("sf0.1", Rows))

  val Names: Seq[String] = Seq("rounds_sf0.01", "rows_sf0.1", "edinet_etl")

  def querySet(name: String): (String, Seq[String]) =
    QuerySets.getOrElse(name, sys.error(s"'$name' is not a query workload"))

  def apply(name: String, seed: Long, bench: Path): Workload =
    if (name == "edinet_etl") new EdinetWorkload(seed)
    else if (QuerySets.contains(name)) {
      val (tier, qs) = QuerySets(name)
      new QueryWorkload(name, bench.resolve("data").resolve(tier), qs,
        QueryWorkload.readExpected(bench.resolve("expected").resolve(s"$name.tsv")), seed)
    } else throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${Names.mkString(", ")})")
}
