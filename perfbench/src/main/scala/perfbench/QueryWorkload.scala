package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A registry workload: a fixed set of `SparkEntry.queries` over one
  * bundled sf directory, in a seed-permuted order. Each op is one query:
  * `Q.run` followed by one materializing action that reads every output
  * column and digests it; the digest must equal the recorded one. */
final class QueryWorkload(val name: String, tier: Path, queries: Seq[String],
    expected: Map[String, Digest], seed: Long) extends Workload {

  private val registry = graft.SparkEntry.queries
  private val order = new scala.util.Random(seed).shuffle(queries)

  require(queries.forall(registry.contains), s"$name: unknown query in $queries")
  require(queries.forall(expected.contains), s"$name: no expected digest for some of $queries")

  def describe: Map[String, Any] = Map("tier" -> tier.getFileName.toString, "order" -> order)

  /** Each pass reads its own copy of the tier, so no pass sees another's
    * memoized corpus fingerprints (they are keyed on file path). */
  def pass(spark: SparkSession, passNo: Int, dir: Path, tracer: Tracer): Seq[Op] = {
    val input = QueryWorkload.copyTier(tier, dir.resolve("input"))
    order.map { q =>
      val op = tracer.op(q, passNo) { o =>
        val df = tracer.call(o, "queries.build")(registry(q)(spark, input))
        val got = tracer.call(o, "exec.action")(Digest.of(df))
        tracer.phases(o, df.queryExecution)
        if (got != expected(q))
          throw new WrongOutput(s"digest $got, expected ${expected(q)}")
      }
      spark.catalog.clearCache()
      op
    }
  }

  def headline(ops: Seq[Op], seconds: Double): (String, Double, String) =
    ("query_p50_s", Stats.opMedian(ops), "s")
}

object QueryWorkload {

  /** Copies a bundled tier to `to` and returns the copy's path. */
  def copyTier(tier: Path, to: Path): String = {
    Files.createDirectories(to)
    Files.list(tier).iterator.asScala.foreach { f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    to.toString
  }

  /** Expected digests, one `query<TAB>rows:hash` line each. */
  def readExpected(file: Path): Map[String, Digest] =
    Files.readAllLines(file).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, d) = l.split("\t"); q -> Digest.parse(d) }.toMap
}
