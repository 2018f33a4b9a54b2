package graft

import org.apache.spark.sql.SparkSession

/** User-facing session setup: one call gives a consuming application the
  * whole engine surface — testdata tables as SQL views and the native
  * functions registered (for sessions not built with
  * `spark.sql.extensions=graft.GraftExtensions`).
  */
object Engine {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table under its name as a temp view
    * (events with the nanos-ts normalization applied) and install the
    * native SQL functions. After this, `spark.sql` reaches everything. */
  def attach(spark: SparkSession, sfDir: String): Unit = {
    TableNames.foreach { name =>
      queries.Tables.t(spark, sfDir, name).createOrReplaceTempView(name)
    }
    GraftExtensions.register(spark)
  }
}
