package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` seam the engine needs: build a DataFrame from
  * a custom LogicalPlan. Spark's public surface can only construct plans
  * the DataFrame DSL / SQL parser can express; a custom operator node
  * (graft.plans.TopKPerKeyNode) has no DSL spelling, so the wrapper
  * must call `Dataset.ofRows` — which Spark keeps `private[sql]`.
  * Living in `org.apache.spark.sql` is the standard extension-library
  * pattern for exactly this (no Spark internals are modified; this
  * compiles against the public jars).
  */
object GraftSqlBridge {

  /** Diagnostic for a session that is not a classic (same-JVM) one —
    * Spark 4's unified `SparkSession` type also covers Connect client
    * sessions, whose plans live server-side where a client library
    * cannot inject Catalyst nodes. Factored out so the message is
    * directly testable without constructing a Connect session. */
  def notClassicMessage(className: String): String =
    s"graft custom operators need a classic (same-JVM) SparkSession " +
      s"with direct Catalyst access, but this session is $className " +
      "(a Spark Connect client session plans on the server, where a " +
      "client-side library cannot inject logical plan nodes or " +
      "strategies). Run the engine in a classic session — " +
      "SparkSession.builder.master(...) in the same JVM — or use the " +
      "pure-DataFrame fallback forms (e.g. the window spelling of " +
      "grouped top-k), which work over Connect."

  /** The classic/Connect split, made explicit: a typed match instead of
    * a blind cast, so a Connect session fails with an actionable
    * message rather than a ClassCastException. */
  private def classicSession(spark: SparkSession): classic.SparkSession =
    spark match {
      case c: classic.SparkSession => c
      case other => throw new UnsupportedOperationException(
        notClassicMessage(other.getClass.getName))
    }

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicSession(spark), plan)

  /** A frame scanning `rows`, already-planned output of `origin`,
    * through a `LogicalRDD`. With `originStats` it is the node
    * `Dataset.checkpoint` builds (origin's partitioning, ordering and
    * statistics); without, the planner sees what `createDataFrame`
    * over an RDD shows it (unknown partitioning, maximum size). */
  def ofCheckpointRows(origin: DataFrame,
      rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      originStats: Boolean): DataFrame = {
    val spark = classicSession(origin.sparkSession)
    ofRows(spark,
      if (originStats) execution.LogicalRDD.fromDataset(rows,
        origin.asInstanceOf[classic.Dataset[_]], isStreaming = false)
      else execution.LogicalRDD(
        origin.queryExecution.analyzed.output.map(_.newInstance()), rows)(spark))
  }

  /** Run a marked RDD's checkpoint now, as an eager `Dataset.checkpoint`
    * does; a no-op once it ran. */
  def doCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Unit = rdd.doCheckpoint()

  /** Column wrapping a raw Catalyst expression. The engine's native
    * expressions (graft.expressions.*) used to reach the plan via a
    * temp-function registration in whichever session was ACTIVE at
    * column-construction time — which breaks when a different session
    * analyzes the frame (multi-session apps; cloned sessions do not
    * inherit temp functions). Embedding the expression in the Column
    * itself is session-free: any session can analyze it. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a (classic) Column — the inverse
    * seam [[column]] needs to wrap a user column as a native
    * expression's child. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Idempotently add a planner strategy to this session (the runtime
    * path; cluster deployments get the same strategy via
    * `spark.sql.extensions=graft.GraftExtensions`). */
  def ensureStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = classicSession(spark).experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }
}
