package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expressions._

/** Session-extension entry point: makes the engine's native expressions
  * available as SQL functions in ANY session configured with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (cluster deployment path — no code changes in the consuming app).
  * For an already-built session, `GraftExtensions.register(spark)`
  * (called by `Engine.attach`) installs the same functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // size(array_intersect(array_sort(a), array_sort(b))) -> merge walk
    ext.injectOptimizerRule(_ => RewriteSortedIntersect)
    // grouped top-k operator: partial/final bounded heaps, no sort
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

object GraftExtensions {

  /** The native SQL functions, one row each: both routes install this
    * list, so a session gets the same functions either way. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn[SimHash60]("simhash60")(c => SimHash60(c.head)),
    fn[SortedIntersectSize]("sorted_intersect_size")(c => SortedIntersectSize(c(0), c(1))),
    fn[HilbertIndex32]("hilbert32")(c => HilbertIndex32(c(0), c(1))),
    fn[Pmd5Hash60]("pmd5_60")(Pmd5Hash60.build),
    fn[CommonPrefixLen]("common_prefix_len")(c => CommonPrefixLen(c(0), c(1))))

  /** Installs every native function missing from `spark`'s registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }

  private def fn[E](name: String)(build: FunctionBuilder)(
      implicit tag: scala.reflect.ClassTag[E]) =
    (FunctionIdentifier(name), new ExpressionInfo(tag.runtimeClass.getName, name), build)
}
