package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** |A ∩ B| for two SORTED `array<long>` columns via a single merge walk
  * — no per-pair hash-set allocation, O(|A|+|B|) with two pointers.
  *
  * `array_intersect` builds an OpenHashSet per evaluation; in pair-join
  * verification (near-dup Jaccard) that allocation happens once per
  * CANDIDATE PAIR, which is the hot loop. Sorting happens once per ROW
  * upstream (`array_sort` in the per-vector projection), so the n^2
  * stage does pure pointer arithmetic. Counts DISTINCT common values
  * (duplicate runs are skipped on a match), so it equals
  * `size(array_intersect(a,b))` — which deduplicates — on ALL sorted
  * inputs, not just distinct-element ones; DuckDB oracles are unchanged
  * and the optimizer rewrite in [[graft.expressions.RewriteSortedIntersect]]
  * is semantics-preserving.
  *
  * Codegen'd (`doGenCode`); null array -> null; elements non-null.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val vx = x.getLong(i)
      val vy = y.getLong(j)
      if (vx == vy) {
        c += 1
        // skip the whole duplicate run on BOTH sides so repeated common
        // values count once, matching array_intersect's dedup semantics
        i += 1; while (i < nx && x.getLong(i) == vx) i += 1
        j += 1; while (j < ny && y.getLong(j) == vy) j += 1
      }
      else if (vx < vy) i += 1
      else j += 1
    }
    java.lang.Integer.valueOf(c)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val vx = ctx.freshName("vx")
      val vy = ctx.freshName("vy")
      s"""
         |final int $nx = $a.numElements();
         |final int $ny = $b.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  final long $vx = $a.getLong($i);
         |  final long $vy = $b.getLong($j);
         |  if ($vx == $vy) {
         |    $c++;
         |    $i++; while ($i < $nx && $a.getLong($i) == $vx) { $i++; }
         |    $j++; while ($j < $ny && $b.getLong($j) == $vy) { $j++; }
         |  }
         |  else if ($vx < $vy) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Session-free Column form — see [[Pmd5Hash60.apply]]; plain SQL
    * reaches it as `sorted_intersect_size`
    * ([[graft.GraftExtensions.functions]]). */
  def apply(spark: SparkSession, a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(SortedIntersectSize(
      org.apache.spark.sql.GraftSqlBridge.expression(a),
      org.apache.spark.sql.GraftSqlBridge.expression(b)))
}
