package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index of a 2-D point: maps (x, y), each masked to 16
  * bits, to the point's distance along the order-16 Hilbert curve — a
  * 32-bit value in one LongType column.
  *
  * Why the engine carries this next to [[graft.operators.Maintenance]]'s
  * z-order writer: both space-filling curves turn "sort by ONE column"
  * into 2-D clustering so per-file min/max ranges stay tight on BOTH
  * dimensions, but the Hilbert curve is continuous — consecutive curve
  * positions are always grid neighbors, where the Z curve takes a long
  * diagonal jump at every power-of-two boundary. Those jumps are what
  * stretch a file's bounding box across the whole domain when a range
  * of curve positions lands in one file; Hilbert files stay compact, so
  * box-query manifest pruning reads no more (usually fewer) files —
  * HilbertSpec measures exactly this against the z-order layout.
  *
  * The conversion is the classic bit-interleave-with-rotation loop
  * (16 rounds, pure integer ops — the public-domain xy2d algorithm).
  * A loop whose state mutates per round cannot be spelled as composed
  * Column arithmetic without either 16 chained projections or an
  * exponentially duplicated expression tree, so this is preference (b)
  * of the custom-operator ladder: a native codegen Expression — one
  * node, whole-stage-codegen'd, no UDF boxing. Null in either child
  * yields null; inputs outside [0, 65535] are masked, not errors.
  */
case class HilbertIndex32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert32"

  override def nullSafeEval(xi: Any, yi: Any): Any = {
    var x = xi.asInstanceOf[Long] & 0xFFFFL
    var y = yi.asInstanceOf[Long] & 0xFFFFL
    var d = 0L
    var s = 32768L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    java.lang.Long.valueOf(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xc, yc) => {
      val x = ctx.freshName("hx")
      val y = ctx.freshName("hy")
      val d = ctx.freshName("hd")
      val s = ctx.freshName("hs")
      val rx = ctx.freshName("hrx")
      val ry = ctx.freshName("hry")
      val t = ctx.freshName("ht")
      s"""
         |long $x = $xc & 0xFFFFL;
         |long $y = $yc & 0xFFFFL;
         |long $d = 0L;
         |for (long $s = 32768L; $s > 0L; $s >>= 1) {
         |  final long $rx = (($x & $s) > 0L) ? 1L : 0L;
         |  final long $ry = (($y & $s) > 0L) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) {
         |      $x = $s - 1L - $x;
         |      $y = $s - 1L - $y;
         |    }
         |    final long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex32 =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex32 {
  /** Session-free Column form — see [[Pmd5Hash60.apply]]; plain SQL
    * reaches it as `hilbert32` ([[graft.GraftExtensions.functions]]). */
  def apply(spark: SparkSession, x: Column, y: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(HilbertIndex32(
      org.apache.spark.sql.GraftSqlBridge.expression(x),
      org.apache.spark.sql.GraftSqlBridge.expression(y)))
}
