package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native one-pass SimHash over an `array<long>` of token hashes.
  *
  * Produces bit-for-bit the SAME value as the composed SQL form in
  * [[graft.operators.Dedup.simhash]] (bit j set iff the majority of
  * token hashes carry bit j), but walks the token array ONCE updating
  * all 60 bit-counters — the composed `transform(sequence(0,59), ...)`
  * makes 60 passes. Implements `doGenCode`, so it stays inside
  * whole-stage codegen; this is preference (b) of the custom-operator
  * ladder (compose > Expression > plan node > mapPartitions), chosen
  * because the semantics are scalar-per-row, not a whole-operator.
  *
  * Null array -> null; elements are expected non-null (they come from
  * `pmd5` over split tokens, which never produces nulls).
  */
case class SimHash60(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < 60) {
        counts(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 60) {
      // majority vote: sum(bit*2-1) > 0  <=>  2*ones > n
      if (2 * counts(j) > n) sig |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |final int $n = $c.numElements();
         |final int[] $counts = new int[60];
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $h = $c.getLong($i);
         |  for (int $j = 0; $j < 60; $j++) {
         |    $counts[$j] += (int) (($h >>> $j) & 1L);
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < 60; $j++) {
         |  if (2 * $counts[$j] > $n) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  /** Session-free Column form — see [[Pmd5Hash60.apply]]; plain SQL
    * reaches it as `simhash60` ([[graft.GraftExtensions.functions]]). */
  def apply(spark: SparkSession, tokenHashes: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      SimHash60(org.apache.spark.sql.GraftSqlBridge.expression(tokenHashes)))
}
