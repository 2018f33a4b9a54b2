package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Length (in CHARACTERS) of the longest common prefix of two strings
  * — the inner loop of suffix-adjacency LCP scoring
  * ([[graft.operators.SuffixArray.repeatedSubstrings]]).
  *
  * The composable spelling is a higher-order fold:
  * `array_min(filter(sequence(1, least(len, len)), i -> substr(a,i,1)
  * <> substr(b,i,1))) - 1` — which allocates the index array and two
  * single-char UTF8String slices PER POSITION per row. This expression
  * is one byte-wise walk over the operands' UTF-8 bytes with zero
  * allocation: matched bytes are counted, the count backs off any
  * trailing partial codepoint (UTF-8 continuation bytes are
  * `10xxxxxx`), and the character count is the number of
  * non-continuation bytes in the matched prefix — equal to the
  * per-character fold on ALL valid UTF-8, not just ASCII
  * (CommonPrefixLenSpec proves equality property-style on both).
  *
  * Codegen'd; null if either side is null.
  */
case class CommonPrefixLen(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "common_prefix_len"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String]
    val y = b.asInstanceOf[UTF8String]
    val n = math.min(x.numBytes(), y.numBytes())
    var i = 0
    while (i < n && x.getByte(i) == y.getByte(i)) i += 1
    // i == n: one operand is a whole-codepoint byte prefix of the other
    // (valid UTF-8 cannot end mid-codepoint) — no back-off. Otherwise a
    // mismatch INSIDE a codepoint leaves x[i] a continuation byte:
    // retreat to that codepoint's lead so the partial match drops out.
    while (i > 0 && i < n && (x.getByte(i) & 0xC0) == 0x80) i -= 1
    var chars = 0
    var j = 0
    while (j < i) {
      if ((x.getByte(j) & 0xC0) != 0x80) chars += 1
      j += 1
    }
    java.lang.Integer.valueOf(chars)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val chars = ctx.freshName("chars")
      s"""
         |final int $n = java.lang.Math.min($a.numBytes(), $b.numBytes());
         |int $i = 0;
         |while ($i < $n && $a.getByte($i) == $b.getByte($i)) { $i++; }
         |while ($i > 0 && $i < $n && ($a.getByte($i) & 0xC0) == 0x80) { $i--; }
         |int $chars = 0;
         |for (int $j = 0; $j < $i; $j++) {
         |  if (($a.getByte($j) & 0xC0) != 0x80) { $chars++; }
         |}
         |${ev.value} = $chars;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CommonPrefixLen =
    copy(left = newLeft, right = newRight)
}

object CommonPrefixLen {
  /** Session-free Column form — see [[Pmd5Hash60.apply]]; plain SQL
    * reaches it as `common_prefix_len` ([[graft.GraftExtensions.functions]]). */
  def apply(spark: SparkSession, a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(CommonPrefixLen(
      org.apache.spark.sql.GraftSqlBridge.expression(a),
      org.apache.spark.sql.GraftSqlBridge.expression(b)))
}
