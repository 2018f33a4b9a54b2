package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit portable hash: the SAME value as the composed form
  * `conv(substring(md5(s), 1, 15), 16, 10)` (graft.functions.Portable
  * .pmd5 — the first 15 hex digits of the md5, i.e. the first 60 bits
  * of the digest), computed straight from the digest bytes.
  *
  * The composed form materializes a 32-char lowercase-hex string, takes
  * a substring, and parses it back through base conversion — three
  * string ops per call on the engine's single hottest primitive (every
  * dedup signature, shingle, LSH band, bucket and sample coin routes
  * through pmd5). This expression md5s the UTF8 bytes and assembles the
  * long with eight shifts; implements `doGenCode`, so it stays inside
  * whole-stage codegen — preference (b) of the custom-operator ladder,
  * like [[SimHash60]].
  *
  * Value equivalence with the hex path is bit-for-bit (Pmd5Spec
  * property-checks it against the composed form and the driver-side
  * twin), so every DuckDB oracle stays valid wherever this replaces
  * the composed expression. Null input -> null.
  */
case class Pmd5Hash60(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "pmd5_60"

  // exactly what the composed hex form accepts: md5 takes STRING (any
  // collation — the hash is over the UTF-8 bytes, collation never
  // matters) or BINARY; anything else fails analysis on both paths,
  // so routing through this expression cannot change analyzability
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pmd5_60 requires STRING or BINARY input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(Pmd5Hash60.hash60(input match {
      case s: UTF8String => s.getBytes
      case b: Array[Byte] => b
    }))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => child.dataType match {
      case BinaryType =>
        s"${ev.value} = graft.expressions.Pmd5Hash60.hash60($c);"
      case _ =>
        s"${ev.value} = graft.expressions.Pmd5Hash60.hash60($c.getBytes());"
    })

  override protected def withNewChildInternal(newChild: Expression): Pmd5Hash60 =
    copy(child = newChild)
}

object Pmd5Hash60 {

  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(bytes): bytes 0..6 whole, byte 7's high
    * nibble — exactly the value of parsing the first 15 hex chars.
    * Called from generated code (static forwarder). */
  def hash60(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
      ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
      ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** The SQL function builder behind `pmd5_60`
    * ([[graft.GraftExtensions.functions]]). */
  private[graft] def build(exprs: Seq[Expression]): Pmd5Hash60 = {
    require(exprs.length == 1,
      s"pmd5_60 takes exactly 1 argument, got ${exprs.length}")
    Pmd5Hash60(exprs.head)
  }

  /** Session-free Column form (the CharNgramHashes60/MinhashAll rule):
    * the expression rides inside the Column itself, so the frame can be
    * analyzed by ANY session — including a streaming foreachBatch
    * clone joining a static frame built on the outer session, where
    * the old temp-function spelling failed to resolve. Plain SQL reaches
    * it as `pmd5_60` (Engine.attach / GraftExtensions). */
  def apply(spark: SparkSession, s: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      Pmd5Hash60(org.apache.spark.sql.GraftSqlBridge.expression(s)))
}
