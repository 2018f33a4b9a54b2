package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, IsNull, UnsafeProjection, XxHash64}
import org.apache.spark.sql.types.StructType

/** Output digest: row count plus an order-independent 64-bit hash.
  *
  * Each row hashes every column by position, preceded by its null flag,
  * so a null that moves from one column to another changes the row's
  * hash (Spark's hash functions skip null inputs, so the value alone
  * would not). Row hashes are summed modulo 2^64, which makes the digest
  * independent of row order and of partitioning. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {

  def parse(s: String): Digest = {
    val Array(n, h) = s.trim.split(":")
    Digest(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def rowHash(schema: StructType): Expression =
    XxHash64(schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      val ref = BoundReference(i, f.dataType, f.nullable)
      Seq(IsNull(ref), ref)
    }, 42L)

  /** Runs `df` as one action and digests it in the query's final stage:
    * the hash is a narrow map over the executed plan's output rows, so
    * it adds no exchange, and every output column is read. */
  def of(df: DataFrame): Digest = {
    val hashExpr = rowHash(df.schema)
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      val project = UnsafeProjection.create(Seq(hashExpr))
      var n = 0L
      var h = 0L
      rows.foreach { r: InternalRow => n += 1; h += project(r).getLong(0) }
      Iterator.single((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
