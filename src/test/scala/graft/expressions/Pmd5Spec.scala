package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Portable

/** Pmd5Hash60 must be bit-identical to the composed hex form it
  * replaces — that identity is what keeps every DuckDB oracle valid.
  */
class Pmd5Spec extends SparkSpec {

  import spark.implicits._

  private val samples: Seq[String] = Seq(
    "", " ", "a", "hello world", "0:tok", "line\nbreak", "tab\tsep",
    "日本語テキスト", "émoji ✨", "x" * 10000) ++
    (1 to 200).map(i => s"doc-$i-${"pad" * (i % 7)}")

  test("native expression == composed hex form == driver-side twin") {
    val df = samples.toDF("s").select(col("s"),
      Pmd5Hash60(spark, col("s")).as("native"),
      Portable.pmd5Composed(col("s")).as("composed"))
    df.collect().foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(1) == r.getLong(2),
        s"native != composed for ${s.take(30)}")
      assert(r.getLong(1) == Portable.pmd5Local(s),
        s"native != pmd5Local for ${s.take(30)}")
    }
  }

  test("Portable.pmd5 routes through the native expression under an active session") {
    val plan = samples.take(1).toDF("s")
      .select(Portable.pmd5(col("s"))).queryExecution.analyzed.toString
    assert(plan.contains("pmd5_60"), s"expected native pmd5_60 in plan:\n$plan")
  }

  test("column built under one session analyzes in a cloned session " +
      "(no temp-function registry dependence)") {
    // the round-14 streaming bug: a STATIC frame built on the outer
    // session joined inside a foreachBatch clone could not resolve
    // pmd5_60 — the old call_function spelling registered in whichever
    // session was active at construction. The expression now rides in
    // the Column (GraftSqlBridge.column), so any session analyzes it.
    val c = Pmd5Hash60(spark, col("s")) // built with `spark` active
    val s2 = bareSession() // no native SQL functions
    assert(!s2.catalog.functionExists("pmd5_60"))
    val got = s2.createDataFrame(Seq(Tuple1("banana"))).toDF("s")
      .select(c.as("h")).collect().head.getLong(0)
    assert(got == Portable.pmd5Local("banana"))
  }

  test("null input yields null, matching the composed form") {
    val df = Seq[Option[String]](Some("x"), None).toDF("s")
      .select(Pmd5Hash60(spark, col("s")).as("n"),
        Portable.pmd5Composed(col("s")).as("c"))
    val rows = df.collect()
    assert(rows.count(r => r.isNullAt(0)) == 1)
    rows.foreach(r => assert(r.isNullAt(0) == r.isNullAt(1)))
  }
}
