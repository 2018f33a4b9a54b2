package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

class SimHash60Spec extends SparkSpec {

  test("native one-pass expression == composed 60-pass SQL form on real docs") {
    val docs = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val both = docs.select(
      col("doc_id"),
      Dedup.simhash(spark, col("text")).as("native"),
      Dedup.simhashComposed(col("text")).as("composed"))
    assert(both.filter(col("native") =!= col("composed")).isEmpty)
  }

  test("column built under one session analyzes in a cloned session " +
      "(no temp-function registry dependence)") {
    import spark.implicits._
    val c = SimHash60(spark, col("hs"))
    val want = Seq(Seq(1L, 1L, 2L)).toDF("hs")
      .select(c.as("sig")).collect().head.getLong(0)
    val s2 = bareSession() // no native SQL functions
    assert(!s2.catalog.functionExists("simhash60"))
    val got = s2.createDataFrame(Seq(Tuple1(Seq(1L, 1L, 2L)))).toDF("hs")
      .select(c.as("sig")).collect().head.getLong(0)
    assert(got == want)
  }

  test("interpreted eval path agrees with codegen (edge inputs)") {
    import spark.implicits._
    val df = Seq(
      Seq(0L), Seq((1L << 60) - 1),
      Seq(1L, 1L, 2L), Seq.empty[Long]
    ).toDF("hs").select(SimHash60(spark, col("hs")).as("sig"))
    val sigs = df.collect().map(_.getLong(0))
    assert(sigs(0) == 0L)                  // all bits zero
    assert(sigs(1) == (1L << 60) - 1)      // all 60 bits set
    assert(sigs(2) == 1L)                  // bit0: 2/3 majority; bit1: 1/3 no
    assert(sigs(3) == 0L)                  // empty -> no majorities
  }
}
