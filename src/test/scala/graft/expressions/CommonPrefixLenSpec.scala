package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[CommonPrefixLen]] (byte walk + codepoint back-off) must equal the
  * composable per-CHARACTER fold it replaces in
  * [[graft.operators.SuffixArray.repeatedSubstrings]] — on ASCII, on
  * multibyte UTF-8 (where a byte-prefix compare alone would over- or
  * under-count), and on the degenerate edges. */
class CommonPrefixLenSpec extends SparkSpec {
  import spark.implicits._

  private val foldLcp =
    "coalesce(array_min(filter(sequence(1, least(length(a), length(b))), " +
      "i -> substr(a, i, 1) <> substr(b, i, 1))) - 1, " +
      "least(length(a), length(b)))"

  private def check(data: Seq[(String, String)]): Unit = {
    // the fold's sequence(1, n) needs n >= 1; empty-operand rows are
    // asserted directly against the known answer 0
    val (empty, rest) = data.partition(p => p._1.isEmpty || p._2.isEmpty)
    if (empty.nonEmpty) {
      val got = empty.toDF("a", "b")
        .select(CommonPrefixLen(spark, col("a"), col("b")).as("n"))
        .collect().map(_.getInt(0)).toSeq
      assert(got.forall(_ == 0), s"empty operand must give 0, got $got")
    }
    if (rest.nonEmpty) {
      val df = rest.toDF("a", "b").select(
        CommonPrefixLen(spark, col("a"), col("b")).as("native"),
        expr(foldLcp).as("fold"))
      val bad = df.filter(col("native") =!= col("fold")).collect()
      assert(bad.isEmpty, s"native != fold on: ${bad.mkString(", ")}")
    }
  }

  test("column built under one session analyzes in a cloned session " +
      "(no temp-function registry dependence)") {
    val c = CommonPrefixLen(spark, col("a"), col("b"))
    val s2 = bareSession() // no native SQL functions
    assert(!s2.catalog.functionExists("common_prefix_len"))
    val got = s2.createDataFrame(Seq(("banana", "bandana"))).toDF("a", "b")
      .select(c.as("n")).collect().head.getInt(0)
    assert(got == 3)
  }

  test("ASCII: prefixes, mismatches, equality, containment") {
    check(Seq(
      ("abcdef", "abcxyz"), ("same", "same"), ("ab", "abab"),
      ("abab", "ab"), ("x", "y"), ("", "abc"), ("abc", ""), ("", ""),
      ("a b c", "a b d"), ("trailing ", "trailing")))
  }

  test("multibyte UTF-8: partial-codepoint matches never count") {
    // é (C3 A9) vs è (C3 A8): first BYTE matches, zero CHARS do;
    // 3-byte CJK and 4-byte emoji exercise deeper back-off
    check(Seq(
      ("é", "è"), ("café", "cafè"), ("日本語", "日本誤"),
      ("日本語", "日本語です"), ("a😀b", "a😀c"), ("😀", "😁"),
      ("αβγ", "αβδ"), ("mixedé日本", "mixedé日誤")))
  }

  test("random ASCII pairs agree with the fold") {
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(300) {
      def s() = Seq.fill(rnd.nextInt(30))(('a' + rnd.nextInt(3)).toChar).mkString
      (s(), s())
    }
    check(data)
  }

  test("random multibyte pairs agree with the fold") {
    val alphabet = Array("a", "é", "日", "😀", " ")
    val rnd = new scala.util.Random(11)
    val data = Seq.fill(300) {
      def s() = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
      (s(), s())
    }
    check(data)
  }
}
