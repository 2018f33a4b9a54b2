package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.HilbertIndex32

/** Proves the Hilbert index expression from first principles and
  * measures the layout claim against z-order.
  *
  * Correctness does not lean on any reference implementation: a curve
  * restricted to the [0, 64)^2 grid must (a) hit every index in
  * [0, 4096) exactly once (bijection) and (b) step to a GRID NEIGHBOR
  * (L1 distance 1) between consecutive indices — continuity. Those two
  * properties characterize a Hilbert-style curve and are exactly what
  * the Z curve fails (its power-of-two jumps have L1 distance > 1), so
  * the test cannot pass by accident of being "some interleave". The
  * restriction is exact because every round above the grid's bit width
  * sees rx = ry = 0: it adds 0 to d and swaps (x, y), and the 10 swaps
  * above order 6 cancel (even count).
  *
  * The layout test mirrors ZorderSpec's scan-row measurement: same
  * orders table, same box predicates, hilbertWrite vs zorderWrite.
  */
class HilbertSpec extends SparkSpec {

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }
      .map(_.metrics("numOutputRows").value).sum
  }

  test("column built under one session analyzes in a cloned session " +
      "(no temp-function registry dependence)") {
    val c = HilbertIndex32(spark, col("x"), col("y"))
    val want = {
      import spark.implicits._
      Seq((3L, 5L)).toDF("x", "y").select(c.as("h")).collect().head.getLong(0)
    }
    val s2 = bareSession() // no native SQL functions
    assert(!s2.catalog.functionExists("hilbert32"))
    val got = s2.createDataFrame(Seq((3L, 5L))).toDF("x", "y")
      .select(c.as("h")).collect().head.getLong(0)
    assert(got == want)
  }

  test("order-6 restriction is a bijection with unit steps (continuity)") {
    import spark.implicits._
    val pts = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val got = pts.select(col("x"), col("y"),
        HilbertIndex32(spark, col("x"), col("y")).as("h"))
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(got.map(_._3).toSeq == (0L until 4096L), "bijection onto [0, 4096)")
    got.sliding(2).foreach { case Array((x0, y0, h0), (x1, y1, h1)) =>
      assert(h1 == h0 + 1)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"curve jumps between d=$h0 ($x0,$y0) and d=$h1 ($x1,$y1)")
    }
  }

  test("interpreted eval equals the codegen'd dataframe path") {
    import spark.implicits._
    // deterministic pseudo-random probes across the full 16-bit domain
    val probes = (0 until 512).map { i =>
      val r = (i * 2654435761L) & 0xFFFFFFFFL
      (r & 0xFFFFL, (r >> 16) & 0xFFFFL)
    }
    val viaDf = probes.toDF("x", "y")
      .select(HilbertIndex32(spark, col("x"), col("y")))
      .as[Long].collect().toSeq
    val viaEval = probes.map { case (x, y) =>
      HilbertIndex32(Literal(x), Literal(y)).eval(null).asInstanceOf[Long]
    }
    assert(viaDf == viaEval)
    // and the full domain is respected: masked inputs, 32-bit output
    viaEval.foreach(h => assert(h >= 0L && h < (1L << 32)))
  }

  test("null propagates; out-of-range inputs are masked to 16 bits") {
    val rows = spark.sql(
      """SELECT x, y FROM VALUES (CAST(NULL AS BIGINT), 1L), (65537L, 1L), (1L, 1L)
         AS t(x, y)""")
    val got = rows.select(HilbertIndex32(spark, col("x"), col("y")).as("h"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got(0).isEmpty, "null child -> null")
    assert(got(1) == got(2), "65537 masks to 1")
  }

  test("hilbert layout prunes box queries at least as well as z-order") {
    val befAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = java.nio.file.Files.createTempDirectory("hilbert").toString
      val orders = graft.queries.Tables.t(spark, "/root/testdata/sf0.01", "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          unix_timestamp(col("o_orderdate").cast("timestamp")).as("o_epoch"))
      Maintenance.zorderWrite(orders, col("o_custkey"), col("o_epoch"),
        s"$root/zorder", 64)
      Maintenance.hilbertWrite(orders, col("o_custkey"), col("o_epoch"),
        s"$root/hilbert", 64)

      val lo = orders.agg(min("o_epoch")).head().getLong(0)
      val hi = orders.agg(max("o_epoch")).head().getLong(0)
      val cLo = orders.agg(min("o_custkey")).head().getLong(0)
      val cHi = orders.agg(max("o_custkey")).head().getLong(0)
      // boxes chosen to include domain-midline straddles — where the Z
      // curve's biggest jump stretches file bounding boxes
      def frac(a: Long, b: Long, n: Long, d: Long) = a + (b - a) * n / d
      val boxes = Seq(
        (frac(cLo, cHi, 1, 10), frac(cLo, cHi, 2, 10), frac(lo, hi, 1, 10), frac(lo, hi, 2, 10)),
        (frac(cLo, cHi, 4, 10), frac(cLo, cHi, 6, 10), frac(lo, hi, 4, 10), frac(lo, hi, 6, 10)),
        (frac(cLo, cHi, 8, 10), frac(cLo, cHi, 9, 10), frac(lo, hi, 8, 10), frac(lo, hi, 9, 10)),
        (frac(cLo, cHi, 3, 10), frac(cLo, cHi, 7, 10), frac(lo, hi, 45, 100), frac(lo, hi, 55, 100)))
      def rowsFor(dir: String): Long = boxes.map { case (c0, c1, t0, t1) =>
        scanRows(spark.read.parquet(dir).filter(
          col("o_custkey").between(c0, c1) && col("o_epoch").between(t0, t1)))
      }.sum
      val z = rowsFor(s"$root/zorder")
      val hb = rowsFor(s"$root/hilbert")
      val total = orders.count() * boxes.size
      info(s"scan rows over ${boxes.size} boxes: hilbert=$hb zorder=$z full=$total")
      // measured at sf0.01/64 files: hilbert=5392 zorder=7966 full=60000
      // — the continuity win is real, not a tie, so pin it strictly
      assert(hb < z, s"hilbert ($hb) must prune better than z-order ($z)")
      assert(hb * 2 < total, "curve layout must beat a full scan by >2x on boxes")

      // same answers from both layouts
      val a = spark.read.parquet(s"$root/hilbert")
        .filter(col("o_custkey").between(boxes.head._1, boxes.head._2))
        .agg(sum("o_orderkey")).head().getLong(0)
      val b = spark.read.parquet(s"$root/zorder")
        .filter(col("o_custkey").between(boxes.head._1, boxes.head._2))
        .agg(sum("o_orderkey")).head().getLong(0)
      assert(a == b)
    } finally spark.conf.set("spark.sql.adaptive.enabled", befAqe)
  }
}
