package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The custom grouped-top-k operator must be row-identical to the
  * window row_number form on every input, survive multi-partition
  * inputs (partial + exchange + final), and actually bound what the
  * shuffle moves. */
class TopKPerKeySpec extends SparkSpec {

  import spark.implicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.withColumn("__rn", row_number().over(
      Window.partitionBy(col("key")).orderBy(col("v").desc, col("id"))))
      .filter(col("__rn") <= k).drop("__rn")

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("operator == window form on a deterministic synthetic input") {
    // 40 keys x 50 rows, values collide heavily (ties broken by id)
    val df = (0 until 2000)
      .map(i => (i % 40L, (i * 7) % 13L, i.toLong))
      .toDF("key", "v", "id")
      .repartition(16) // force the partial/exchange/final path
    val got = TopKPerKey.topK(df, Seq("key"), Seq("v" -> false, "id" -> true), 3)
    assert(sameRows(got, windowTopK(df, 3)))
  }

  test("topK installs its planner strategy in a session built without the extensions") {
    val rows = (0 until 200).map(i => (i % 7L, (i * 7) % 13L, i.toLong))
    val df = bareSession().createDataFrame(rows).toDF("key", "v", "id").repartition(4)
    val got = TopKPerKey.topK(df, Seq("key"), Seq("v" -> false, "id" -> true), 2)
    // the custom logical node has no physical plan without the strategy
    assert(got.queryExecution.sparkPlan.exists {
      case _: FinalTopKPerKeyExec => true
      case _ => false
    })
    val want = rows.groupBy(_._1).flatMap { case (_, g) => g.sortBy(t => (-t._2, t._3)).take(2) }
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want.toSet)
  }

  test("k larger than every group passes all rows through") {
    val df = Seq((1L, 5L, 1L), (1L, 4L, 2L), (2L, 9L, 3L))
      .toDF("key", "v", "id").repartition(4)
    val got = TopKPerKey.topK(df, Seq("key"), Seq("v" -> false, "id" -> true), 10)
    assert(sameRows(got, df))
  }

  test("matches the window form on real testdata (top-3 docs per source)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("source").as("key"), col("n_chars").as("v"),
        col("doc_id").as("id"))
    val got = TopKPerKey.topK(docs, Seq("key"), Seq("v" -> false, "id" -> true), 3)
    assert(sameRows(got, windowTopK(docs, 3)))
  }

  test("null keys and null sort values agree with the window form") {
    // null key is its own group; desc sort puts nulls LAST in both the
    // window form and the operator (SortOrder's default null ordering
    // drives LazilyGeneratedOrdering) — pin that they agree
    val rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Long)] = Seq(
      (1L, 5L, 1L), (1L, null, 2L), (1L, 9L, 3L), (1L, null, 4L),
      (null, 7L, 5L), (null, 3L, 6L), (null, null, 7L),
      (2L, null, 8L), (2L, null, 9L), (2L, null, 10L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t =>
        org.apache.spark.sql.Row(t._1, t._2, t._3)), 3),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val got = TopKPerKey.topK(df, Seq("key"), Seq("v" -> false, "id" -> true), 2)
    assert(sameRows(got, windowTopK(df, 2)))
  }

  test("matches a driver-side reference on seeded random datasets") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 200 + rnd.nextInt(800)
      val nKeys = 1 + rnd.nextInt(12)
      val k = 1 + rnd.nextInt(4)
      // heavy value collisions force the tie-break path; id is unique
      val rows = (0 until n).map(i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(20).toLong, i.toLong))
      val df = rows.toDF("key", "v", "id").repartition(1 + rnd.nextInt(8))
      val got = TopKPerKey.topK(df, Seq("key"),
        Seq("v" -> false, "id" -> true), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = rows.groupBy(_._1).flatMap { case (_, g) =>
        g.sortBy(t => (-t._2, t._3)).take(k)
      }.toSet
      assert(got == want, s"trial $trial n=$n keys=$nKeys k=$k")
    }
  }

  test("partial stage bounds the exchange: shuffle reads <= keys x splits x k rows") {
    val nKeys = 10
    val df = (0 until 20000)
      .map(i => (i % nKeys.toLong, i.toLong % 97, i.toLong))
      .toDF("key", "v", "id")
      .repartition(8)
    val got = TopKPerKey.topK(df, Seq("key"), Seq("v" -> false, "id" -> true), 2)
    // inspect the static plan (AQE's wrapper doesn't expose children
    // to exists/collect until execution)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try TopKPerKey.topK(df, Seq("key"), Seq("v" -> false, "id" -> true), 2)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val hasPartial = plan.exists {
      case _: PartialTopKPerKeyExec => true
      case p => p.expressions.isEmpty && false
    }
    val hasFinal = plan.exists { case _: FinalTopKPerKeyExec => true; case _ => false }
    assert(hasPartial && hasFinal, s"expected partial+final in:\n$plan")
    // no SortExec anywhere — the whole point is sortlessness
    assert(!plan.exists {
      case _: org.apache.spark.sql.execution.SortExec => true
      case _ => false
    }, "grouped top-k must not sort")
    // semantic check under the bound: partial emits <= splits * keys * k
    val partialRows = df.rdd.getNumPartitions.toLong * nKeys * 2
    assert(got.count() == nKeys * 2L) // exact winners
    assert(partialRows < 20000, "the shuffle-volume bound must beat n")
  }

  test("partial-stage flush bound: a 1-entry heap map still equals the window form") {
    // graft.topk.partial.maxKeys=1 forces a flush on EVERY key change in
    // every partial task — the worst case for the spill valve. The memory
    // model: the partial stage may emit a key's <=k batch multiple times
    // (once per residency window); the Final stage re-reduces, so the
    // result must be bit-identical to the unbounded run and the window form.
    val df = (0 until 2000)
      .map(i => (i % 40L, (i * 7) % 13L, i.toLong))
      .toDF("key", "v", "id")
      .repartition(16)
    spark.conf.set(TopKPerKeyStrategy.MaxKeysConf, "1")
    try {
      val got = TopKPerKey.topK(df, Seq("key"), Seq("v" -> false, "id" -> true), 3)
      assert(sameRows(got, windowTopK(df, 3)))
    } finally spark.conf.unset(TopKPerKeyStrategy.MaxKeysConf)
  }

  test("empty keys = exact GLOBAL top-k, not per-partition k") {
    // round-7 advice: with UnspecifiedDistribution the final stage ran
    // per-partition and an ungrouped top-k could return up to
    // numPartitions*k rows. AllTuples plants the single-partition
    // gather; the answer must be exactly k rows — the global winners.
    val df = (0 until 5000)
      .map(i => (i % 40L, (i * 31) % 1009L, i.toLong))
      .toDF("key", "v", "id")
      .repartition(16)
    val got = TopKPerKey.topK(df, Seq.empty, Seq("v" -> false, "id" -> true), 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val want = (0 until 5000).map(i => ((i * 31L) % 1009L, i.toLong))
      .sortBy(t => (-t._1, t._2)).take(5).toSet
    assert(got == want)
    assert(got.size == 5)
  }

  test("SQL metrics: partial stage reports shuffle reduction and flush count") {
    val df = (0 until 2000)
      .map(i => (i % 40L, (i * 7) % 13L, i.toLong))
      .toDF("key", "v", "id")
      .repartition(8)
    def run(bound: Option[String]): (Long, Long) = {
      bound.foreach(b => spark.conf.set(TopKPerKeyStrategy.MaxKeysConf, b))
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val q = TopKPerKey.topK(df, Seq("key"), Seq("v" -> false, "id" -> true), 3)
        q.collect() // execute THIS plan instance (count() would plan its own)
        val partial = q.queryExecution.executedPlan.collect {
          case p: PartialTopKPerKeyExec => p
        }.head
        (partial.metrics("numOutputRows").value,
          partial.metrics("numFlushes").value)
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.unset(TopKPerKeyStrategy.MaxKeysConf)
      }
    }
    val (rowsUnbounded, flushesUnbounded) = run(None)
    // shuffle reduction: partial emits <= splits(8) x keys(40) x k(3)
    assert(rowsUnbounded > 0 && rowsUnbounded <= 8L * 40 * 3,
      s"partial emitted $rowsUnbounded rows")
    assert(flushesUnbounded == 0, "no flushes without a tight bound")
    val (_, flushesBounded) = run(Some("1"))
    assert(flushesBounded > 0, "a 1-entry bound must record its flushes")
  }

  test("window-form auto-rewrite: row_number()<=k plans as the heap operator") {
    // make sure the strategy is registered in this session
    TopKPerKey.topK(Seq((1L, 1L, 1L)).toDF("key", "v", "id"),
      Seq("key"), Seq("v" -> false, "id" -> true), 1).collect()
    val rows = (0 until 2000).map(i => (i % 40L, (i * 7) % 13L, i.toLong))
    val df = rows.toDF("key", "v", "id").repartition(16)
    def windowForm(df: DataFrame) = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("v").desc, col("id"))))
      .filter(col("rn") <= 3).drop("rn")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = windowForm(df)
      val plan = q.queryExecution.executedPlan
      assert(plan.exists { case _: FinalTopKPerKeyExec => true; case _ => false },
        s"the window spelling must auto-plan as the heap operator:\n$plan")
      assert(!plan.exists {
        case _: org.apache.spark.sql.execution.window.WindowExec => true
        case _ => false
      }, "no WindowExec may remain after the rewrite")
      // identical rows to the un-rewritten form: a session without the
      // extensions has no strategy and plans the window
      val bare = bareSession()
      bare.conf.set("spark.sql.adaptive.enabled", "false")
      val off = windowForm(
        bare.createDataFrame(rows).toDF("key", "v", "id").repartition(16))
      assert(off.queryExecution.executedPlan.exists {
        case _: org.apache.spark.sql.execution.window.WindowExec => true
        case _ => false
      }, "a session without the strategy must keep the window plan")
      // collected apart: planned in one session, `off` would be rewritten
      def rowsOf(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
      assert(rowsOf(q) == rowsOf(off))
      // rn = 1 (the argmax spelling) also fires
      val arg = df.withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("v").desc, col("id"))))
        .filter(col("rn") === 1).drop("rn")
      assert(arg.queryExecution.executedPlan.exists {
        case f: FinalTopKPerKeyExec => f.k == 1
        case _ => false
      }, "rn===1 must plan as k=1")
      // a query that KEEPS rn must not rewrite (the heap has no rank)
      val keeps = df.withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("v").desc, col("id"))))
        .filter(col("rn") <= 3)
      assert(!keeps.queryExecution.executedPlan.exists {
        case _: FinalTopKPerKeyExec => true
        case _ => false
      }, "rn in the output needs the real window")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("a non-classic session gets an actionable diagnostic, not a ClassCastException") {
    val msg = org.apache.spark.sql.GraftSqlBridge
      .notClassicMessage("org.apache.spark.sql.connect.SparkSession")
    assert(msg.contains("classic"))
    assert(msg.contains("Connect"))
    assert(msg.contains("fallback"))
  }
}
