package graft.queries

import org.apache.spark.sql.functions._

import graft.{Harness, SparkEntry, SparkSpec}

/** Property-style checks for the curation queries on ADVERSARIAL
  * synthetic corpora — shapes the real testdata never exercises
  * (degenerate histograms, extreme skew). */
class CurationPropertySpec extends SparkSpec {

  import spark.implicits._

  /** Stage a documents.parquet with the given (doc_id, text, source)
    * rows; lang/n_chars ride along for schema compatibility. */
  private def stage(rows: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("curation-prop").toString
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  test("q229 cache lifecycle: the persisted projection is freed by the harness clearCache contract") {
    // q229 persists its per-doc bigram-set projection (five plan
    // references — unpersisted, each re-runs the corpus transform;
    // commit c8efd39 measured 14.6 s -> 3.3 s warm at sf0.1). The
    // query cannot unpersist it itself — its caller owns the terminal
    // action — so the contract is the harness one: graft.Harness.run
    // clears the cache after every query, for Bench and Verify alike.
    // This pins both halves: the cache IS populated by the run (the
    // speedup is real, not a stale comment) and the harness leaves NO
    // residue (a leaked entry would accrete executor storage across a
    // 286-query run).
    spark.catalog.clearCache()
    val q229 = "q229_coverage_select"
    val out = Harness.run(spark, Seq(q229 -> SparkEntry.queries(q229)),
      "/root/testdata/sf0.001") { (_, df) =>
      (df.collect().length, spark.sharedState.cacheManager.isEmpty)
    }
    assert(out.failed.isEmpty)
    val Seq((rows, cacheEmptyInRun)) = out.done.map(_.value)
    assert(rows == 2) // two greedy rounds
    assert(!cacheEmptyInRun,
      "the bigram-set projection must be cached during the run")
    assert(spark.sharedState.cacheManager.isEmpty,
      "clearCache must free every q229 cache entry")
  }

  test("q95 histogram refine == q85 full window on degenerate shapes") {
    val shapes = Seq(
      // all docs identical length -> width 1, every rank in bin 0
      "flat" -> (1L to 40L).map(i => (i, Seq.fill(7)("w").mkString(" "), "s")),
      // single doc per source -> every quantile is that one row
      "single" -> Seq((1L, "a b c", "s1"), (2L, "a b c d e", "s2")),
      // bimodal extremes -> nearly-empty middle bins
      "bimodal" -> (1L to 30L).map(i =>
        (i, Seq.fill(if (i % 2 == 0) 2 else 5000)("w").mkString(" "), "s")),
      // strictly monotone lengths across two sources
      "monotone" -> (1L to 50L).map(i =>
        (i, Seq.fill(i.toInt)("w").mkString(" "), s"s${i % 2}")))
    for ((label, rows) <- shapes) {
      val dir = stage(rows)
      val refine = run("q95_quantile_refine", dir).collect().toSet
      val window = run("q85_length_quantiles", dir).collect().toSet
      assert(refine == window, s"shape '$label' diverged")
    }
  }

  test("q94 two-pass heavy hitters == exact threshold set under extreme skew") {
    // one dominant token, a mid tier straddling the N/64 bar, a long tail
    val text = (Seq.fill(2000)("hot") ++ Seq.fill(40)("mid") ++
      (1 to 300).map(i => s"tail$i")).mkString(" ")
    val dir = stage(Seq((1L, text, "s")))
    val got = run("q94_heavy_hitters", dir)
      .select("tok", "cnt").as[(String, Long)].collect().toMap
    val n = 2000 + 40 + 300
    val exact = (Seq("hot" -> 2000L, "mid" -> 40L) ++
      (1 to 300).map(i => s"tail$i" -> 1L))
      .filter { case (_, c) => c * 64 > n }.toMap
    assert(got == exact)
    assert(got.contains("hot") && got.contains("mid") && got.size == 2)
  }

  import graft.functions.Portable

  /** Doc ids landing in hash-half 0 (reference) / 1 (batch) of the
    * q110/q112 split — computed with the same portable hash the
    * queries use, so the test PLACES docs rather than guessing. */
  private def idsInHalf(h: Int, n: Int, from: Long = 1L): Seq[Long] =
    Iterator.iterate(from)(_ + 1)
      .filter(i => Portable.pmd5Local(s"d:$i") % 2 == h).take(n).toSeq

  test("q110 novelty: identical batch scores 0 bp, disjoint batch 10000 bp") {
    val Seq(a1, a2) = idsInHalf(0, 2)
    val Seq(b1, b2, b3) = idsInHalf(1, 3)
    val ref = "alpha beta gamma delta epsilon"
    val dir = stage(Seq(
      (a1, ref, "refsrc"), (a2, "zeta eta theta iota", "refsrc"),
      (b1, ref, "copy"),                      // every gram seen in A
      (b2, "nu xi omicron pi rho", "fresh"),  // no gram seen in A
      (b3, "x y", "tiny")))                   // < 3 tokens: no grams
    val got = run("q110_novelty_rate", dir)
      .select("source", "novelty_bp").as[(String, Long)].collect().toMap
    assert(got == Map("copy" -> 0L, "fresh" -> 10000L),
      s"unexpected novelty rows: $got") // 'tiny' emits no row
  }

  test("q112 fluency: all-OOV scores 0; all-top-token scores (tier+1)*1000") {
    val Seq(a1) = idsInHalf(0, 1)
    val Seq(b1, b2) = idsInHalf(1, 2)
    // reference: 'w' appears 8 times -> tier floor(log2 8) = 3
    val dir = stage(Seq(
      (a1, Seq.fill(8)("w").mkString(" "), "ref"),
      (b1, "w w w w w", "common"),
      (b2, "q1 q2 q3", "oov")))
    val got = run("q112_rank_fluency", dir)
      .select("source", "fluency_milli").as[(String, Long)].collect().toMap
    assert(got == Map("common" -> 4000L, "oov" -> 0L), s"got $got")
  }

  test("q113 drift: opposite-bin hours score 20000 bp; gaps emit nothing") {
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(hourOff: Int, m: Int) =
      new java.sql.Timestamp(h0.getTime + hourOff * 3600000L + m * 60000L)
    val rows =
      (1 to 10).map(i => (i.toLong, at(0, i), 1L, "x", 5.0, "{}")) ++      // bin 0
        (1 to 10).map(i => (100L + i, at(1, i), 1L, "x", 150.0, "{}")) ++  // bin 7
        (1 to 10).map(i => (200L + i, at(4, i), 1L, "x", 5.0, "{}"))       // gap
    val dir = java.nio.file.Files.createTempDirectory("drift-prop").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = run("q113_hourly_drift", dir)
      .select("event_type", "hr", "n", "prev_n", "drift_bp")
      .as[(String, java.sql.Timestamp, Long, Long, Long)].collect().toSet
    // only the consecutive pair (hour 0 -> 1) emits; total bin swap =
    // |0-10000| + |10000-0| = 20000; the hour-4 resumption has no
    // hour-3 predecessor
    assert(got == Set(("x", at(1, 0), 10L, 10L, 20000L)), s"got $got")
  }
}
