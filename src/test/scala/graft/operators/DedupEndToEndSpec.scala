package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Full near-dup pipeline over a corpus with PLANTED duplicates (the
  * testdata has none exact and few near): signature -> bands -> LSH
  * candidates -> verify -> drop. */
class DedupEndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"

  // 0: original; 1: exact copy; 2: one word changed (near-dup);
  // 3: unrelated; 4: half the words (not a near-dup at 0.7)
  private lazy val corpus = Seq(
    (0L, base),
    (1L, base),
    (2L, base.replace("warm", "cold")),
    (3L, "completely different content about spark partitions and shuffle behavior at scale"),
    (4L, base.split(" ").take(9).mkString(" "))
  ).toDF("doc_id", "text")

  test("exact dedup keeps one representative per distinct text") {
    val out = Dedup.exact(corpus, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    assert(out(0L) == 2L)         // docs 0 and 1 collapse, min id kept
    assert(out.values.sum == 5L)
    assert(out.size == 4)
  }

  test("minhash LSH surfaces the exact and near duplicates, verify filters") {
    val sig = Dedup.minhashSignature(corpus, "text", k = 16, shingleLen = 3)
    val bands = Dedup.bandKeys(sig, k = 16, rowsPerBand = 4)
    val cands = Dedup.lshCandidates(bands, "doc_id", nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)), "exact copies must share every band")
    assert(cands.contains((0L, 2L)) || cands.contains((1L, 2L)),
      "one-word edit should collide in at least one band")

    val sets = corpus.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("ts"))
    val verified = cands.toSeq.toDF("id_a", "id_b")
      .join(sets.select(col("doc_id").as("id_a"), col("ts").as("ts_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("ts").as("ts_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Dedup.jaccard(col("ts_a"), col("ts_b")).as("j"))
      .filter(col("j") >= 0.7)
    val pairs = verified.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")

    val cleaned = Dedup.dropNearDuplicates(corpus, "doc_id",
      verified.select("id_a", "id_b"))
    val kept = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(1L) && kept.contains(0L), "min-id representative survives")
    assert(kept.contains(3L) && kept.contains(4L))
  }

  test("prefix-filter ssjoin finds planted dups and dominates LSH (exact-complete)") {
    spark.catalog.clearCache()
    val pp = Dedup.prefixFilterPairs(corpus, "text", "doc_id", tNum = 7, tDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pp.contains((0L, 1L)), "exact copies must pair")
    assert(pp.contains((0L, 2L)) && pp.contains((1L, 2L)), "one-word edit is J>=0.7")
    assert(!pp.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc excluded")

    // on the real corpus at the q28 threshold: prefix filtering is
    // exact-complete, so every LSH-found pair must also be found here
    val docs = graft.queries.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val prefixPairs = Dedup.prefixFilterPairs(docs, "text", "doc_id", 4, 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.bandKeys(
      Dedup.minhashSignature(docs, "text", 16, 3), 16, 4)
    val lshPairs = Dedup.lshCandidates(banded, "doc_id", 4)
      .join(docs.select(col("doc_id").as("id_a"),
        array_distinct(split(col("text"), " ")).as("ts_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"),
        array_distinct(split(col("text"), " ")).as("ts_b")), "id_b")
      .filter(Dedup.jaccard(col("ts_a"), col("ts_b")) * 5 >= 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshPairs.subsetOf(prefixPairs),
      s"LSH found pairs prefix filtering missed: ${lshPairs -- prefixPairs}")
    spark.catalog.clearCache()
  }

  test("simhash hamming pairs: exact copy found at distance 0, unrelated doc excluded") {
    val sigs = corpus.select(col("doc_id"),
      Dedup.simhash(spark, col("text")).as("sig"))
    val pairs = Dedup.simhashHammingPairs(sigs, "doc_id", "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((0L, 1L)).contains(0), "exact copies share every bit")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair at Hamming <= 3")
    // completeness only holds when maxHamming < bands (pigeonhole)
    intercept[IllegalArgumentException] {
      Dedup.simhashHammingPairs(sigs, "doc_id", "sig", maxHamming = 4, bands = 4)
    }
  }

  test("connected components: chains, shuffled edge order, isolated pair") {
    // 1-2-3-4 chain (no 1~3/1~4/2~4 edges), 7-8 pair, order scrambled
    val pairs = Seq((3L, 4L), (1L, 2L), (7L, 8L), (2L, 3L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("long chain converges (log-round contraction, not diameter-bound)") {
    val n = 40
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == n)
    assert(comps.values.forall(_ == 1L))
  }

  test("connected components: maxIter=1 throws by default (strict), " +
      "best-effort only when explicitly requested") {
    val pairs = (1 until 40).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    // strict default: unconverged labels would silently under-dedup
    // downstream, so the fixpoint failure must surface
    intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 1).collect()
    }
    val comps = Dedup.connectedComponents(pairs, maxIter = 1,
        failOnNonConvergence = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.nonEmpty, "best-effort result expected, not an exception")
    assert(comps.values.forall(c => c >= 1L && c <= 40L))
  }

  test("connected components: loop holds at most two cached edge sets " +
      "and leaves exactly one for the caller") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    // 40-node chain needs several contraction rounds — the round-3 leak
    // (no-op unpersist of the truncated wrapper) left one cached edge
    // set PER ROUND here; the fix leaves exactly the final one
    val pairs = (1 until 40).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, maxIter = 10)
    assert(comps.count() == 40)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before == 1,
      s"expected exactly 1 cached edge set after return, got ${after - before}")
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("connected components: checkpoint dir holds at most two rounds " +
      "of files during the loop") {
    def rddDirs(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      java.nio.file.Files.walk(p).forEach { q =>
        if (java.nio.file.Files.isDirectory(q) &&
          q.getFileName.toString.startsWith("rdd-")) out += q
      }
      out.toSeq
    }
    // samples the directory as each job ends: a round left behind
    // shows as a third rdd-* directory while the loop still runs
    def peakRounds(dir: String)(body: => Unit): Int = {
      val peak = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          // a walk racing the loop's own deletes may fail: skip that sample
          scala.util.Try(rddDirs(java.nio.file.Paths.get(dir)).size)
            .foreach(n => peak.accumulateAndGet(n, math.max))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try body finally spark.sparkContext.removeSparkListener(listener)
      peak.get
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-gc").toString
    val pairs = (1 until 40).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val ccPeak = peakRounds(dir) {
      val comps = Dedup.connectedComponents(pairs, maxIter = 10,
        checkpointDir = Some(dir))
      assert(comps.count() == 40)
    }
    // per-round cleanup: everything but the final round's rdd-* files
    // must be gone (each round deletes its predecessor once the
    // successor is safely on disk)
    val remaining = rddDirs(java.nio.file.Paths.get(dir))
    assert(remaining.size == 1,
      s"expected only the final round's checkpoint on disk, got $remaining")
    assert(ccPeak <= 2, s"$ccPeak rounds of checkpoint files seen at once")
    // one more loop on the same reliable path: pageRank cutting every
    // round over the same chain, in a directory of its own
    val prDir = java.nio.file.Files.createTempDirectory("graft-pr-gc").toString
    try {
      val prPeak = peakRounds(prDir) {
        assert(Graph.pageRank(pairs, iters = 6, truncateEvery = 1,
          checkpointDir = Some(prDir)).count() == 40)
      }
      assert(rddDirs(java.nio.file.Paths.get(prDir)).size == 1,
        "only pageRank's final cut may remain on disk")
      assert(prPeak <= 2, s"$prPeak pageRank rounds of files seen at once")
    } finally {
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(prDir))
    }
  }

  test("connected components: reliable checkpoint dir gives identical labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val pairs = Seq((3L, 4L), (1L, 2L), (7L, 8L), (2L, 3L)).toDF("id_a", "id_b")
    val viaPersist = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCheckpoint = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaCheckpoint == viaPersist)
  }

  test("dropNearDuplicates collapses a planted A~B~C chain to one representative") {
    val chainDocs = Seq(
      (10L, "a"), (11L, "b"), (12L, "c"), (20L, "standalone")
    ).toDF("doc_id", "text")
    // B bridges A and C; A and C share no edge
    val edges = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(chainDocs, "doc_id", edges)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 20L), s"chain must collapse to min id; got $kept")
  }

  test("empty pair set is a no-op") {
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.dropNearDuplicates(corpus, "doc_id", none).count() == 5)
  }
}
