package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BPE merge semantics pinned against an independent Scala reference
  * (greedy left-to-right non-overlapping, scan continuing after each
  * match — the Sennrich reference behavior), exhaustively over every
  * short symbol sequence, plus a hand-computed trainer fixture. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** The reference implementation, written as the paper describes it
    * (imperative scan), independent of the closed form under test. */
  private def refMerge(l: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < l.length) {
      if (i + 1 < l.length && l(i) == a && l(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += l(i); i += 1 }
    }
    out.toSeq
  }

  test("mergeOnce == the reference greedy scan for EVERY sequence of " +
      "length <= 6 over {x, y}, for a self-pair and both cross pairs") {
    val seqs = (1 to 6).flatMap { n =>
      (0 until math.pow(2, n).toInt).map { bits =>
        (0 until n).map(k => if ((bits >> k & 1) == 0) "x" else "y")
      }
    }
    for (pair <- Seq(("x", "x"), ("x", "y"), ("y", "x"))) {
      val got = seqs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "l")
        .select(col("id"), Bpe.mergeOnce(col("l"), pair._1, pair._2).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      seqs.zipWithIndex.foreach { case (s, i) =>
        val want = refMerge(s, pair._1, pair._2)
        assert(got(i.toLong) == want,
          s"pair $pair on $s: got ${got(i.toLong)}, want $want")
      }
    }
  }

  test("trainMerges learns the hand-computed table and tokenizedVocab " +
      "replays it; ties break (count desc, pair asc)") {
    // vocab: aaab x3, ab x1. Round 1: (a,a)=6 beats (a,b)=4.
    // Round 2: (a,b)=4 beats (aa,a)=3. Round 3: (aa,ab)=3. Then dry.
    val docs = Seq((1L, "aaab aaab"), (2L, "aaab ab"))
      .toDF("doc_id", "text")
    val learned = Bpe.trainMerges(docs, "text", rounds = 8)
    assert(learned == Seq((1, "a", "a", 6L), (2, "a", "b", 4L),
      (3, "aa", "ab", 3L)),
      s"learned $learned")
    val tv = Bpe.tokenizedVocab(docs, "text",
        learned.map(m => (m._2, m._3)))
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(tv == Map("aaab" -> Seq("aaab"), "ab" -> Seq("ab")))
    spark.catalog.clearCache()
  }

  test("single-character words survive every stage (no pairs, no rows " +
      "in the pair table, form unchanged)") {
    val docs = Seq((1L, "a a bc")).toDF("doc_id", "text")
    val learned = Bpe.trainMerges(docs, "text", rounds = 2)
    // round 1: only pair is (b, c) with count 1
    assert(learned.head == ((1, "b", "c", 1L)), s"got $learned")
    val tv = Bpe.tokenizedVocab(docs, "text", learned.map(m => (m._2, m._3)))
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(tv("a") == Seq("a") && tv("bc") == Seq("bc"))
    spark.catalog.clearCache()
  }

  /** Sennrich et al. (2016) algorithm 1 in plain Scala over a
    * (word, frequency) vocabulary: pair counts, the top pair under
    * (count desc, left asc, right asc), greedy left-to-right merge;
    * stops when no pair occurs twice. */
  private def referenceMerges(vocab: Map[String, Long],
      nMerges: Int): Seq[(String, String, Long)] = {
    var words: Seq[(Seq[String], Long)] =
      vocab.toSeq.map { case (w, f) => w.map(_.toString) -> f }
    var merges = Vector.empty[(String, String, Long)]
    var done = false
    while (merges.size < nMerges && !done) {
      val counts = words.flatMap { case (sym, f) =>
          sym.zip(sym.tail).map(_ -> f) }
        .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 >= 2)
      if (counts.isEmpty) done = true
      else {
        val ((a, b), n) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges :+= ((a, b, n))
        words = words.map { case (sym, f) => refMerge(sym, a, b) -> f }
      }
    }
    merges
  }

  // the classic low/lower/newest/widest vocabulary
  test("trainMerges == the Sennrich reference on the classic vocabulary") {
    val vocab = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L)
    val docs = vocab.toSeq.zipWithIndex.map { case ((w, f), i) =>
      (i.toLong, Seq.fill(f.toInt)(w).mkString(" ")) }.toDF("doc_id", "text")
    val got = Bpe.trainMerges(docs, "text", rounds = 8)
      .map { case (_, a, b, n) => (a, b, n) }
    assert(got == referenceMerges(vocab, 8))
    spark.catalog.clearCache()
  }

  test("the first trained merge on the corpus is q90's rank-1 pair") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (_, a, b, n) = Bpe.trainMerges(docs, "text", rounds = 1).head
    val q90 = graft.SparkEntry
      .queries("q90_bpe_first_merge")(spark, "/root/testdata/sf0.001")
      .filter(col("rnk") === 1)
      .select(col("pair"), col("n")).as[(String, Long)].head()
    assert((a + b, n) == q90)
    spark.catalog.clearCache()
  }
}
