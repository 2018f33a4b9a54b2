package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own code: corpus determinism, the
  * ground-truth fold against the real pipeline, the output digest and
  * the percentile helper.
  *
  *   cd perfbench && sbt test
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tiny = EdinetCorpus.Params(scale = 20, companies = 60)
  private val dirs = StateDirs(Files.createTempDirectory("perfbench-spec"))
  private var spark: SparkSession = _

  override def beforeAll(): Unit = spark = Session.start(dirs)
  override def afterAll(): Unit = Session.stop(spark, dirs)

  test("the same seed gives a byte-identical EDINET corpus; another seed does not") {
    def bytes(c: EdinetCorpus.Corpus): Seq[Seq[Byte]] =
      Seq(c.masterCsv.toSeq) ++
        c.lists.toSeq.sortBy(_._1.toString).map(_._2.toSeq) ++
        c.archives.toSeq.sortBy(_._1.toString).flatMap { case (k, v) => Seq(k.toString.getBytes.toSeq, v.toSeq) }
    val a = EdinetCorpus.generate(7, tiny)
    val b = EdinetCorpus.generate(7, tiny)
    assert(bytes(a) == bytes(b))
    assert(a.transient == b.transient && a.expected == b.expected)
    assert(bytes(EdinetCorpus.generate(8, tiny)) != bytes(a))
  }

  test("the ground-truth fold equals what the pipeline writes for a tiny corpus") {
    val wl = new EdinetWorkload(11, tiny)
    try {
      val corpus = EdinetCorpus.generate(11, tiny)
      val expected = corpus.expected
      assert(expected.nonEmpty)
      assert(corpus.targetsListed > tiny.downloadLimit, "the download limit does not bind")
      val ops = wl.pass(spark, 1, dirs.root.resolve("etl"), new Tracer)
      assert(ops.map(_.error) == Seq(None))
      assert(ops.head.counters("edinet.rows_out") == expected.size)
      assert(ops.head.counters("ingest.docs") <= tiny.downloadLimit)
      assert(ops.head.counters("ingest.retries") > 0, "no transient 503 was exercised")
    } finally wl.close()
  }

  test("the digest ignores row order and tells a null apart from its column") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", LongType),
      StructField("s", StringType)))
    def digest(rows: Seq[Row], parts: Int) =
      Digest.of(spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema))
    val rows = (1 to 50).map(i => Row(i.toLong, if (i % 7 == 0) null else i * 3L, s"r$i"))
    val d = digest(rows, 3)
    assert(d.rows == 50)
    assert(digest(scala.util.Random.shuffle(rows), 5) == d)
    assert(Digest.parse(d.toString) == d)
    val moved = Row(null, 1L, "x") +: rows.tail
    val other = Row(1L, null, "x") +: rows.tail
    assert(digest(moved, 2) != digest(other, 2))
    assert(digest(rows.updated(3, Row(4L, 12L, "R4")), 3) != d)
  }

  test("percentile interpolates linearly between closest ranks; op median is per op first") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(Stats.percentile(Seq(15.0, 20.0, 35.0, 40.0, 50.0), 40) == 29.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0) == 1.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 100) == 3.0)
    assert(Stats.median(Seq(5.0)) == 5.0)
    assert(math.abs(Stats.percentile((1 to 101).map(_.toDouble), 99) - 100.0) < 1e-9)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    def op(name: String, wallS: Double) = { val o = new Op(0L, name, 1); o.wallS = wallS; o }
    // per-op medians 2 and 5, then their median
    assert(Stats.opMedian(Seq(op("a", 1), op("a", 9), op("a", 2), op("b", 4), op("b", 6))) == 3.5)
  }

  test("the CSV reader keeps quoted commas and doubled quotes") {
    assert(EdinetWorkload.parseCsv("a,b\r\n\"x, y\",\"say \"\"hi\"\"\"\n") ==
      Seq(Seq("a", "b"), Seq("x, y", "say \"hi\"")))
  }
}
