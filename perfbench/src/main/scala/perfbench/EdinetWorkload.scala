package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.edinet.{ArchiveExtract, CompanyMaster, Model, Pipeline, Sink}
import graft.ingest.{EdinetClient, HttpTransport}
import graft.ingest.EdinetClient.{DocMeta, Transport}

/** The paper's batch job over a seeded EDINET corpus served on loopback:
  * list → master filter → download → extractBest → land files →
  * transform → CSV. A pass is one op, one run of the whole job, like the
  * reference's single run; its CSV must equal the corpus's ground truth.
  *
  * Pacing is unlimited and the retry delay is 0: both are deployment
  * settings, and with real values ingest time would mostly be sleep. */
final class EdinetWorkload(seed: Long, params: EdinetCorpus.Params = EdinetCorpus.Params())
    extends Workload {

  val name = "edinet_etl"
  private val corpus = EdinetCorpus.generate(seed, params)
  private val server = new EdinetServer(corpus,
    math.min(4, Runtime.getRuntime.availableProcessors))

  def describe: Map[String, Any] = Map(
    "scale" -> params.scale, "companies" -> params.companies, "days" -> params.days,
    "download_limit" -> params.downloadLimit, "docs_listed" -> corpus.docsListed,
    "targets_listed" -> corpus.targetsListed, "archives" -> corpus.archives.size,
    "transient_503" -> corpus.transient.size, "rows_expected" -> corpus.expected.size)

  def pass(spark: SparkSession, passNo: Int, dir: Path, tracer: Tracer): Seq[Op] = {
    server.reset()
    val master = dir.resolve("EdinetcodeDlInfo.csv")
    Files.createDirectories(dir)
    Files.write(master, corpus.masterCsv)
    Seq(tracer.op("job", passNo)(o => job(spark, master.toString, dir.resolve("job"), tracer, o)))
  }

  def headline(ops: Seq[Op], seconds: Double): (String, Double, String) =
    ("docs_per_s", ops.map(_.counters.getOrElse("ingest.docs", 0.0)).sum / seconds, "1/s")

  override def close(): Unit = server.close()

  private val archiveSchema = StructType(Seq(
    StructField("zip", BinaryType), StructField("edinetCode", StringType),
    StructField("submitYmd", StringType), StructField("docTypeCode", StringType),
    StructField("ext", StringType)))

  private def job(spark: SparkSession, master: String, dir: Path, tracer: Tracer, o: Op): Unit = {
    val transport = new CountingTransport(new HttpTransport(server.baseUrl, EdinetCorpus.ApiKey), o)
    val cfg = EdinetClient.Config(requestsPerSecond = Double.PositiveInfinity, maxRetries = 3,
      retryDelayMs = 0, sleeper = ms => { o.add("ingest.sleep_s", ms / 1e3); Thread.sleep(ms) })
    val limiter = new EdinetClient.RateLimiter(cfg.requestsPerSecond, cfg.sleeper)

    val listed = tracer.call(o, "ingest.list")(
      EdinetClient.documentsByDateRange(transport, cfg, params.start, params.end, limiter))
    val codes = tracer.call(o, "edinet.master")(
      CompanyMaster.load(spark, master).select(Model.MasterCols.EdinetCode)
        .collect().map(_.getString(0)).toSet)
    val targets = listed.filter(d => codes(d.edinetCode) && Model.targetDocTypes.contains(d.docTypeCode))
    val fetched = tracer.call(o, "ingest.fetch")(
      EdinetClient.downloadDocuments(transport, cfg, targets, Some(params.downloadLimit), limiter))
    o.add("ingest.docs", fetched.size)

    val extracted = tracer.call(o, "edinet.extract") {
      val rows = fetched.map { case (d, ext, bytes) =>
        Row(bytes, d.edinetCode, d.submitDateTime.take(10).replace("-", ""), d.docTypeCode, ext)
      }
      ArchiveExtract.extractBest(spark, spark.createDataFrame(rows.asJava, archiveSchema))
        .select("path", "content").collect()
    }
    val files = dir.resolve("files")
    tracer.call(o, "edinet.land") {
      Files.createDirectories(files)
      extracted.foreach(r => Files.write(files.resolve(r.getString(0)), r.getAs[Array[Byte]](1)))
    }
    o.add("edinet.files_landed", extracted.length)

    val out = dir.resolve("out")
    val result = tracer.call(o, "edinet.transform")(Pipeline.transform(spark, master, files.toString))
    tracer.call(o, "edinet.sink")(Sink.writeCsv(result, out.toString, "japan_company_data"))

    val csvs = Option(out.resolve("japan_company_data").toFile.listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".csv"))
    val got = csvs.flatMap(f => EdinetWorkload.parseCsv(Files.readString(f.toPath, StandardCharsets.UTF_8)).drop(1))
      .sortBy(_.mkString("\u0000"))
    o.add("edinet.rows_out", got.size)
    o.add("edinet.files_parsed", got.map(_(1)).distinct.size)
    o.add("edinet.csv_mb", csvs.map(_.length).sum / (1024.0 * 1024.0))
    val want = corpus.expected
    if (got != want) {
      val missing = want.diff(got).take(3)
      val extra = got.diff(want).take(3)
      throw new WrongOutput(s"${got.size} rows, expected ${want.size}; " +
        s"missing ${missing.map(_.mkString("|"))}, unexpected ${extra.map(_.mkString("|"))}")
    }
  }
}

object EdinetWorkload {

  /** RFC 4180 fields of a CSV text: quoted fields may hold commas,
    * doubled quotes and newlines. */
  def parseCsv(text: String): Seq[Seq[String]] = {
    val rows = Seq.newBuilder[Seq[String]]
    var row = Vector.empty[String]
    val field = new StringBuilder
    var quoted = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < text.length && text.charAt(i + 1) == '"') { field += '"'; i += 1 }
        else if (c == '"') quoted = false
        else field += c
      } else c match {
        case '"' => quoted = true
        case ',' => row :+= field.toString; field.clear()
        case '\n' => rows += (row :+ field.toString); row = Vector.empty; field.clear()
        case '\r' =>
        case other => field += other
      }
      i += 1
    }
    if (field.nonEmpty || row.nonEmpty) rows += (row :+ field.toString)
    rows.result()
  }
}

/** Counts every HTTP attempt the client makes: calls, latency, bytes and
  * failed attempts (each is retried, since the corpus fails a request
  * only once). */
final class CountingTransport(inner: Transport, o: Op) extends Transport {

  def listDocuments(date: java.time.LocalDate): Try[Seq[DocMeta]] = {
    val r = inner.listDocuments(date)
    o.add("ingest.list_calls", 1)
    if (r.isFailure) o.add("ingest.retries", 1)
    r
  }

  def fetchDocument(docId: String, fetchType: Int): Try[Array[Byte]] = {
    val t0 = System.nanoTime()
    val r = inner.fetchDocument(docId, fetchType)
    o.sample("ingest.fetch_ms", (System.nanoTime() - t0) / 1e6)
    o.add("ingest.fetch_calls", 1)
    r match {
      case Success(bytes) => o.add("ingest.fetch_mb", bytes.length / (1024.0 * 1024.0))
      case Failure(_) => o.add("ingest.retries", 1)
    }
    r
  }
}
