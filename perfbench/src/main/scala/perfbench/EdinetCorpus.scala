package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.Charset
import java.time.LocalDate
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

/** A seeded synthetic EDINET corpus in the formats the real service and
  * files use, plus the output the ETL job must produce for it.
  *
  * Its shape is the reference job's, scaled down: the reference lists
  * every day of 2024 (366 list calls) and downloads the first
  * COMPANIES_TO_GET = 1000 target documents; this corpus lists
  * ceil(366 / scale) days from 2024-01-01 and the job downloads the first
  * 1000 / scale. It holds:
  *
  *  - a cp932 company master with listed/consolidated rows that are kept,
  *    and unlisted, non-consolidated and null-name rows that are dropped;
  *    some codes appear twice, and the first kept row of a code wins;
  *  - one document list per day (empty on weekends) mixing target
  *    (120 annual, 130 correction) and other types, CSV and XBRL flags,
  *    docs of companies missing from the master, and corrections that
  *    must win over the annual report; more target docs are listed than
  *    the job downloads, so the download limit binds;
  *  - one ZIP per downloadable document holding the statement as its
  *    largest member next to smaller decoys of the same extension; a
  *    seeded share of archives are corrupt;
  *  - a seeded set of requests whose first attempt gets HTTP 503.
  *
  * The expected output is folded from the series the generator planted,
  * by the rules the pipeline documents: master filter then first row per
  * code, target types only, the first `downloadLimit` of them in list
  * order, CSV over XBRL, corrupt archives skipped, the last correction or
  * else the first annual report per company, the first five revenue rows
  * of the winning file, unknown contexts and non-integer values skipped.
  * NOTES.md gives the source or the reason for every share used here. */
object EdinetCorpus {

  /** The reference job: list calls and downloads of one run. */
  val ReferenceDays = 366
  val ReferenceDownloads = 1000

  /** `companies` master rows; the listed range and the download limit are
    * the reference job's divided by `scale`. */
  final case class Params(scale: Int = 2, companies: Int = 2000,
      start: LocalDate = LocalDate.of(2024, 1, 1)) {
    val days: Int = (ReferenceDays + scale - 1) / scale
    val downloadLimit: Int = ReferenceDownloads / scale
    def end: LocalDate = start.plusDays((days - 1).toLong)
  }

  /** One output row: year, companyname, industryclassification,
    * geonameen, revenue, revenue_unit. */
  type OutRow = Seq[String]

  final case class Corpus(
      params: Params,
      masterCsv: Array[Byte],
      lists: Map[LocalDate, Array[Byte]],
      archives: Map[(String, Int), Array[Byte]],
      transient: Set[String],
      expected: Seq[OutRow],
      docsListed: Int,
      targetsListed: Int)

  val Cp932: Charset = Charset.forName("windows-31j")
  val ApiKey = "perfbench-key"

  private val industries = Seq("Construction", "Foods", "Retail Trade", "Chemicals",
    "Electric Appliances", "Information & Communication", "Banks", "Machinery",
    "Transportation Equipment", "Services")
  private val jaNames = Seq("日本", "東洋", "大和", "中央", "北海", "関西", "富士", "昭和")
  private val revenueElements = Seq(
    "jpcrp_cor:NetSalesSummaryOfBusinessResults",
    "jpcrp_cor:RevenueIFRSSummaryOfBusinessResults",
    "jpcrp_cor:OperatingRevenue1SummaryOfBusinessResults",
    "jpcrp_cor:NetSalesOfCompletedConstructionContractsSummaryOfBusinessResults")
  private val otherElements = Seq(
    "jpcrp_cor:OrdinaryIncomeLossSummaryOfBusinessResults",
    "jpcrp_cor:ProfitLossAttributableToOwnersOfParentSummaryOfBusinessResults",
    "jpcrp_cor:NetAssetsSummaryOfBusinessResults",
    "jpcrp_cor:TotalAssetsSummaryOfBusinessResults",
    "jpcrp_cor:NumberOfEmployees")
  private val contexts = Seq("CurrentYearDuration", "Prior1YearDuration",
    "Prior2YearDuration", "Prior3YearDuration", "Prior4YearDuration")
  private val offsets = contexts.zip(Seq(0, -1, -2, -3, -4)).toMap
  private val UnknownContext = "Prior2YearDuration_NonConsolidatedMember"
  private val NotANumber = "－"
  private val TargetTypes = Set("120", "130")
  /** Corrections follow their annual report within this many weekdays. */
  private val CorrectionWindow = 15

  private final case class Company(code: String, listed: Boolean, consolidated: Boolean,
      nameEn: Option[String], industry: String, nameJa: String)

  /** A planted statement: fiscal-year end, revenue element, and the
    * revenue rows in file order (context, value). */
  private final case class Statement(fyEnd: String, element: String,
      series: Seq[(String, String)]) {
    def rows: Seq[(Int, Long)] = series.take(5).flatMap { case (ctx, v) =>
      for (off <- offsets.get(ctx); rev <- v.toLongOption)
        yield (fyEnd.take(4).toInt + off, rev)
    }
  }

  private final case class Doc(id: String, code: String, docType: String, day: LocalDate,
      time: String, csv: Boolean, xbrl: Boolean, statement: Option[Statement],
      corrupt: Boolean) {
    def ext: Option[String] = if (csv) Some("csv") else if (xbrl) Some("xbrl") else None
    def ymd: String = day.toString.replace("-", "")
  }

  def generate(seed: Long, p: Params = Params()): Corpus = {
    val rng = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))

    val companies = (0 until p.companies).map { i =>
      val r = rng.nextDouble()
      Company(f"E${10001 + i}%05d", listed = r >= 0.10, consolidated = r < 0.10 || r >= 0.18,
        nameEn = if (r >= 0.18 && r < 0.24) None else Some(f"Nihon Company $i%04d Co., Ltd."),
        industry = pick(industries), nameJa = s"${pick(jaNames)}工業$i")
    }
    // second rows for some codes: listed or not, they never replace the first kept row
    val duplicates = companies.filter(_ => rng.nextDouble() < 0.04).map { c =>
      c.copy(listed = rng.nextBoolean(), consolidated = true,
        nameEn = Some(s"${c.nameEn.getOrElse("Renamed")} (old)"), industry = pick(industries))
    }
    val masterRows = companies ++ duplicates
    val kept: Map[String, Company] = masterRows
      .filter(c => c.listed && c.consolidated && c.nameEn.nonEmpty)
      .foldLeft(Map.empty[String, Company])((m, c) => if (m.contains(c.code)) m else m + (c.code -> c))

    val days = (0 until p.days).map(d => p.start.plusDays(d.toLong))
    val weekdays = days.filter(_.getDayOfWeek.getValue <= 5)
    val docs = mutable.ArrayBuffer.empty[Doc]
    var nextId = 0
    def statement(): Statement = {
      val base = 10000L + rng.nextInt(900000)
      val series = contexts.zipWithIndex.map { case (ctx, i) =>
        ctx -> ((base * (100 - 3 * i) / 100) * 1000000L).toString
      }
      val planted = rng.nextDouble() match {
        case r if r < 0.10 => series.updated(rng.nextInt(5), (UnknownContext, series.head._2))
        case r if r < 0.18 => series.updated(rng.nextInt(5), (series(rng.nextInt(5))._1, NotANumber))
        case _ => series
      }
      val extra = if (rng.nextDouble() < 0.10) Seq("CurrentYearDuration" -> "999") else Nil
      Statement(s"${2023 + rng.nextInt(2)}${pick(Seq("-03-31", "-12-31"))}",
        pick(revenueElements), planted ++ extra)
    }
    def doc(code: String, docType: String, day: LocalDate, target: Boolean): Doc = {
      nextId += 1
      val fmt = rng.nextDouble()
      val (csv, xbrl) =
        if (fmt < 0.75) (true, rng.nextBoolean()) else if (fmt < 0.95) (false, true) else (false, false)
      Doc(f"S100$nextId%05d", code, docType, day, f"${9 + rng.nextInt(8)}%02d:${rng.nextInt(60)}%02d",
        csv, xbrl, if (target) Some(statement()) else None, corrupt = rng.nextDouble() < 0.04)
    }
    val filers = companies.map(_.code) ++ (0 until p.companies / 16).map(i => f"E${90001 + i}%05d")
    filers.foreach { code =>
      if (rng.nextDouble() < 0.85) {
        val first = rng.nextInt(weekdays.size - 1)
        docs += doc(code, "120", weekdays(first), target = true)
        val later = rng.shuffle(weekdays.indices.slice(first + 1, first + 1 + CorrectionWindow).toList)
        val nCorr = rng.nextDouble() match { case r if r < 0.65 => 0; case r if r < 0.93 => 1; case _ => 2 }
        later.take(nCorr).foreach(d => docs += doc(code, "130", weekdays(d), target = true))
        if (rng.nextDouble() < 0.10) later.drop(nCorr).headOption
          .foreach(d => docs += doc(code, "120", weekdays(d), target = true))
        if (rng.nextDouble() < 0.40)
          docs += doc(code, pick(Seq("140", "160", "350")), weekdays(rng.nextInt(weekdays.size)), target = false)
      }
    }

    val archives = docs.flatMap { d =>
      d.ext.map { ext =>
        val fetchType = if (ext == "csv") 5 else 1
        (d.id, fetchType) -> (d.statement match {
          case Some(s) if !d.corrupt => archive(d, s, ext, rng)
          case _ => ("<html><body>Service error</body></html>" + rng.nextLong()).getBytes("UTF-8")
        })
      }
    }.toMap

    // each day's list in the order it is served; the client keeps it
    val byDay = docs.groupBy(_.day)
    val listed = days.map(day => day -> rng.shuffle(byDay.getOrElse(day, Nil).toList))
    val lists = listed.map { case (day, ds) =>
      val results = ds.zipWithIndex.map { case (d, i) =>
        listEntry(d, i + 1, kept.get(d.code).orElse(companies.find(_.code == d.code)))
      }
      day -> listBody(day, results).getBytes("UTF-8")
    }.toMap

    val requestKeys = days.map(d => s"list:$d") ++ archives.keys.toSeq.sorted.map { case (id, t) => s"doc:$id:$t" }
    val transient = requestKeys.filter(_ => rng.nextDouble() < 0.05).toSet

    val targets = listed.flatMap(_._2).filter(d => kept.contains(d.code) && TargetTypes(d.docType))
    Corpus(p, masterCsv(masterRows), lists, archives, transient,
      expected(targets.take(p.downloadLimit), kept), docs.size, targets.size)
  }

  /** The ETL job's output when it downloads `fetched`, the target docs
    * of kept companies it takes from the lists. */
  private def expected(fetched: Seq[Doc], kept: Map[String, Company]): Seq[OutRow] = {
    val landed = fetched.filter(d => d.ext.nonEmpty && !d.corrupt)
    def seq(d: Doc): Long = d.ymd.toLong * 2 + (if (d.ext.contains("xbrl")) 1 else 0)
    landed.groupBy(_.code).toSeq.flatMap { case (code, ds) =>
      val corrections = ds.filter(_.docType == "130")
      val best = if (corrections.nonEmpty) corrections.maxBy(seq) else ds.minBy(seq)
      val c = kept(code)
      best.statement.get.rows.map { case (year, rev) =>
        Seq(year.toString, c.nameEn.get, c.industry, "Japan", rev.toString, "JPY")
      }
    }.sortBy(_.mkString("\u0000"))
  }

  private def masterCsv(rows: Seq[Company]): Array[Byte] = {
    val header = Seq("EDINET Code", "Type of Submitter", "Listed company / Unlisted company",
      "Consolidated / NonConsolidated", "Capital stock", "account closing date",
      "Submitter Name", "Submitter Name（alphabetic）", "Submitter Name（phonetic）",
      "Province", "Submitter's industry", "Securities Identification Code",
      "Submitter's Japan Corporate Number")
    def q(s: String) = "\"" + s + "\""
    val lines = rows.zipWithIndex.map { case (c, i) =>
      Seq(q(c.code), q("内国法人・組合"),
        q(if (c.listed) "Listed company" else "Unlisted company"),
        q(if (c.consolidated) "Consolidated" else "NonConsolidated"),
        q((100 + i).toString), q("3.31"), q(c.nameJa), c.nameEn.map(q).getOrElse(""),
        q("カブシキガイシャ"), q("東京都"), q(c.industry), q(f"${1300 + i}%04d0"),
        q(f"${1000000000000L + i}%013d")).mkString(",")
    }
    (header.map(q).mkString(",") +: lines).mkString("", "\r\n", "\r\n").getBytes(Cp932)
  }

  private def listEntry(d: Doc, seqNo: Int, filer: Option[Company]): String = {
    def s(v: String) = Json.quote(v)
    val flag = (b: Boolean) => s(if (b) "1" else "0")
    val fields = Seq(
      "seqNumber" -> seqNo.toString, "docID" -> s(d.id), "edinetCode" -> s(d.code),
      "secCode" -> "null", "JCN" -> "null",
      "filerName" -> filer.map(c => s(c.nameJa)).getOrElse("null"),
      "fundCode" -> "null", "ordinanceCode" -> s("010"), "formCode" -> s("030000"),
      "docTypeCode" -> s(d.docType), "periodStart" -> s("2023-04-01"),
      "periodEnd" -> s("2024-03-31"), "submitDateTime" -> s(s"${d.day} ${d.time}"),
      "docDescription" -> s("有価証券報告書"), "xbrlFlag" -> flag(d.xbrl), "pdfFlag" -> s("1"),
      "attachDocFlag" -> s("0"), "englishDocFlag" -> s("0"), "csvFlag" -> flag(d.csv),
      "legalStatus" -> s("1"))
    fields.map { case (k, v) => s"${s(k)}:$v" }.mkString("{", ",", "}")
  }

  private def listBody(day: LocalDate, results: Seq[String]): String =
    s"""{"metadata":{"title":"提出された書類を把握するためのAPI",""" +
      s""""parameter":{"date":"$day","type":"2"},"resultset":{"count":${results.size}},""" +
      s""""processDateTime":"$day 23:59","status":"200","message":"OK"},""" +
      s""""results":${results.mkString("[", ",", "]")}}"""

  private val Epoch = 1717200000000L // fixed entry times keep archives byte-identical

  private def zip(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    members.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTime(Epoch)
      zos.putNextEntry(e)
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** The statement's archive: its file is the largest member of the
    * wanted extension; a smaller decoy of the same extension carries
    * other numbers, so picking the wrong member shows in the output. */
  private def archive(d: Doc, s: Statement, ext: String, rng: Random): Array[Byte] = {
    val decoy = Statement(s.fyEnd, s.element, s.series.take(3).map { case (c, _) => c -> "1" })
    val stem = s"${d.code}-000_${s.fyEnd}_01_${d.day}"
    val members =
      if (ext == "csv") Seq(
        s"XBRL_TO_CSV/jpcrp030000-asr-001_$stem.csv" -> statementCsv(s, padding = 24, rng),
        s"XBRL_TO_CSV/jpaud-aar-cn-001_$stem.csv" -> statementCsv(decoy, padding = 0, rng))
      else Seq(
        s"XBRL/PublicDoc/jpcrp030000-asr-001_$stem.xbrl" -> statementXbrl(d.code, s, padding = 24),
        s"XBRL/AuditDoc/jpaud-aar-cn-001_$stem.xbrl" -> statementXbrl(d.code, decoy, padding = 0),
        s"XBRL/PublicDoc/jpcrp030000-asr-001_$stem.xsd" -> "<xsd:schema/>".getBytes("UTF-8"))
    zip(rng.shuffle(members))
  }

  /** UTF-16LE with BOM, tab-separated, EDINET's nine CSV columns. Row 0
    * is the fiscal-year end; row 1 is the first revenue row, whose
    * element selects the series. */
  private def statementCsv(s: Statement, padding: Int, rng: Random): Array[Byte] = {
    def row(el: String, ctx: String, unit: String, v: String) =
      Seq(el, "項目", ctx, "当期", "連結", "期間", unit, "円", v).mkString("\t")
    val header = Seq("要素ID", "項目名", "コンテキストID", "相対年度", "連結・個別",
      "期間・時点", "ユニットID", "単位", "値").mkString("\t")
    val fy = row("jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant", "", s.fyEnd)
    val revenue = s.series.map { case (ctx, v) => row(s.element, ctx, "JPY", v) }
    val others = (0 until padding).map { i =>
      row(otherElements(i % otherElements.size), contexts(i % contexts.size), "JPY",
        (rng.nextInt(1000000) * 1000L).toString)
    }
    // a later fiscal-year row never overrides the first
    val body = Seq(header, fy, revenue.head) ++ interleave(revenue.tail, others) ++
      Seq(row("jpdei_cor:CurrentFiscalYearEndDateDEI", "FilingDateInstant", "", "1999-12-31"))
    ("\uFEFF" + body.mkString("\r\n") + "\r\n").getBytes("UTF-16LE")
  }

  private def interleave(a: Seq[String], b: Seq[String]): Seq[String] =
    a.zipAll(b, null, null).flatMap { case (x, y) => Seq(x, y) }.filter(_ != null)

  /** An XBRL instance: the period-end fact, the submission-count marker,
    * then exactly the five revenue facts of the window, then padding. */
  private def statementXbrl(code: String, s: Statement, padding: Int): Array[Byte] = {
    val local = s.element.stripPrefix("jpcrp_cor:")
    val window = s.series.take(5).map { case (ctx, v) =>
      s"""  <jpcrp_cor:$local contextRef="$ctx" unitRef="JPY" decimals="-6">$v</jpcrp_cor:$local>"""
    }
    val others = (0 until padding).map { i =>
      val el = otherElements(i % otherElements.size).stripPrefix("jpcrp_cor:")
      s"""  <jpcrp_cor:$el contextRef="${contexts(i % contexts.size)}" unitRef="JPY" decimals="-6">${i * 1000}</jpcrp_cor:$el>"""
    }
    val lines = Seq(
      """<?xml version="1.0" encoding="UTF-8"?>""",
      """<xbrli:xbrl xmlns:xbrli="http://www.xbrl.org/2003/instance" """ +
        """xmlns:jpdei_cor="http://disclosure.edinet-fsa.go.jp/taxonomy/jpdei/2013-08-31/jpdei_cor" """ +
        """xmlns:jpcrp_cor="http://disclosure.edinet-fsa.go.jp/taxonomy/jpcrp/2023-12-01/jpcrp_cor">""",
      s"""  <xbrli:context id="FilingDateInstant"><xbrli:entity><xbrli:identifier scheme="http://disclosure.edinet-fsa.go.jp">$code</xbrli:identifier></xbrli:entity></xbrli:context>""",
      s"""  <jpdei_cor:CurrentPeriodEndDateDEI contextRef="FilingDateInstant">${s.fyEnd}</jpdei_cor:CurrentPeriodEndDateDEI>""",
      """  <jpdei_cor:NumberOfSubmissionDEI contextRef="FilingDateInstant">1</jpdei_cor:NumberOfSubmissionDEI>""") ++
      window ++ others ++ Seq("</xbrli:xbrl>")
    lines.mkString("\n").getBytes("UTF-8")
  }
}
