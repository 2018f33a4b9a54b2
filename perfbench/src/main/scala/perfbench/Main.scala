package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --bench <perfbench dir> --state <scratch dir>
  *                  --trace-file <spans file> [--commit ID]
  *
  * Passes over the workload run until `--seconds` have passed and at
  * least [[minPasses]] passes ran. Each pass starts with a timed set-up
  * (a fresh session with empty warehouse, checkpoint and local dirs, plus
  * one warm-up query outside the workload). Pass 1, with the cold JVM's
  * set-up, warms the JIT and is left out of the timings, but its outputs
  * are checked like every other pass's. With `--trace 1`, odd passes are
  * traced and even passes are not, so the same run measures the tracing
  * overhead.
  *
  * The last stdout line is the result JSON; the exit code is 1 if any op
  * threw or produced a wrong output. */
object Main {

  val WarmUp = "q01_pricing_summary"
  /** Two untimed passes warm the JIT; at least three timed passes
    * follow. A traced run traces the even passes, so its one timed traced
    * pass (4) sits between two untraced ones (3, 5) and the JIT's warming
    * does not bias the overhead estimate. */
  val WarmUpPasses = 2
  val minPasses = 5
  val PassCapSeconds = 120.0

  final case class Pass(no: Int, traced: Boolean, setupS: Double, ops: Seq[Op],
      peakLiveMb: Double) {
    def timed: Boolean = no > WarmUpPasses
    def ok: Boolean = ops.forall(_.error.isEmpty)
    def totalS: Double = ops.map(_.wallS).sum
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val state = Paths.get(a("state")).toAbsolutePath
    // Spark's non-daemon threads would keep the JVM alive after an
    // uncaught error, so every outcome ends in an explicit exit
    val code =
      try run(a, state)
      catch { case e: Throwable => e.printStackTrace(); 2 }
      finally Session.deleteTree(state)
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Map[String, String], state: Path): Int = {
    val bench = Paths.get(a("bench")).toAbsolutePath
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"

    // a fresh session plus one warm-up query outside the workload
    def setUp(dirs: StateDirs): SparkSession = {
      val spark = Session.start(dirs)
      val warm = Digest.of(graft.SparkEntry.queries(WarmUp)(spark, bench.resolve("data/sf0.01").toString))
      require(warm.rows > 0, s"warm-up query $WarmUp returned no rows")
      // the catalog is created lazily; the first op must not pay for it
      spark.catalog.tableExists(WarmUp)
      spark
    }

    val wl = Workloads(a("workload"), seed, bench)
    val memory = new Memory
    val tracer = new Tracer
    val passes = ArrayBuffer.empty[Pass]
    var conf = Seq.empty[(String, String)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try {
      while ((passes.size < minPasses || elapsed < seconds) && elapsed < PassCapSeconds) {
        val no = passes.size + 1
        val traced = trace && no % 2 == 0
        val dirs = StateDirs(state.resolve(s"pass-$no"))
        memory.reset()
        val s0 = System.nanoTime()
        val spark = setUp(dirs)
        val setupS = (System.nanoTime() - s0) / 1e9
        if (conf.isEmpty) conf = spark.conf.getAll.toSeq.sorted
        if (traced) tracer.attach(spark)
        val ops = try wl.pass(spark, no, dirs.root.resolve("work"), tracer)
          finally { tracer.detach(); Session.stop(spark, dirs) }
        passes += Pass(no, traced, setupS, ops, memory.peakMb)
        log(f"pass $no${if (traced) " (traced)" else ""}: set-up $setupS%.2f s, ops ${passes.last.totalS}%.2f s")
      }
    } finally { wl.close(); memory.close() }
    tracer.runSpan(t0)

    val allOps = passes.flatMap(_.ops)
    val failedOps = allOps.filter(_.error.nonEmpty)
    failedOps.foreach(o => System.err.println(s"[perfbench] FAILED pass ${o.pass} ${o.name}: ${o.error.get}"))
    val warm = passes.filter(p => p.ok && p.timed)
    val warmOps = warm.flatMap(_.ops).toSeq
    val peakRssMb = peakRssKb / 1024.0
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    val setupS = med(passes.filter(_.no > 1).map(_.setupS).toSeq)
    val peakLiveMb = med(warm.map(_.peakLiveMb).toSeq)
    val totalS = med(warm.map(_.totalS).toSeq)
    val opP50S = if (warmOps.isEmpty) Double.NaN else Stats.opMedian(warmOps)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("total_s", totalS, "s"),
        ("op_p50_s", opP50S, "s"),
        ("peak_live_mb", peakLiveMb, "MB"))
      else {
        val tracedWarm = warm.filter(_.traced)
        val perPass = tracedWarm.map(p => Layers.of(p.ops, p.totalS, Session.cpus))
        val untracedWarm = warm.filterNot(_.traced)
        val overhead =
          if (tracedWarm.isEmpty || untracedWarm.isEmpty) Double.NaN
          else med(tracedWarm.map(_.totalS).toSeq) - med(untracedWarm.map(_.totalS).toSeq)
        Layers.metrics.map { case (m, unit) =>
          val v = if (m == "trace.overhead_s") overhead else med(perPass.map(_(m)).toSeq)
          (m, v, unit)
        }
      }

    val failedFrac = if (allOps.isEmpty) 1.0 else failedOps.size.toDouble / allOps.size
    val stamp = scala.collection.immutable.ListMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "master" -> s"local[${Session.cpus}]",
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "commit" -> a.getOrElse("commit", "unknown"),
      "workload_inputs" -> wl.describe,
      "passes" -> passes.map(p => scala.collection.immutable.ListMap("pass" -> p.no,
        "traced" -> p.traced, "setup_s" -> p.setupS, "total_s" -> p.totalS,
        "peak_live_mb" -> p.peakLiveMb,
        "ops" -> p.ops.map(o => Seq(o.name, if (o.error.isEmpty) o.wallS else "failed")))),
      "conf" -> scala.collection.immutable.ListMap(conf: _*))
    println(Json.obj("stamp" -> stamp))

    val (hName, hValue, hUnit) =
      if (warmOps.isEmpty) ("headline", Double.NaN, "")
      else wl.headline(warmOps, warm.map(_.totalS).sum)
    val summary = scala.collection.immutable.ListMap[String, Any](
      "setup_s" -> Map("value" -> setupS, "unit" -> "s"),
      "total_s" -> Map("value" -> totalS, "unit" -> "s"),
      hName -> Map("value" -> hValue, "unit" -> hUnit),
      "peak_rss_mb" -> Map("value" -> peakRssMb, "unit" -> "MB"),
      "peak_live_mb" -> Map("value" -> peakLiveMb, "unit" -> "MB"),
      "failed_frac" -> Map("value" -> failedFrac, "unit" -> "fraction"))
    println(Json.obj("summary" -> summary,
      "failures" -> failedOps.map(o => Map("pass" -> o.pass, "op" -> o.name, "error" -> o.error.get))))

    if (trace) a.get("trace-file").foreach(f => writeTrace(Paths.get(f), stamp, tracer, passes.toSeq))

    val correct = failedOps.isEmpty && metrics.forall(m => !m._2.isNaN)
    println(Json.obj(
      "correct" -> correct,
      "attempted" -> allOps.size,
      "failed" -> failedOps.size,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }: _*)))
    if (correct) 0 else 1
  }

  /** Spans of the whole run and every traced op's per-layer metrics, as
    * JSON lines, written once at the end. */
  private def writeTrace(file: Path, stamp: Map[String, Any], tracer: Tracer,
      passes: Seq[Pass]): Unit = {
    Option(file.getParent).foreach(Files.createDirectories(_))
    val lines = ArrayBuffer(Json.obj("stamp" -> stamp))
    tracer.spans.sortBy(_.startMs).foreach { s =>
      lines += Json.obj("span" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    }
    for (p <- passes if p.traced; o <- p.ops)
      lines += Json.obj("op" -> o.id, "name" -> o.name, "pass" -> o.pass,
        "wall_s" -> (if (o.error.isEmpty) Some(o.wallS) else None), "error" -> o.error,
        "metrics" -> Layers.of(Seq(o), o.wallS, Session.cpus))
    Files.write(file, lines.asJava)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Peak resident set of this JVM (VmHWM), in KiB. */
  def peakRssKb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
}
