package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with the span that caused it. Ops and
  * layer calls are recorded by the harness around its calls into the
  * program; Spark jobs are recorded from listener events and attributed
  * to the layer call that launched them through a thread-local Spark
  * property. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double)

/** One op (a query, or one run of the ETL job): wall time, outcome, and
  * additive counters named after the per-layer metrics they feed. */
final class Op(val id: Long, val name: String, val pass: Int) {
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var wallS: Double = 0.0
  var error: Option[String] = None
  def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v
  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
}

/** Records spans and per-op counters in memory; nothing is written until
  * the run ends. When `enabled` is false every hook is a no-op, so an
  * untraced pass runs exactly the calls a user would make. */
final class Tracer {

  val SpanProperty = "perfbench.span"
  val runId = 0L

  private val ids = new AtomicLong(runId)
  private val epochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - baseNs) / 1e6

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val callNames = mutable.Map.empty[Long, String]
  @volatile private var enabled = false
  @volatile private var current: Op = null
  private var spark: SparkSession = null

  // job/stage attribution, written from the listener thread
  private val jobOf = mutable.Map.empty[Int, (Op, Long, Double)]
  private val stageOp = mutable.Map.empty[Int, Op]
  private val stageRun = mutable.Map.empty[(Int, Int), (Double, Double)]

  def newId(): Long = ids.incrementAndGet()

  /** Attach to a fresh session for one traced pass. */
  def attach(session: SparkSession): Unit = {
    spark = session
    enabled = true
    session.sparkContext.addSparkListener(listener)
    session.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    enabled = false
    spark = null
  }

  /** Run one op. Its wall time covers `body` only; with tracing on, the
    * listener bus is drained afterwards so every event is counted. */
  def op(name: String, pass: Int)(body: Op => Unit): Op = {
    val o = new Op(newId(), name, pass)
    current = o
    val t0 = nowMs
    try body(o)
    catch { case e: Throwable => o.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = nowMs
    o.wallS = (t1 - t0) / 1e3
    if (enabled) {
      PerfbenchBus.drain(spark.sparkContext)
      record(Span(o.id, runId, o.id, s"op:$name", t0, t1))
      closeStages(o)
    }
    current = null
    o
  }

  /** One call into a program layer: its wall time feeds `<layer>_s`;
    * Spark jobs it launches become its child spans. */
  def call[T](o: Op, layer: String)(body: => T): T = {
    val id = newId()
    val sc = if (enabled) spark.sparkContext else null
    if (sc != null) {
      synchronized(callNames(id) = layer)
      sc.setLocalProperty(SpanProperty, id.toString)
    }
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      if (sc != null) sc.setLocalProperty(SpanProperty, null)
      o.add(s"${layer}_s", (t1 - t0) / 1e3)
      if (enabled) record(Span(id, o.id, o.id, layer, t0, t1))
    }
  }

  /** The run's root span, from a System.nanoTime start to now. */
  def runSpan(startNs: Long): Unit =
    record(Span(runId, -1L, -1L, "run", epochMs + (startNs - baseNs) / 1e6, nowMs))

  /** Catalyst phase times of one query execution. */
  def phases(o: Op, qe: QueryExecution): Unit =
    if (enabled) qe.tracker.phases.foreach { case (phase, summary) =>
      o.add(s"catalyst.${phase}_s", summary.durationMs / 1e3)
    }

  private def record(s: Span): Unit = synchronized(spans += s)

  private def closeStages(o: Op): Unit = synchronized {
    val mine = stageRun.filter { case ((stage, _), _) => stageOp.get(stage).contains(o) }
    mine.foreach { case (k, (max, sum)) =>
      o.add("exec.stage_max_task_s", max)
      o.add("exec.stage_task_s", sum)
      stageRun.remove(k)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val o = current
      if (o != null) phases(o, qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(-1L)
      val o = current
      if (o != null) {
        jobOf(e.jobId) = (o, parent, e.time.toDouble)
        e.stageIds.foreach(s => stageOp(s) = o)
        o.add("exec.jobs", 1)
        if (callNames.get(parent).contains("queries.build")) o.add("queries.build_jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOf.remove(e.jobId).foreach { case (o, parent, start) =>
        spans += Span(newId(), parent, o.id, s"job:${e.jobId}", start, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(_.add("exec.stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageOp.get(e.stageId).filter(_ => m != null).foreach { o =>
        val info = e.taskInfo
        val runS = m.executorRunTime / 1e3
        val wallMs = if (info.finishTime > 0) info.finishTime - info.launchTime else 0L
        val sched = wallMs - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        val mb = 1024.0 * 1024.0
        o.add("exec.tasks", 1)
        o.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        o.add("exec.task_run_s", runS)
        o.add("exec.task_gc_s", m.jvmGCTime / 1e3)
        o.add("exec.sched_delay_s", math.max(0L, sched) / 1e3)
        o.add("scan.input_mb", m.inputMetrics.bytesRead / mb)
        o.add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
        o.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        o.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
        o.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        o.add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
        o.add("warehouse.write_mb", m.outputMetrics.bytesWritten / mb)
        o.add("warehouse.write_rows", m.outputMetrics.recordsWritten.toDouble)
        val k = (e.stageId, e.stageAttemptId)
        val (mx, sum) = stageRun.getOrElse(k, (0.0, 0.0))
        stageRun(k) = (math.max(mx, runS), sum + runS)
      }
    }
  }
}
