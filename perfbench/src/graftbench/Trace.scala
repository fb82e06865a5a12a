package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span: an op, a phase inside it (build / exec / call), a
  * Spark job or a streaming micro-batch. Times are epoch ms. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startMs: Double, endMs: Double)

/** Everything the listeners attribute to one op. Ops run one at a
  * time and the listener bus is drained between ops, so an event is
  * the current op's when it is delivered. */
final class OpTrace(val id: Int, val name: String, val kind: String) {
  var startMs = 0.0
  var endMs = 0.0
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  // job id -> (phase at submission, start ms); closed spans below
  val openJobs = mutable.Map.empty[Int, (String, Long)]
  val jobSpans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var jobs = 0L
  var buildJobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedMs = 0L
  var shuffleW = 0L
  var shuffleR = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inRows = 0L
  var inBytes = 0L
  var outBytes = 0L
  var aqe = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  var codegenCompiles = 0L
  var codegenMs = 0.0
  var leakedRdds = 0L
  // streaming
  var batches = 0L
  val batchMs = mutable.ArrayBuffer.empty[Long]
  val batchSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var streamRows = 0L
  var planMs = 0L
  var addBatchMs = 0L
  var commitMs = 0L
  var offsetsMs = 0L
  val stateByRun = mutable.Map.empty[String, (Long, Long)]

  def wallMs: Double = endMs - startMs
  def phaseMs(p: String): Double = phases.collect { case (`p`, a, b) => b - a }.sum

  /** Union of the job spans, clipped to the op window. */
  def jobBusyMs: Double = {
    val iv = jobSpans.map { case (_, a, b) =>
      (math.max(a.toDouble, startMs), math.min(b.toDouble, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0
    var cur = Double.NegativeInfinity
    iv.foreach { case (a, b) =>
      if (b > cur) { busy += b - math.max(a, cur); cur = b }
    }
    busy
  }
}

/** The benchmark's listeners: Spark's scheduler events, the SQL
  * QueryExecutionListener (Catalyst phase times from `qe.tracker`),
  * the streaming progress reports and Spark's CodegenMetrics. None of
  * them does anything while no op is current. */
final class Tracer(spark: SparkSession) {
  @volatile var current: OpTrace = null
  var drainTimeouts = 0

  private def withOp(f: OpTrace => Unit): Unit = {
    val op = current
    if (op != null) op.synchronized(f(op))
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = withOp { op =>
      val phase = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).getOrElse("op")
      op.jobs += 1
      if (phase == "build") op.buildJobs += 1
      op.openJobs(e.jobId) = (phase, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = withOp { op =>
      op.openJobs.remove(e.jobId).foreach { case (phase, t0) =>
        op.jobSpans += ((phase, t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      withOp(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withOp { op =>
      op.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        op.runMs += m.executorRunTime
        op.cpuNs += m.executorCpuTime
        op.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        op.shuffleW += m.shuffleWriteMetrics.bytesWritten
        op.shuffleR += m.shuffleReadMetrics.totalBytesRead
        op.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        op.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        op.inRows += m.inputMetrics.recordsRead
        op.inBytes += m.inputMetrics.bytesRead
        op.outBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => withOp(_.aqe += 1)
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = withOp { op =>
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      op.analysisMs += ms("analysis")
      op.optimizerMs += ms("optimization")
      op.planningMs += ms("planning")
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = withOp { op =>
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val trig = d("triggerExecution")
      op.batches += 1
      op.batchMs += trig
      op.streamRows += p.numInputRows
      op.planMs += d("queryPlanning")
      op.addBatchMs += d("addBatch")
      op.commitMs += d("walCommit") + d("commitOffsets")
      op.offsetsMs += d("latestOffset") + d("getBatch") + d("getOffset")
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      op.batchSpans += ((t0, t0 + trig))
      op.stateByRun(p.runId.toString) = (
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }
  private var codegen0 = (0L, 0.0)

  /** Barrier: every event posted so far is delivered. The bus can time
    * out under load; that is counted and the run goes on. */
  def drain(): Unit =
    try org.apache.spark.graftshim.ListenerDrain.drain(spark.sparkContext)
    catch { case _: java.util.concurrent.TimeoutException => drainTimeouts += 1 }

  def begin(op: OpTrace): Unit = {
    drain()
    codegen0 = codegen
    current = op
  }

  def end(op: OpTrace): Unit = {
    drain()
    current = null
    val (n1, sum1) = codegen
    op.codegenCompiles = n1 - codegen0._1
    // the histogram's reservoir holds every sample up to its size
    // (1028); past that, fall back to the reservoir mean
    op.codegenMs =
      if (n1 <= Tracer.Reservoir) sum1 - codegen0._2
      else op.codegenCompiles * (sum1 / Tracer.Reservoir)
  }
}

object Tracer {
  val PhaseKey = "graftbench.phase"
  val Reservoir = 1028

  /** Spans of one traced op: the op, its phases, and the jobs and
    * micro-batches under the phase that covers them. */
  def spans(op: OpTrace, nextId: () => Int): Seq[Span] = {
    val root = Span(nextId(), -1, op.id, s"op:${op.name}", op.startMs, op.endMs)
    val phases = op.phases.map { case (n, a, b) => Span(nextId(), root.id, op.id, n, a, b) }
    def parentOf(phase: String, t: Double): Int =
      phases.find(s => s.name == phase && s.startMs <= t && t <= s.endMs)
        .orElse(phases.find(s => s.startMs <= t && t <= s.endMs))
        .map(_.id).getOrElse(root.id)
    val jobs = op.jobSpans.map { case (ph, a, b) =>
      Span(nextId(), parentOf(ph, a.toDouble), op.id, "job", a.toDouble, b.toDouble) }
    val batches = op.batchSpans.map { case (a, b) =>
      Span(nextId(), parentOf("", a.toDouble), op.id, "batch", a.toDouble, b.toDouble) }
    (root +: phases.toSeq) ++ jobs ++ batches
  }

  /** Per span name: total duration and self time (duration minus the
    * part covered by its children), in seconds. */
  def selfTime(spans: Seq[Span]): Map[String, Map[String, Double]] = {
    val kids = spans.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var tot = 0.0
      var cur = Double.NegativeInfinity
      iv.foreach { case (a, b) => if (b > cur) { tot += b - math.max(a, cur); cur = b } }
      tot
    }
    spans.groupBy(s => if (s.name.startsWith("op:")) "op" else s.name).map { case (n, ss) =>
      n -> Map(
        "total_s" -> ss.map(s => s.endMs - s.startMs).sum / 1e3,
        "self_s" -> ss.map(s => s.endMs - s.startMs - covered(s)).sum / 1e3,
        "count" -> ss.size.toDouble)
    }
  }
}
