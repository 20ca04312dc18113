package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark job/stage/task counters, fed by the listener bus. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, shuffleBytes, inputBytes = new AtomicLong
  val taskCpuNs, taskRunMs, gcMs = new AtomicLong
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def jobBusyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }
      .toSeq
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        busy += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }

  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spark.input_bytes" -> inputBytes.get.toDouble,
    "spark.task_cpu_s" -> taskCpuNs.get / 1e9,
    "spark.task_run_s" -> taskRunMs.get / 1e3,
    "spark.gc_s" -> gcMs.get / 1e3)
}

/** Cumulative Structured Streaming progress counters. */
final class StreamCounters extends StreamingQueryListener {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val peakStateRows = mutable.Map.empty[java.util.UUID, Long].withDefaultValue(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    sums("streaming.triggers") += 1
    sums("streaming.trigger_s") += ms("triggerExecution")
    sums("streaming.add_batch_s") += ms("addBatch")
    sums("streaming.query_planning_s") += ms("queryPlanning")
    sums("streaming.wal_commit_s") += ms("walCommit")
    sums("streaming.state_commit_s") += p.stateOperators.map(_.commitTimeMs).sum / 1e3
    // state size is a level, not a flow: keep each query's peak
    peakStateRows(p.id) = math.max(peakStateRows(p.id), p.stateOperators.map(_.numRowsTotal).sum)
  }

  def snapshot(): Map[String, Double] = synchronized {
    Seq("streaming.triggers", "streaming.trigger_s", "streaming.add_batch_s",
      "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.state_commit_s")
      .map(k => k -> sums(k)).toMap +
      ("streaming.state_rows" -> peakStateRows.values.sum.toDouble)
  }
}

/** Cumulative Catalyst phase times of every query the session executes,
  * from each query's own `QueryPlanningTracker`.
  */
final class PlanCounters extends QueryExecutionListener {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    sums("plans.queries") += 1
    qe.tracker.phases.foreach { case (phase, summary) => sums(s"plans.${phase}_s") += summary.durationMs / 1e3 }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Map[String, Double] = synchronized {
    Seq("plans.queries", "plans.analysis_s", "plans.optimization_s", "plans.planning_s")
      .map(k => k -> sums(k)).toMap
  }
}

/** One recorded interval of a public call into the engine. `op` is the
  * id of the benchmark operation it belongs to; `parent` is -1 for the
  * operation's root span.
  */
final case class Span(
    id: Int,
    parent: Int,
    op: Int,
    name: String,
    startNs: Long,
    endNs: Long,
    countersStart: Map[String, Double],
    countersEnd: Map[String, Double],
    attrs: Map[String, Double])

/** Records spans and listener counts at span boundaries, in memory.
  * Attached only for traced passes, so untraced passes pay nothing.
  */
final class Tracer(spark: SparkSession) {
  private val sparkCounters = new SparkCounters
  private val streamCounters = new StreamCounters
  private val planCounters = new PlanCounters
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkCounters)
    spark.streams.addListener(streamCounters)
    spark.listenerManager.register(planCounters)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkCounters)
    spark.streams.removeListener(streamCounters)
    spark.listenerManager.unregister(planCounters)
    attached = false
  }

  private def counters(): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    sparkCounters.snapshot() ++ streamCounters.snapshot() ++ planCounters.snapshot()
  }

  /** Runs `body` inside a span; an operation's root span also records
    * how much of its wall time Spark jobs covered.
    */
  def span[T](op: Int, parent: Int, name: String)(body: Int => T): T = {
    val id = nextId
    nextId += 1
    val c0 = counters()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val c1 = counters()
    val busy: Map[String, Double] =
      if (parent < 0) Map("job_busy_s" -> sparkCounters.jobBusyMs(w0, w1) / 1e3) else Map.empty
    spans += Span(id, parent, op, name, t0, t1, c0, c1, busy)
    out
  }

  def recorded: Seq[Span] = spans.toSeq
}
