package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 = none); all spans of one run share its trace id.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty)

/** Plan shapes that serialize work: a nested-loop or cartesian join, or a
  * window/exchange that puts all rows in one partition, with its input rows.
  */
object PlanFlags extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Seq[(String, String, Long)] = collect(plan) {
    case j: BroadcastNestedLoopJoinExec => ("plan.bnlj", j.nodeName, inputRows(j))
    case c: CartesianProductExec => ("plan.cartesian", c.nodeName, inputRows(c))
    case w: WindowExec if w.partitionSpec.isEmpty =>
      ("plan.single_partition", w.nodeName, inputRows(w))
    case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
      ("plan.single_partition", e.nodeName, inputRows(e))
  }

  private def inputRows(p: SparkPlan): Long = p.children.map(rows).sum

  private def rows(p: SparkPlan): Long = p match {
    case s: QueryStageExec => rows(s.plan)
    case _ => p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(p.children.headOption.map(rows).getOrElse(0L))
  }
}

/** Per-layer counters for the traced run: a SparkListener (scheduler,
  * execution, shuffle, spill, scan), a QueryExecutionListener (Catalyst
  * phase times and plan flags) and in-memory spans. Registered only while
  * tracing, so untraced rounds run with none of it.
  */
final class Tracer(spark: SparkSession, baseNs: Long) {
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var maxSkew = 0.0
  private val keyJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val keyRuns = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val flags = mutable.ArrayBuffer.empty[(String, String, String, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val open = mutable.Stack.empty[Int]
  /** Listeners registered (per-layer counters). */
  @volatile var enabled = false
  /** Spans recorded; also on during a traced run's set-up. */
  @volatile var spansOn = false
  @volatile var key = ""

  private def add(k: String, v: Double): Unit = synchronized { counts(k) += v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      counts("scheduler.jobs") += 1
      keyJobs(key) += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      counts("scheduler.stages") += 1
      stageTasks.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ts =>
        if (ts.size >= 2) {
          val sorted = ts.sorted
          val median = sorted(sorted.size / 2).toDouble
          if (median > 0) maxSkew = math.max(maxSkew, sorted.last / median)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      counts("scheduler.tasks") += 1
      if (m != null) {
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        counts("scheduler.delay_ms") += math.max(0L, delay)
        counts("exec.task_run_s") += m.executorRunTime / 1e3
        counts("exec.task_cpu_s") += m.executorCpuTime / 1e9
        counts("exec.gc_s") += m.jvmGCTime / 1e3
        counts("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counts("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counts("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        counts("spill.disk_bytes") += m.diskBytesSpilled
        counts("scan.bytes") += m.inputMetrics.bytesRead
        counts("scan.rows") += m.inputMetrics.recordsRead
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("catalyst.analysis_ms", ms("analysis"))
      add("catalyst.optimizer_ms", ms("optimization"))
      add("catalyst.physical_ms", ms("planning"))
      val found = PlanFlags.of(qe.executedPlan)
      Tracer.this.synchronized {
        found.foreach { case (flag, node, rows) => flags += ((key, flag, node, rows)) }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def enable(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  def disable(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    enabled = false
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def nowMs: Double = (System.nanoTime() - baseNs) / 1e6

  /** Runs `body` inside a span named `name`, nested under the innermost
    * open span. A no-op wrapper while spans are off.
    */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!spansOn) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(0)
      open.push(id)
      val start = nowMs
      try body
      finally {
        open.pop()
        synchronized { spans += Span(id, parent, name, start, nowMs, attrs) }
      }
    }

  /** Records a span measured elsewhere (a trigger's phases). */
  def record(name: String, parent: Int, startMs: Double, endMs: Double,
             attrs: Map[String, Any] = Map.empty): Int = synchronized {
    nextId += 1
    spans += Span(nextId, parent, name, startMs, endMs, attrs)
    nextId
  }

  def currentSpan: Int = open.headOption.getOrElse(0)

  /** Adds the analysis phase of a DataFrame's eager analysis, which no
    * action reports to the QueryExecutionListener, while tracing.
    */
  def analyzed(df: DataFrame): Unit = if (enabled)
    df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => add("catalyst.analysis_ms", p.durationMs.toDouble))

  /** Adds the time of `body` to the counter `name` while tracing. */
  def timed[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally add(name, (System.nanoTime() - t0) / 1e6)
    }

  /** Flagged plan nodes per execution, summed over operations. */
  def flagsPerRun(flag: String): Double = synchronized {
    flags.groupBy(_._1).map { case (k, fs) =>
      fs.count(_._2 == flag).toDouble / math.max(1L, keyRuns(k))
    }.sum
  }

  /** Counts one traced execution of the operation `k`. */
  def ran(k: String): Unit = synchronized { keyRuns(k) += 1 }

  /** Jobs scheduled per traced execution of `k` (0 when it never ran). */
  def jobsPerRun(k: String): Double = synchronized {
    if (keyRuns(k) == 0) 0.0 else keyJobs(k).toDouble / keyRuns(k)
  }

  def snapshot: Map[String, Double] = {
    drain()
    synchronized { counts.toMap ++ Map("exec.stage_skew" -> maxSkew) }
  }
}

/** Collects every StreamingQueryProgress that processed input. Always on:
  * the per-trigger `triggerExecution` time is an end-to-end latency.
  */
final class StreamProbe extends StreamingQueryListener {
  private val byQuery = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    if (e.progress.numInputRows > 0)
      byQuery.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer.empty) += e.progress
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def take(runId: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized { byQuery.remove(runId).map(_.toSeq).getOrElse(Nil) }
}
