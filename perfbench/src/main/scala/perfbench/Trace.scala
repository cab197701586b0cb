package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all registered by the benchmark itself:
  * nested spans around every call the harness makes into a layer, a
  * SparkListener that buckets jobs, stages and task metrics by the op
  * running when they arrive, and a QueryExecutionListener for Catalyst's
  * planning phases.
  *
  * Spans carry their id, and each op its name, as Spark local properties.
  * A job without the current op's name was submitted from a thread the
  * caller's properties never reached, or reached stale (a pool thread
  * created during an earlier op): it counts as unattributed, and is never
  * dropped. Events are bucketed by the harness's current (pass, op); the
  * harness drains the listener bus after each traced op, outside its
  * timed window, so no event of one op lands in the next op's bucket.
  *
  * When `enabled` is false, or the current pass is not traced, every span
  * runs its body directly and the listeners drop their events. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  @volatile var active = false
  @volatile var pass = -1
  @volatile var op = "setup"
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private[perfbench] val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private[perfbench] val buckets = mutable.LinkedHashMap.empty[(Int, String), Bucket]

  def bucket: Bucket = synchronized {
    buckets.getOrElseUpdate((pass, op), new Bucket)
  }

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(new Listener)
    spark.listenerManager.register(new PlanListener)
  }

  /** Time `body` as a span named `name` (a layer name such as
    * "registry.bind"), nested under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, pass,
        System.nanoTime())
      spans += s
      stack = s :: stack
      val prev = if (sc == null) null else sc.getLocalProperty(SpanKey)
      if (sc != null) sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        if (sc != null) {
          sc.setLocalProperty(SpanKey, prev)
          val cached = sc.getRDDStorageInfo.map(_.memSize).sum
          val b = bucket
          b.synchronized { b.cachedPeak = math.max(b.cachedPeak, cached) }
        }
      }
    }

  /** Start op `name` of `pass`: the op's local property marks every job
    * the harness thread (and threads it spawns) submits. */
  def beginOp(pass: Int, name: String, traced: Boolean): Unit = {
    this.pass = pass
    op = name
    active = enabled && traced
    if (sc != null && enabled)
      sc.setLocalProperty(OpKey, if (active) s"$pass/$name" else null)
  }

  /** Wait until the listeners have seen every event the op posted. */
  def drain(): Unit = if (active) org.apache.spark.perfbench.Bus.drain(sc)

  def spanRecords: Seq[Span] = spans.toSeq

  private final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val props = Option(e.properties)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val j = Job(e.jobId, pass, op, props.flatMap(p => Option(p.getProperty(SpanKey)))
        .fold(-1)(_.toInt), props.exists(_.getProperty(OpKey) == s"$pass/$op"), site,
        e.time)
      Tracer.this.synchronized { jobs += j; jobById(e.jobId) = j }
      bucket.synchronized { bucket.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobById.remove(e.jobId).foreach(_.end = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) { val b = bucket; b.synchronized { b.stages += 1 } }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      val b = bucket
      val m = e.taskMetrics
      b.synchronized {
        b.tasks += 1
        if (e.reason != Success || e.taskInfo.failed) b.failedTasks += 1
        b.durationMs += e.taskInfo.duration
        if (m != null) {
          b.runMs += m.executorRunTime
          b.cpuNs += m.executorCpuTime
          b.gcMs += m.jvmGCTime
          b.inputBytes += m.inputMetrics.bytesRead
          b.inputRows += m.inputMetrics.recordsRead
          b.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          b.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          b.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          b.resultBytes += m.resultSize
        }
      }
    }
  }

  private final class PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (active) {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).fold(0L)(_.durationMs)
      val b = bucket
      b.synchronized {
        b.sqlExecutions += 1
        b.analysisMs += ms("analysis")
        b.optimizerMs += ms("optimization")
        b.planningMs += ms("planning")
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"

  final case class Span(id: Int, name: String, parent: Int, op: String,
                        pass: Int, start: Long) {
    var end: Long = start
  }

  final case class Job(id: Int, pass: Int, op: String, span: Int,
                       attributed: Boolean, site: String, start: Long) {
    var end: Long = start
  }

  /** Listener totals for one (pass, op). */
  final class Bucket {
    var jobs, stages, tasks, failedTasks, sqlExecutions = 0L
    var durationMs, runMs, cpuNs, gcMs = 0L
    var inputBytes, inputRows, shuffleWrite, shuffleRead, spill, resultBytes = 0L
    var analysisMs, optimizerMs, planningMs = 0L
    var cachedPeak = 0L

    def fields: Seq[(String, Long)] = Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "sql_executions" -> sqlExecutions,
      "task_ms" -> durationMs, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
      "gc_ms" -> gcMs, "input_bytes" -> inputBytes, "input_rows" -> inputRows,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "spill" -> spill, "result_bytes" -> resultBytes,
      "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs,
      "planning_ms" -> planningMs, "cached_peak" -> cachedPeak)
  }
}
