package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span the benchmark opened around one call into a layer. Times are
  * epoch microseconds; `parent` is -1 for an operation's root span and
  * `trace` is the operation's index in the run. */
final case class Span(id: Int, name: String, layer: String, parent: Int, trace: Int,
    start: Long, var end: Long = 0L)

/** One finished Spark task, reduced to what the per-layer table needs. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long, shWrite: Long,
    shRead: Long, spill: Long)

final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long,
    stages: Seq[Int])

/** Spans around the benchmark's calls, plus a SparkListener and a
  * QueryExecutionListener that record every job, stage, task and query
  * execution. Jobs are linked to the span open on the calling thread
  * through the `perfbench.span` local property. With `enabled = false`
  * nothing is registered and `span` only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000L
  def nowMicros: Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var trace = 0

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** (operation trace id, analysis, optimization, planning ms) of each
    * query execution; the bus is drained after every operation, so an
    * execution is tagged with the operation that ran it. */
  val phases = new ConcurrentLinkedQueue[(Int, Long, Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .map(_.toInt).getOrElse(-1)
      jobs.add(JobRec(e.jobId, span, e.time, 0L, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      phases.add((trace, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) sc.addSparkListener(listener)

  /** Register the query listener on a session (each pass uses a fresh one). */
  def attach(session: SparkSession): Unit =
    if (enabled) session.listenerManager.register(qeListener)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  /** Start a new operation: the next root span gets a new trace id. */
  def nextTrace(): Int = { trace += 1; trace }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, layer, parent.map(_.id).getOrElse(-1),
        parent.map(_.trace).getOrElse(trace), nowMicros)
      spans += s
      stack.push(s)
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.end = nowMicros
        stack.pop()
        sc.setLocalProperty(Tracer.Prop, parent.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
}

object Tracer {
  val Prop = "perfbench.span"
}
