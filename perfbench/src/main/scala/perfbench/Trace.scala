package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one run. Every time is epoch milliseconds (a double),
  * so spans taken here line up with the timestamps Spark's listener events
  * carry. Spans come from the runner's own calls; the three listeners below
  * add job, stage, task, query-execution and streaming-progress records.
  * Nothing is written until the run ends (`Runner` dumps it as JSON).
  */
object Trace {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Listener records are kept only while this is set; when it is clear the
    * listeners return at once, so untraced passes pay only the dispatch. */
  @volatile var listening = false

  final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: Int)
  val spans = new ConcurrentLinkedQueue[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  @volatile var currentOp: Int = -1

  /** Times `body` as a span under the innermost open span. Spans open and
    * close on the one client thread. */
  def span[T](name: String)(body: => T): T = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = nowMs()
    try body
    finally {
      spans.add(Span(id, name, t0, nowMs(), parent, currentOp))
      stack = stack.tail
    }
  }

  final case class Job(id: Int, start: Double, end: Double)
  final case class Task(stage: String, launch: Double, finish: Double, runMs: Double,
      cpuMs: Double, gcMs: Double, schedMs: Double, inputBytes: Long,
      shuffleWriteBytes: Long, fetchWaitMs: Double, spillBytes: Long)
  final case class Qe(start: Double, planMs: Double, partialIn: Long, partialOut: Long)
  final case class Progress(time: Double, batchId: Long, inputRows: Long,
      addBatchMs: Double, walCommitMs: Double, stateCommitMs: Double, stateRows: Long)

  val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  /** Rows into and out of every partial (map-side) aggregate of a finished
    * plan, read from its SQL metrics. The input is the nearest descendant
    * that counts its output rows. */
  private object PlanWalk extends AdaptiveSparkPlanHelper {
    private def rowsOut(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value)
        .orElse(p.children.headOption.flatMap(rowsOut))

    def partialRows(plan: SparkPlan): (Long, Long) = {
      val aggs = collectWithSubqueries(plan) {
        case a: BaseAggregateExec
            if a.aggregateExpressions.nonEmpty &&
              a.aggregateExpressions.forall(_.mode == Partial) => a
      }
      aggs.foldLeft((0L, 0L)) { case ((in, out), a) =>
        (in + a.child.flatMap(rowsOut).headOption.getOrElse(0L),
          out + a.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      }
    }
  }

  /** Planning time (analysis + optimization + physical planning) of a
    * finished QueryExecution, stamped with its first phase's start. */
  def recordQe(qe: QueryExecution): Unit =
    if (listening) {
      val phases = qe.tracker.phases.values
      val planMs = phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val start = if (phases.isEmpty) nowMs() else phases.map(_.startTimeMs).min.toDouble
      val (in, out) =
        try PlanWalk.partialRows(qe.executedPlan) catch { case _: Throwable => (0L, 0L) }
      qes.add(Qe(start, planMs, in, out))
    }
}

/** Jobs and tasks, registered through `spark.extraListeners`. */
class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.listening) Trace.jobStarts.put(e.jobId, e.time.toDouble)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(Trace.jobStarts.remove(e.jobId)).foreach { s =>
      Trace.jobs.add(Trace.Job(e.jobId, s.doubleValue, e.time.toDouble))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Trace.listening && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      val duration = (i.finishTime - i.launchTime).toDouble
      val sched = math.max(0.0, duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      Trace.tasks.add(Trace.Task(s"${e.stageId}.${e.stageAttemptId}",
        i.launchTime.toDouble, i.finishTime.toDouble, m.executorRunTime.toDouble,
        m.executorCpuTime / 1e6, m.jvmGCTime.toDouble, sched, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime.toDouble,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
}

/** Planning phases of every QueryExecution, registered through
  * `spark.sql.queryExecutionListeners` so that sessions the program clones
  * report too. */
class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.recordQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.recordQe(qe)
}

object StreamListener {
  /** Ids of streaming queries started and not yet terminated, in any session. */
  val active: java.util.Set[java.util.UUID] = java.util.concurrent.ConcurrentHashMap.newKeySet()
}

/** Micro-batch progress and the set of live queries, registered through
  * `spark.sql.streaming.streamingQueryListeners`. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = StreamListener.active.add(e.id)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = StreamListener.active.remove(e.id)
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Trace.listening) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val ops = p.stateOperators.toSeq
      Trace.progress.add(Trace.Progress(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.batchId,
        p.numInputRows, d.getOrElse("addBatch", 0.0),
        d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0),
        ops.map(_.commitTimeMs.toDouble).sum, ops.map(_.numRowsTotal).sum))
    }
}
