package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.Transport

/** Wall clock for spans: nanoTime, with a fixed mapping from the epoch
  * milliseconds Spark's listener events carry. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def nowNs: Long = System.nanoTime()
  def fromEpochMs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L
  def toEpochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** Records spans in memory. Disabled, it only runs the body. Spans opened
  * on one thread nest: the innermost open span is the parent. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger
  private val open = ThreadLocal.withInitial[List[(Int, Long)]](() => Nil)

  /** Time `body` as a span; `batch` defaults to the enclosing span's. */
  def span[A](name: String, layer: String, batch: Long = Long.MinValue)(body: => A): A =
    if (!enabled) body
    else {
      val stack = open.get
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val b = if (batch != Long.MinValue) batch else stack.headOption.map(_._2).getOrElse(-1L)
      val id = ids.incrementAndGet()
      open.set((id, b) :: stack)
      val start = Clock.nowNs
      try body
      finally {
        spans.add(Span(id, parent, name, layer, b, start, Clock.nowNs))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toVector.sortBy(s => (s.startNs, s.id))
}

/** The transport handed to the bridge. It stamps when each send on the
  * clip channel returns (the i-th stamp belongs to the i-th message the
  * benchmark polls off that channel) and, traced, records a span per verb. */
final class StampedTransport(inner: Transport, clipChannel: String, tracer: Tracer) extends Transport {
  /** (send-return ns, result kind) per clip message, in send order. */
  val clipSends = new ConcurrentLinkedQueue[(Long, String)]
  /** (poll-return ns, messages drained) per poll. */
  val polled = new ConcurrentLinkedQueue[(Long, Int)]

  override def send(channel: String, key: String, payload: String): Unit = {
    tracer.span("transport.send", "transport")(inner.send(channel, key, payload))
    if (channel == clipChannel) clipSends.add((Clock.nowNs, payload.takeWhile(_ != '\t')))
  }

  override def poll(channel: String): Seq[(String, String)] = {
    val got = tracer.span("transport.poll", "transport")(inner.poll(channel))
    polled.add((Clock.nowNs, got.size))
    got
  }
}

/** Spark's own view of the traced run: SQL executions (actions) with
  * their planning phases, jobs, and tasks. Times are epoch ms. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  import SparkTrace._

  private val actionsById = new java.util.concurrent.ConcurrentHashMap[Long, Action]
  private val jobsById = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  val taskEnds = new ConcurrentLinkedQueue[(Long, Long)] // (end ms, shuffle bytes written)
  val phases = new ConcurrentLinkedQueue[Phases]

  def actions: Seq[Action] = actionsById.values.asScala.toVector.filter(_.endMs > 0)
  def jobs: Seq[Job] = jobsById.values.asScala.toVector.filter(_.endMs > 0)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      actionsById.put(s.executionId, Action(s.time, 0L))
    case e: SparkListenerSQLExecutionEnd =>
      Option(actionsById.get(e.executionId)).foreach(_.endMs = e.time)
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobsById.put(j.jobId, Job(j.time, 0L, j.stageInfos.map(_.numTasks).sum))

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobsById.get(j.jobId)).foreach(_.endMs = j.time)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val shuffle = Option(t.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
    taskEnds.add((t.taskInfo.finishTime, shuffle))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
    val start = ph.get("analysis").orElse(ph.values.headOption).map(_.startTimeMs).getOrElse(0L)
    phases.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
  }
}

object SparkTrace {
  final case class Action(startMs: Long, var endMs: Long)
  final case class Job(startMs: Long, var endMs: Long, tasks: Int)
  final case class Phases(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
}
