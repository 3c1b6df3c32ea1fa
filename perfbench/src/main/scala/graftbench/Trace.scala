package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch microseconds, read from the monotonic clock so
  * span arithmetic never sees a backwards step. Spark's listener events
  * carry epoch milliseconds; both land on one time line. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One traced interval. `op` is the root op id every span of one op
  * shares; `parent` is the id of the span that caused it (-1 for a root). */
final case class Span(id: Long, parent: Long, op: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span recorder. Spans are kept in memory while the run is
  * timed and written out once it ends. Disabled, `span` only runs the
  * body, so the untimed and timed code paths are the same code. */
final class Tracer {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private var nextId = 0L
  private val stack = mutable.Stack.empty[(Long, String)]

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.map(_._1).getOrElse(-1L)
    val op = stack.lastOption.map(_._2).getOrElse(attrs.getOrElse("op", "").toString)
    stack.push((id, op))
    val t0 = Clock.us()
    try body
    finally {
      stack.pop()
      spans.add(Span(id, parent, op, name, t0, Clock.us(), attrs))
    }
  }

  /** An interval the caller timed itself (a progressive chunk). */
  def record(name: String, startUs: Long, endUs: Long): Unit = if (enabled) {
    val id = synchronized { nextId += 1; nextId }
    val (parent, op) = stack.headOption.getOrElse((-1L, ""))
    spans.add(Span(id, parent, op, name, startUs, endUs))
  }
}

/** Spark-side events of a traced run: job, stage and Catalyst-phase
  * intervals. Jobs carry the op id through the job-local property
  * [[SparkEvents.OpProperty]], set by the harness around every op. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  import SparkEvents._
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    open.put(e.jobId, JobRec(e.jobId, op, site, e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(j => jobs.add(j.copy(endMs = e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    if (tm != null) stages.add(StageRec(si.stageId, si.numTasks,
      si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
      tm.executorRunTime, tm.executorCpuTime / 1000000L,
      tm.inputMetrics.recordsRead, tm.inputMetrics.bytesRead,
      tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
      tm.memoryBytesSpilled + tm.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(funcName, qe)

  private def recordPhases(funcName: String, qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.add(PhaseRec(funcName, phase, s.startTimeMs, s.endTimeMs))
    }
}

object SparkEvents {
  val OpProperty = "graftbench.op"
  final case class JobRec(id: Int, op: String, site: String, startMs: Long,
      endMs: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, tasks: Int, startMs: Long, endMs: Long,
      runMs: Long, cpuMs: Long, inputRows: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)
  final case class PhaseRec(func: String, phase: String, startMs: Long, endMs: Long)
}

/** Peak live heap of the timed run: the heap still in use after a full
  * collection, sampled between rounds. (A before-collection peak would
  * only show how far the collector lets the young generation grow, not
  * what the workload keeps.) */
final class LiveHeap {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    peak = math.max(peak,
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

object Jvm {
  /** Total collection time of all collectors so far. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum
}

/** Input rows read by each op's Spark jobs (stage input records, by the
  * op id of the job that ran the stage). Registered for the whole run:
  * two map updates per stage, so it stays on while untraced ops are
  * timed. */
final class RowCounter extends SparkListener {
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkEvents.OpProperty)))
      .foreach(op => e.stageIds.foreach(stageOp.put(_, op)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.remove(e.stageInfo.stageId)).foreach { op =>
      val n = Option(e.stageInfo.taskMetrics).map(_.inputMetrics.recordsRead).getOrElse(0L)
      rows.merge(op, n, (a, b) => a + b)
    }
}
