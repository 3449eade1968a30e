package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution: nanoTime offsets
  * from one epoch anchor, so span times and Spark listener timestamps
  * (currentTimeMillis) share one axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `unit` marks the spans that are one closed-loop
  * operation for the per-op Spark aggregates (a build+probe cycle, an
  * aggregation, a dedup call, a streaming micro-batch).
  */
final case class Span(
    id: Int, parent: Int, layer: String, name: String, unit: Boolean,
    start: Double, end: Double)

final case class JobRec(id: Int, span: Int, start: Double, var end: Double, stages: Seq[Int])
final case class StageRec(id: Int, submit: Double, complete: Double, tasks: Int)
final case class TaskRec(
    stage: Int, launch: Double, finish: Double, runMs: Double, cpuMs: Double,
    gcMs: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class PlanningRec(start: Double, ms: Double)

/** Spans kept in memory and written out when the run ends, plus the Spark
  * listener records attributed to them. Until [[attach]] (and always with
  * tracing off) [[span]] only evaluates its body and nothing is recorded.
  */
final class Trace(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val planning = ArrayBuffer.empty[PlanningRec]

  private var stack: List[Int] = Nil
  private var nextId = 1
  private var sc: SparkContext = _

  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(planningListener)
  }

  /** Wait until every listener event posted so far has been delivered. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def span[T](layer: String, name: String, unit: Boolean = false)(body: => T): T =
    if (sc == null) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      setProperty()
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        stack = stack.tail
        setProperty()
        spans += Span(id, parent, layer, name, unit, start, end)
      }
    }

  /** A child of the current span whose interval is known only afterwards
    * (a streaming micro-batch, from its progress report). */
  def record(layer: String, name: String, unit: Boolean, start: Double, end: Double): Unit =
    if (sc != null) {
      spans += Span(nextId, stack.headOption.getOrElse(0), layer, name, unit, start, end)
      nextId += 1
    }

  private def setProperty(): Unit =
    if (sc != null) sc.setLocalProperty(Trace.SpanKey, stack.headOption.map(_.toString).orNull)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
        .map(_.toInt).getOrElse(0)
      Trace.this.synchronized {
        jobs += JobRec(e.jobId, span, e.time.toDouble, Double.NaN, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Trace.this.synchronized {
        stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble, i.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) Trace.this.synchronized {
        tasks += TaskRec(e.stageId, info.launchTime.toDouble, info.finishTime.toDouble,
          m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val planningListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Trace.this.synchronized {
        planning += PlanningRec(phases.map(_.startTimeMs).min.toDouble,
          phases.map(_.durationMs).sum.toDouble)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  /** Every record as rows of its fields, for the run record; a job that
    * never ended has a null end. */
  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map(_.productIterator.toSeq),
    "jobs" -> jobs.map(j => Seq(j.id, j.span, j.start, if (j.end.isNaN) null else j.end, j.stages)),
    "stages" -> stages.map(_.productIterator.toSeq),
    "tasks" -> tasks.map(_.productIterator.toSeq),
    "planning" -> planning.map(_.productIterator.toSeq))
}

object Trace {
  val SpanKey = "perfbench.span"
}

/** Highest live heap while [[active]] is set: the heap occupancy, over all
  * pools, right after each major (full) collection. After a minor
  * collection the old generation still holds whatever garbage it has
  * accumulated, so only major collections read the live set; the caller
  * forces one ([[fullCollection]]) at the end of the timed phase so there is
  * always a reading.
  */
final class HeapMonitor {
  @volatile var active = false
  @volatile private var peak = 0L
  @volatile private var majors = 0

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          if (used > peak) peak = used
          majors += 1
        }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** A full collection, waiting (up to 10 s) for its notification, which
    * arrives on another thread. */
  def fullCollection(): Unit = {
    val before = majors
    System.gc()
    val deadline = System.nanoTime() + 10000000000L
    while (majors == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
