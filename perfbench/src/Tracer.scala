package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `unit` groups the spans of one timed unit. */
final case class Span(id: Int, parent: Int, name: String, unit: Int,
    startNs: Long, endNs: Long)

/** Spans kept in memory and written when the run ends. While disabled (in
  * untraced units) it runs the body and records nothing.
  */
final class Tracer {
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var unit: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, unit, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** Peak heap occupancy right after a GC, from GC notifications. Always on:
  * it feeds the end-to-end `heap_live_peak_mb`.
  */
final class HeapWatcher {
  private val peak = new AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(after, math.max)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Peak since the previous call, in bytes (0 when no GC ran). */
  def takePeak(): Long = peak.getAndSet(0L)
}

/** Counters of Spark's own execution, from a SparkListener, a
  * QueryExecutionListener and a log appender that counts whole-stage codegen
  * fallbacks. Read with [[snapshot]] at unit boundaries.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val jobs, stages, tasks = new AtomicLong
  val taskBusyMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  val planningMs, codegenFallbacks = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, Long]
  /** (start, end) epoch-ms of finished jobs. */
  val jobIntervals = new AtomicReference[List[(Long, Long)]](Nil)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    val s = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    jobIntervals.updateAndGet(l => (s, e.time) :: l)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    taskBusyMs.addAndGet(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)

  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.startsWith("Whole-stage codegen disabled"))
        codegenFallbacks.incrementAndGet()
  }

  private def logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    appender.start()
    logContext.getConfiguration.getRootLogger.addAppender(appender, null, null)
    logContext.updateLoggers()
  }

  def detach(): Unit = {
    BusAccess.drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    logContext.getConfiguration.getRootLogger.removeAppender(appender.getName)
    logContext.updateLoggers()
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Counter values after the listener bus has caught up. */
  def snapshot(): Map[String, Double] = {
    BusAccess.drain(spark)
    Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "task_busy_ms" -> taskBusyMs.get.toDouble,
      "shuffle_read_bytes" -> shuffleRead.get.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spill_bytes" -> spill.get.toDouble, "planning_ms" -> planningMs.get.toDouble,
      "codegen_fallbacks" -> codegenFallbacks.get.toDouble, "gc_ms" -> gcMs.toDouble)
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one finished job. */
  def jobCoverMs(fromMs: Long, toMs: Long): Long = {
    val clipped = jobIntervals.get
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
