package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters summed over one stage. */
final class StageAgg {
  @volatile var submitMs: Long = Long.MaxValue
  val tasks, runMs, gcMs, spill, shuffleRead, shuffleWrite, inputBytes, inputRecords = new AtomicLong
}

/** Spark engine observed from outside the program: jobs, stages and task
  * counters from a `SparkListener`, Catalyst phase times from a
  * `QueryExecutionListener` (`qe.tracker.phases`). Events keep their own
  * timestamps, so they are attributed to benchmark spans after the run.
  */
final class EngineLog extends SparkListener with QueryExecutionListener {
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  /** (start ms, end ms) of every finished job. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  val stages = new ConcurrentHashMap[Int, StageAgg]
  /** (first phase start ms, analysis + optimization + planning ms). */
  val catalyst = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  private def stage(id: Int) = stages.computeIfAbsent(id, _ => new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t0 => jobs.add((t0.longValue, e.time)))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId).submitMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stage(e.stageId)
    a.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      a.runMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      a.inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      catalyst.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Heap at an operation's widest point: `sample()` forces a full collection,
  * waits until Spark's ContextCleaner has cleaned nothing for 300 ms (it
  * drops the blocks and broadcasts a collection unreferenced on its own
  * thread afterwards, about 224 MB on daily_dag, and a fixed wait caught
  * that on either side), and collects again, until a collection frees less
  * than 1% more than the one before (at most five). It reads the heap in use
  * right after the last one from its GC notification, summed over the heap
  * pools only (not Metaspace or the code cache); `peak` keeps the highest
  * sample. Young collections are not used: the heap after one still holds
  * the dead objects in old regions that no marking cycle has reclaimed yet,
  * so it follows the collector's marking threshold, not what the program
  * holds.
  */
final class HeapWatch(cleaner: org.apache.spark.perfbench.CleanerActivity)
    extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val forced = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(this, null, null))
  @volatile var peak = 0L

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcCause == "System.gc()")
        forced.put(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, use) if heapPools(pool) => use.getUsed
        }.sum)
    }

  /** Samples the heap; returns the seconds it took, for the caller to leave
    * out of its timing.
    */
  def sample(): Double = {
    val t0 = System.nanoTime()
    def collect(): Long = {
      forced.clear()
      System.gc()
      Option(forced.poll(5, java.util.concurrent.TimeUnit.SECONDS)).fold(0L)(_.longValue)
    }
    def cleanerQuiet(): Unit = {
      val deadline = System.nanoTime() + 5000000000L
      var seen = cleaner.cleaned.get
      var since = System.nanoTime()
      while (System.nanoTime() - since < 300000000L && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = cleaner.cleaned.get
        if (now != seen) { seen = now; since = System.nanoTime() }
      }
    }
    var last = collect()
    var k = 1
    var settled = false
    while (!settled && k < 5) {
      cleanerQuiet()
      val next = collect()
      settled = next >= last * 0.99
      last = next
      k += 1
    }
    peak = math.max(peak, last)
    (System.nanoTime() - t0) / 1e9
  }

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}

/** One recorded span. Times are epoch milliseconds (to line up with Spark's
  * event times) plus a nanosecond duration for the span's own wall.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, endMs: Long, wallNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def contains(t: Long): Boolean = startMs <= t && t <= endMs
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Spans nest on the driver thread; `active` is set only for traced
  * operations, so an untraced operation pays one flag test per call.
  */
final class Tracer(val runId: String) {
  var active = false
  private var op = -1
  private var stack = List.empty[Int]
  private val open = ArrayBuffer.empty[(Int, String, Int, Int, Long, Long)]
  val spans = ArrayBuffer.empty[Span]

  def beginOp(i: Int, traced: Boolean): Unit = { op = i; active = traced }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = open.size
      open += ((id, name, stack.headOption.getOrElse(-1), op,
        System.currentTimeMillis(), System.nanoTime()))
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val (_, n, parent, o, t0, n0) = open(id)
        spans += Span(id, n, parent, o, t0, System.currentTimeMillis(), System.nanoTime() - n0)
      }
    }
}
