package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch clock in nanoseconds: Spark stamps job and stage events with
  * `currentTimeMillis`, the harness times calls with `nanoTime`; both
  * land on one axis so spans from either source nest. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = base + (System.nanoTime() - nano0)
  def fromMillis(ms: Long): Long = ms * 1000000L
}

/** One traced interval on the [[Clock]] axis. `parent` is 0 for roots. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  /** Length of the union of `ivs` clipped to [lo, hi]. Jobs of one
    * call can overlap (broadcast builds run beside the main job), so
    * coverage is a union, not a sum. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB != Long.MinValue) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB != Long.MinValue) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that
    * its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
    }.toMap
  }

  /** Self time summed per layer. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val st = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => st(s.id)).sum }
  }
}

/** Per-call counters filled by the listeners. */
final class Counters {
  var jobs = 0L
  var buildJobs = 0L
  var mlFitJobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var inputBytes = 0L
  var planNs = 0L
  var bcastCount = 0L
  var bcastBytes = 0L
}

/** Scheduler and executor side, from Spark's listener bus. The harness
  * tags every phase with the `perfbench.parent` local property, which
  * Spark copies into the job's properties (also for jobs that SQL
  * starts on its own threads), so a job is attributed to its phase
  * even though the bus delivers late. */
final class LayerListener extends SparkListener {
  val spans = ArrayBuffer.empty[Span]
  @volatile var current = new Counters
  /** Span ids of the phases whose jobs count as eager build jobs or
    * as model-fit jobs. */
  val buildPhases = ConcurrentHashMap.newKeySet[Long]()
  val fitPhases = ConcurrentHashMap.newKeySet[Long]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Long)]() // id, parent, start
  private val stageJob = new ConcurrentHashMap[Int, Long]() // stage -> job span id

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.ParentKey)))
      .map(_.toLong).getOrElse(0L)
    val id = Spans.nextId()
    jobSpan.put(e.jobId, (id, parent, Clock.fromMillis(e.time)))
    e.stageInfos.foreach(s => stageJob.put(s.stageId, id))
    current.jobs += 1
    if (buildPhases.contains(parent)) current.buildJobs += 1
    if (fitPhases.contains(parent)) current.mlFitJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, start) =>
      spans += Span(id, parent, "job", s"job ${e.jobId}", start, Clock.fromMillis(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    current.stages += 1
    for (s <- si.submissionTime; c <- si.completionTime) {
      spans += Span(Spans.nextId(), stageJob.getOrDefault(si.stageId, 0L), "stage",
        s"stage ${si.stageId} (${si.numTasks} tasks)", Clock.fromMillis(s), Clock.fromMillis(c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = current
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Hand back the counters gathered since the last call. Call only
    * after the listener bus is drained. */
  def take(): Counters = synchronized { val c = current; current = new Counters; c }
}

object LayerListener { val ParentKey = "perfbench.parent" }

/** Catalyst and broadcast side: phase times from each finished
  * QueryExecution's tracker, broadcasts from its final physical plan. */
final class PlanListener(layers: LayerListener) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ns = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs * 1000000L).sum
    val seen = new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]()
    val bcasts = try collectWithSubqueries(qe.executedPlan) { case b: BroadcastExchangeExec => b }
      .filter(b => seen.put(b, true) == null)
    catch { case scala.util.control.NonFatal(_) => Nil }
    val bytes = bcasts.map(b => b.metrics.get("dataSize").map(_.value).getOrElse(0L)).sum
    layers.synchronized {
      val c = layers.current
      c.planNs += ns
      c.bcastCount += bcasts.size
      c.bcastBytes += bytes
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** JVM side: the largest live heap seen while `active`, and the
  * collectors' accumulated pause time. */
object Jvm {
  @volatile var active = false
  private var peak = 0L

  /** Collects garbage, then records the heap still in use: the live
    * set, including whatever the program still caches. */
  def sampleLiveHeap(): Unit = if (active) {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { peak = math.max(peak, used) }
  }

  def peakBytes: Long = synchronized(peak)
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** A fixed pure-JVM loop: its time tells a stalled host window apart
    * from a slower program. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("") // keeps the loop from being optimised away
    dt
  }

  def loadAverage(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
