package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans timed from outside the program: (name, start, end, parent, run).
  * Times are epoch milliseconds (fractional) so they line up with Spark's
  * progress timestamps. Kept in memory, written once at the end. */
final class Spans {
  import Spans.Span

  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var run: String = ""

  // epoch-ms clock with nanoTime resolution
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = nowMs()
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, t0, nowMs(), parent, run)
    }
  }

  def toJson: Seq[Map[String, Any]] = done.sortBy(_.id).toSeq.map(s =>
    Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "parent" -> s.parent, "run" -> s.run))
}

object Spans {
  final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int, run: String)
}

/** Per-bucket task totals from the SparkListener (one bucket per timed
  * call in the traced mode). */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedulerDelayMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L

  def add(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      val dur = info.finishTime - info.launchTime
      schedulerDelayMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime.max(0L))
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def toJson: Map[String, Any] = synchronized(Map(
    "tasks" -> tasks, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6,
    "scheduler_delay_ms" -> schedulerDelayMs, "fetch_wait_ms" -> fetchWaitMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_records" -> shuffleRecords,
    "spill_bytes" -> spillBytes))
}

/** The traced mode's listeners: StreamingQuery progress, QueryExecution
  * planning phases and plan metrics, and task metrics. Events are grouped
  * into buckets: `cut()` drains the listener bus and returns everything
  * that arrived since the previous cut. */
final class Recorder(spark: SparkSession) {
  private val progress = new ConcurrentLinkedQueue[Json.Raw]()
  private val starts = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var totals = new TaskTotals

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      starts.add(Map("id" -> e.id.toString, "run_id" -> e.runId.toString, "timestamp" -> e.timestamp))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(Json.Raw(e.progress.json))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(Recorder.describe(funcName, qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val taskListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = totals.add(e)
  }

  spark.streams.addListener(streamListener)
  spark.listenerManager.register(qeListener)
  spark.sparkContext.addSparkListener(taskListener)

  private def drainQ[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }

  def cut(): Map[String, Any] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val t = totals
    totals = new TaskTotals
    Map("progress" -> drainQ(progress), "starts" -> drainQ(starts),
      "executions" -> drainQ(executions), "tasks" -> t.toJson)
  }
}

object Recorder {
  /** Every physical node, through AQE wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case s: QueryStageExec        => s +: nodes(s.plan)
    case o                        => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private def metricSum(ns: Seq[SparkPlan], key: String, node: String => Boolean = _ => true): Long =
    ns.filter(n => node(n.nodeName)).flatMap(_.metrics.get(key)).map(_.value).sum

  def describe(funcName: String, qe: QueryExecution, durationNs: Long): Map[String, Any] = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val ns = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
    Map(
      "func" -> funcName,
      "logical" -> qe.logical.nodeName,
      "duration_ms" -> durationNs / 1e6,
      "analysis_ms" -> phases.getOrElse("analysis", 0L),
      "optimization_ms" -> phases.getOrElse("optimization", 0L),
      "planning_ms" -> phases.getOrElse("planning", 0L),
      "scan_ms" -> metricSum(ns, "scanTime"),
      "broadcast_build_ms" -> metricSum(ns, "buildTime", _.contains("BroadcastExchange")))
  }
}

/** JVM-level counters over a phase: process CPU, GC time, heap peak. */
final class JvmWindow {
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val cpu0 = os.getProcessCpuTime
  private val gc0 = gcMs()

  def close(): Map[String, Any] = Map(
    "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
    "gc_ms" -> (gcMs() - gc0).toDouble,
    "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
}

object Env {
  /** VmHWM (peak resident set) of this JVM, in MiB. */
  def rssPeakMb(): Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Single-thread CPU speed probe: the fixed 64-bit mix loop `graft.Bench`
    * records as cpu_probe_ms (here 20M iterations, min of 3 after a warm-up). */
  def cpuProbeMs(iters: Int = 20000000): Double = {
    def once(): Double = {
      var h = 0x9E3779B97F4A7C15L
      val t0 = System.nanoTime()
      var i = 0
      while (i < iters) {
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
        h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
        h ^= i
        i += 1
      }
      val dt = (System.nanoTime() - t0) / 1e6
      if (h == 42L) System.err.print("")
      dt
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  def sparkConf(spark: SparkSession): scala.collection.immutable.TreeMap[String, String] =
    scala.collection.immutable.TreeMap(spark.conf.getAll.toSeq: _*)
}
