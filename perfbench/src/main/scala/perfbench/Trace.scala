package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** One timed call. `op` is the op id shared by all spans of one op
  * (negative during set-up); `n` is the rows the call handled, or -1;
  * `adj` is its duration less the share other guests stole
  * (Steal.adjust). */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Long, id: Int, n: Long, adj: Long) {
  def seconds: Double = adj / 1e9
}

/** Spans around the benchmark's calls into each graft layer. Disabled,
  * every method runs its body and records nothing, so the untraced
  * pass pays one branch per call. Spans stay in memory and are written
  * when the run ends. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var op = -1L

  def span[T](name: String, n: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val s0 = Steal.ticks()
      val t0 = System.nanoTime()
      stack.push(id)
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans += Span(name, t0, t1, parent, op, id, n, Steal.adjust(t1 - t0, s0, Steal.ticks()))
      }
    }

  /** Run `df` to the driver. Traced, Catalyst's phases are forced one
    * at a time first, as QueryInstrumentation.run does, so each gets
    * its own span; untraced, `collect` runs them internally. */
  def collect(df: DataFrame): Array[Row] =
    if (!enabled) df.collect()
    else {
      val qe = df.queryExecution
      span("plans.analyze")(qe.analyzed)
      span("plans.optimize")(qe.optimizedPlan)
      span("plans.physical")(qe.executedPlan)
      span("exec.collect")(df.collect())
    }
}

/** Rows the parquet scans emitted while running `df` (after row-group
  * pruning, before any post-scan filter), or -1 if its plan has no
  * file scan. Reads the metrics of the plan `df.collect()` already
  * executed, walking into the query stages adaptive execution cut it
  * into, and counts file scans only, so a broadcast id list (a local
  * table scan) is not taken for rows read. */
object ScanRows {
  def apply(df: DataFrame): Long = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val found = scans(df.queryExecution.executedPlan)
    if (found.isEmpty) -1L else found.flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
  }
}

/** CPU time that other guests of the host took from this machine
  * (steal, from the first line of /proc/stat). */
object Steal {
  /** (steal, busy, total) jiffies of all CPUs, or None where /proc/stat
    * is missing. Busy is user, nice, system, irq and softirq time. */
  def ticks(): Option[(Long, Long, Long)] = try {
    val r = new java.io.BufferedReader(new java.io.FileReader("/proc/stat"))
    val f = try r.readLine().trim.split("\\s+").slice(1, 9).map(_.toLong) finally r.close()
    Some((f(7), f(0) + f(1) + f(2) + f(5) + f(6), f.sum))
  } catch { case _: Exception => None }

  /** Share of all CPU time stolen between two readings; 0 without them. */
  def share(a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)]): Double = (a, b) match {
    case (Some((s0, _, t0)), Some((s1, _, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => 0.0
  }

  /** Share of the time the CPUs wanted to run that was stolen between
    * two readings: steal ÷ (busy + steal). An idle CPU is not stolen
    * from, so this is the share by which the machine's work was slowed,
    * however many CPUs it kept busy; 0 without readings. */
  def busyShare(a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)]): Double = (a, b) match {
    case (Some((s0, b0, _)), Some((s1, b1, _))) if (s1 - s0) + (b1 - b0) > 0 =>
      (s1 - s0).toDouble / ((s1 - s0) + (b1 - b0))
    case _ => 0.0
  }

  /** `ns` of wall time between two readings, less the share of it the
    * host stole: the time the same work takes on a machine nobody
    * steals from. */
  def adjust(ns: Long, a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)]): Long =
    (ns * (1 - busyShare(a, b))).toLong
}

/** Exec-layer totals for one job group (one op). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskBusyMs = 0L
  var taskGcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakTaskMem = 0L
  var inputRecords = 0L

  /** Seconds covered by the union of this group's job intervals. */
  def jobUnionSeconds: Double = {
    val sorted = jobSpans.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}

/** The benchmark's own SparkListener: attributes jobs, stages and task
  * metrics to the op whose job group started them. Registered only in
  * the traced pass. */
final class ExecListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()

  def stats(group: String): GroupStats = groups.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val s = stats(group)
      s.synchronized {
        s.jobs += 1
        s.stages += e.stageIds.size
      }
      e.stageIds.foreach(stageGroup.put(_, group))
      jobGroup.put(e.jobId, group)
      jobStart.put(e.jobId, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val group = jobGroup.remove(e.jobId)
    if (group != null) {
      val s = stats(group)
      val t0 = jobStart.remove(e.jobId)
      s.synchronized { s.jobSpans += (t0 -> e.time) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = stageGroup.get(e.stageId)
    if (group == null) return
    val s = stats(group)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (e.reason != org.apache.spark.Success) s.failedTasks += 1
      if (m != null) {
        s.taskBusyMs += m.executorRunTime
        s.taskGcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakTaskMem = math.max(s.peakTaskMem, m.peakExecutionMemory)
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.graft.SparkInternals.waitListenerBusEmpty(sc)
}

/** JIT, GC and heap readings of this JVM, taken around a timed pass. */
object Jvm {
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def heapUsedMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def classes: Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
  private def codegen: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final case class Mark(gc: Long, jit: Long, classes: Long, codegen: Long)
  def mark(): Mark = Mark(gcMs, jitMs, classes, codegen)
  /** (GC ms, JIT ms, classes loaded, generated classes compiled) since `m`. */
  def since(m: Mark): (Long, Long, Long, Long) =
    (gcMs - m.gc, jitMs - m.jit, classes - m.classes, codegen - m.codegen)

  /** Runs a full GC; returns the GC ms it took. */
  def fullGc(): Long = {
    val before = gcMs
    System.gc()
    gcMs - before
  }

  def flags: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
