package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}

/** Per-query stats instrumentation (R9).
  *
  * The reference wraps every query in a `QueryStats` recorder that
  * captures per-phase wall times, result row counts, AND memory
  * impact (reference src/query_stats.rs:35-156, memory_before/after/
  * peak at :42-44; every DSL call returns `(result, stats)`).
  *
  * Spark analog: the phases that exist here are Catalyst's —
  * analysis, optimization, physical planning, execution — and each is
  * forced explicitly so its cost is attributable. Memory comes from
  * task metrics gathered by a registered `SparkListener`: the peak
  * execution memory of any task (the per-task analog of the
  * reference's process-peak sample), plus spill and shuffle byte
  * counts, which are the numbers that matter on a cluster — a
  * process-RSS sample is meaningless across executors. Instrumentation
  * adds no extra Spark jobs.
  */
object QueryInstrumentation {

  final case class QueryStats(
      name: String,
      phaseMs: Seq[(String, Double)],
      outputRows: Long,
      peakTaskMemory: Long = 0L,
      shuffleReadBytes: Long = 0L,
      shuffleWriteBytes: Long = 0L,
      spilledBytes: Long = 0L,
      /** tasks from OTHER jobs that ended while this query ran —
        * nonzero means something else (a streaming query, another
        * thread) was executing concurrently; its metrics are NOT in
        * the numbers above, but its resource pressure may be. */
      foreignTasks: Long = 0L) {
    def totalMs: Double = phaseMs.map(_._2).sum
    def phase(p: String): Double =
      phaseMs.collectFirst { case (`p`, ms) => ms }.getOrElse(0.0)
    def pretty: String =
      f"[$name] rows=$outputRows total=${totalMs}%.1fms " +
        phaseMs.map { case (p, ms) => f"$p=${ms}%.1fms" }.mkString(" ") +
        f" peakTaskMem=${peakTaskMemory / 1024.0 / 1024.0}%.2fMB" +
        f" shuffleR=${shuffleReadBytes / 1024.0}%.1fKB" +
        f" shuffleW=${shuffleWriteBytes / 1024.0}%.1fKB" +
        (if (spilledBytes > 0) f" spilled=${spilledBytes / 1024.0}%.1fKB" else "") +
        (if (foreignTasks > 0) s" foreignTasks=$foreignTasks" else "")
  }

  /** Task-metric collector for one job group: `onJobStart` records
    * the stage ids of jobs carrying the group id, and `onTaskEnd`
    * folds in only tasks from those stages — tasks from concurrent
    * jobs (another thread, a streaming micro-batch, a lingering
    * speculative task) are counted in `foreign` instead of polluting
    * the numbers. It also counts the group's jobs and tasks, and
    * `jobSeconds` is the time at least one of its jobs was running:
    * a caller's wall time minus it is the driver gap, time spent
    * planning or between jobs. */
  private[graft] final class TaskMetricsListener(groupId: String) extends SparkListener {
    val peak = new AtomicLong(0L)
    val shuffleRead = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val spilled = new AtomicLong(0L)
    val foreign = new AtomicLong(0L)
    val tasks = new AtomicLong(0L)
    private val myStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val running = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    private val started = new AtomicLong(0L)

    override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
      val props = jobStart.properties
      if (props != null && groupId == props.getProperty("spark.jobGroup.id")) {
        started.incrementAndGet()
        running.put(jobStart.jobId, jobStart.time)
        jobStart.stageIds.foreach(myStages.add(_))
      }
    }

    override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit =
      Option(running.remove(jobEnd.jobId)).foreach { t0 =>
        spans.synchronized(spans += ((t0, jobEnd.time)))
      }

    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
      if (!myStages.contains(taskEnd.stageId)) { foreign.incrementAndGet(); return }
      tasks.incrementAndGet()
      val m = taskEnd.taskMetrics
      if (m != null) {
        peak.getAndAccumulate(m.peakExecutionMemory, math.max)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spilled.addAndGet(m.memoryBytesSpilled)
      }
    }

    def jobs: Long = started.get()

    /** Seconds covered by the union of the group's ended jobs'
      * [start, end] spans (overlapping jobs count once). */
    def jobSeconds: Double = {
      val sorted = spans.synchronized(spans.sortBy(_._1).toList)
      val (total, _) = sorted.foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
        (acc + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }
      total / 1e3
    }
  }

  /** Materializes `df` through the `noop` sink: every row is computed
    * and nothing returns to the driver. Not `count()`, which lets
    * Catalyst prune projections and drop sorts, under-measuring the
    * work a user's query does. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs `body` with a listener scoped to job group `groupId`
    * attached, then waits for the (async) listener bus to drain —
    * after `body`, so a timer inside `body` does not include the
    * wait — and returns `body`'s value with the listener. The caller
    * sets the group on the threads that run the jobs. */
  private[graft] def observe[T](sc: SparkContext, groupId: String)(body: => T): (T, TaskMetricsListener) = {
    val l = new TaskMetricsListener(groupId)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.SparkInternals.waitListenerBusEmpty(sc)
      (r, l)
    } finally sc.removeSparkListener(l)
  }

  /** Runs `action` under a fresh job group with a group-scoped
    * task-metrics listener attached and returns the measurements.
    * Attribution is by job group, so concurrent jobs on the shared
    * SparkContext cannot pollute the numbers (they surface as
    * `foreignTasks`). */
  private def withTaskMetrics[T](df: DataFrame, name: String)(action: => T): (T, Double, TaskMetricsListener) = {
    val sc = df.sparkSession.sparkContext
    val groupId = s"graft-qi-$name-${java.util.UUID.randomUUID()}"
    val ((r, ms), l) = observe(sc, groupId) {
      sc.setJobGroup(groupId, s"graft instrumented query: $name", interruptOnCancel = false)
      try timed(action) finally sc.clearJobGroup()
    }
    (r, ms, l)
  }

  /** Run `df` to a driver-side result with per-phase timings and
    * memory impact — the reference's `(result, stats)` contract. */
  def run(name: String, df: DataFrame): (Array[Row], QueryStats) = {
    val qe = df.queryExecution
    val (_, tAnalyze) = timed(qe.analyzed)
    val (_, tOptimize) = timed(qe.optimizedPlan)
    val (_, tPlan) = timed(qe.executedPlan)
    val (rows, tExec, l) = withTaskMetrics(df, name)(df.collect())
    (rows, QueryStats(name, Seq(
      "analyze" -> tAnalyze, "optimize" -> tOptimize,
      "plan" -> tPlan, "execute" -> tExec), rows.length.toLong,
      l.peak.get(), l.shuffleRead.get(), l.shuffleWrite.get(), l.spilled.get(),
      l.foreign.get()))
  }

  /** Run `df` through the noop sink (nothing returns to the driver) —
    * the right shape when the result is itself big data. */
  def materialize(name: String, df: DataFrame): QueryStats = {
    val qe = df.queryExecution
    val (_, tAnalyze) = timed(qe.analyzed)
    val (_, tOptimize) = timed(qe.optimizedPlan)
    val (_, tPlan) = timed(qe.executedPlan)
    val (_, tExec, l) = withTaskMetrics(df, name)(noop(df))
    QueryStats(name, Seq(
      "analyze" -> tAnalyze, "optimize" -> tOptimize,
      "plan" -> tPlan, "execute" -> tExec), -1L,
      l.peak.get(), l.shuffleRead.get(), l.shuffleWrite.get(), l.spilled.get(),
      l.foreign.get())
  }
}
