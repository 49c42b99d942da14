package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.QueryInstrumentation

class QueryInstrumentationSpec extends AnyFunSuite {
  import SparkTestSession._

  test("R9: run() returns the result plus per-phase timings and row count") {
    val df = graft.operators.Relational.q1Agg(spark, sf)
    val (rows, stats) = QueryInstrumentation.run("q1_agg", df)
    assert(rows.nonEmpty)
    assert(stats.outputRows == rows.length.toLong)
    assert(stats.phaseMs.map(_._1) == Seq("analyze", "optimize", "plan", "execute"))
    assert(stats.phaseMs.forall(_._2 >= 0.0))
    assert(stats.phase("execute") > 0.0, "execution must account for nonzero time")
    assert(stats.totalMs >= stats.phase("execute"))
    assert(stats.pretty.contains("q1_agg"))
  }

  test("R9: materialize() works without collecting to the driver") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey")
    val stats = QueryInstrumentation.materialize("scan", df)
    assert(stats.phase("execute") > 0.0)
  }

  test("R9: metrics are scoped to the query's job group, not the whole context") {
    import java.util.concurrent.{CountDownLatch, Executors}
    // baseline: q1_agg's shuffle-write bytes measured alone
    val solo = QueryInstrumentation.run("q1_solo",
      graft.operators.Relational.q1Agg(spark, sf))._2
    // same query measured while another thread hammers the context
    // with unrelated shuffling jobs: scoped attribution must report
    // the same bytes (pre-scoping, the listener folded in every
    // concurrent task on the shared SparkContext)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val started = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    pool.submit(new Runnable {
      def run(): Unit = {
        started.countDown()
        while (!stop.get()) {
          spark.range(0, 200000).selectExpr("id % 97 as k")
            .groupBy("k").count().write.format("noop").mode("overwrite").save()
        }
      }
    })
    try {
      started.await()
      val concurrent = QueryInstrumentation.run("q1_concurrent",
        graft.operators.Relational.q1Agg(spark, sf))._2
      assert(concurrent.shuffleWriteBytes == solo.shuffleWriteBytes,
        s"foreign tasks leaked into scoped metrics: " +
          s"solo=${solo.shuffleWriteBytes} concurrent=${concurrent.shuffleWriteBytes} " +
          s"(foreignTasks=${concurrent.foreignTasks})")
    } finally {
      stop.set(true)
      pool.shutdown()
    }
  }

  test("R9: memory impact is recorded (reference query_stats.rs memory columns)") {
    // an aggregation acquires execution memory and shuffles, so every
    // memory-side metric the listener collects must be observable
    val df = graft.operators.Relational.q1Agg(spark, sf)
    val (_, stats) = QueryInstrumentation.run("q1_agg_mem", df)
    assert(stats.peakTaskMemory > 0L,
      s"hash aggregation must report task execution memory: ${stats.peakTaskMemory}")
    assert(stats.shuffleWriteBytes > 0L, "groupBy must shuffle")
    assert(stats.shuffleReadBytes > 0L, "final aggregate must read the shuffle")
    assert(stats.pretty.contains("peakTaskMem="))
  }

  test("Bench.runBounded counts its group's jobs, those run while a frame is built included") {
    // the first collect stands in for a build-time fence or driver
    // collect; the noop write is the entry's execution
    val run = Bench.runBounded(spark, "spec", "jobs", 120) {
      val n = spark.range(0, 1000, 1, 2).collect().length
      QueryInstrumentation.noop(spark.range(0, n % 97 + 10, 1, 3).toDF())
    }.getOrElse(fail("the bounded run failed"))
    assert(run.jobs == 2, s"one build-time job and one write job: $run")
    assert(run.tasks == 2 + 3, s"the jobs' tasks are counted: $run")
    assert(run.jobS > 0.0 && run.jobS <= run.wallS,
      s"job seconds are the union of job spans inside the wall: $run")
    // a failing body reports no run
    assert(Bench.runBounded(spark, "spec", "fails", 120)(sys.error("boom")).isEmpty)
  }
}
