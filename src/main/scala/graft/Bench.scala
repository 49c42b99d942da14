package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.{FutureTask, TimeUnit, TimeoutException}

/** Benchmark main: per-query seconds → artifact file + one stdout line.
  *
  * Measurement discipline (a correct number needs all three):
  *  - materialize through the `noop` sink, not `count()` — count lets
  *    Catalyst prune projections and drop sorts, under-measuring the
  *    real work a user's query does;
  *  - one warm-up pass over every query first, so session startup,
  *    codegen compilation, and filesystem cache effects don't land on
  *    whichever query happens to run first;
  *  - median of SPARK_GRAFT_BENCH_REPS (default 3) timed runs per
  *    query, robust to one-off GC/scheduler noise.
  *
  * Robustness discipline (a complete artifact needs both):
  *  - every attempt runs under a per-entry wall ceiling
  *    (SPARK_GRAFT_BENCH_CEILING seconds, default 120): one
  *    pathological plan records -1 and the sweep CONTINUES, instead of
  *    rc-124ing the whole gate and erasing the other 250 measurements
  *    (the round-11 q_interp_resample failure mode);
  *  - the full 251-entry JSON goes to SPARK_GRAFT_BENCH_OUT
  *    (default BENCH_full.json); stdout gets a SHORT line — total,
  *    failures, top-15 slowest — because the driver captures only a
  *    ~2k-char tail and a full per-query map truncates from the front,
  *    leaving the round with `parsed: null`.
  */
object Bench {
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run `body` on its own thread under `ceilingSec`; on timeout cancel
    * the entry's Spark job group and report failure. Job groups are
    * thread-local, so the group is set INSIDE the task thread. `tag`
    * prefixes the group and the stderr lines ("bench", "verify"). */
  private[graft] def runBounded(spark: SparkSession, tag: String, name: String,
                                ceilingSec: Int)(body: => Unit): Boolean = {
    val group = s"$tag-$name"
    val task = new FutureTask[Unit](() => {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      try body finally spark.sparkContext.clearJobGroup()
    })
    val th = new Thread(task, group)
    th.setDaemon(true)
    th.start()
    try { task.get(ceilingSec.toLong, TimeUnit.SECONDS); true }
    catch {
      case _: TimeoutException =>
        System.err.println(s"[$tag] $name exceeded ${ceilingSec}s ceiling — cancelling")
        spark.sparkContext.cancelJobGroup(group)
        task.cancel(true)
        // give the cancelled jobs a moment to drain so they don't
        // contaminate the NEXT entry's measurement
        try task.get(30, TimeUnit.SECONDS) catch { case _: Throwable => () }
        false
      case e: Throwable =>
        val cause = e.getCause match { case null => e; case c => c }
        System.err.println(s"[$tag] $name failed: ${cause.getMessage}")
        false
    }
  }

  def main(args: Array[String]): Unit = {
    // dev affordance: SPARK_GRAFT_ONLY=a,b,c restricts the run to the
    // named entries for ISOLATED measurement (full-sweep wall ratios
    // carry cross-query contention; scale triage needs both). An
    // unknown name throws here, before any wait or artifact write. The
    // driver never sets it — full sweep by default.
    val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // fail fast on a malformed core count — interpolated unquoted into
    // the JSON artifact below, so "32 "/"8g" would silently corrupt it
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val ceiling = sys.env.getOrElse("SPARK_GRAFT_BENCH_CEILING", "120").trim.toInt
    // system load before AND after the run: a concurrent sweep on the
    // same box contaminates every wall time ~uniformly (the round-9
    // phantom 27% regression; the round-13 +8.5% drift; round 15's
    // whole artifact at loadavg 5.41 — a 2.0x phantom regression that
    // took a judge adjudication to un-poison). Warning and writing
    // anyway produced three straight rounds of noise artifacts, so a
    // loaded box now WAITS (up to 10 min for the load to drain — a
    // finishing sweep is the common cause) and then REFUSES: no
    // artifact beats a wrong one that every later round trends
    // against. SPARK_GRAFT_BENCH_FORCE=1 restores warn-and-write for
    // deliberate loaded runs; the stamp still records the truth.
    def loadavgFields(): Array[String] =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")
      catch { case _: Throwable => Array.empty }
    def loadavg(): Double =
      loadavgFields().headOption.map(_.toDouble).getOrElse(-1.0)
    // instantaneous runnable count (field 4's numerator, e.g. "3/328"),
    // minus this process's own sampling thread: the 1-min loadavg keeps
    // reading high for ~2 min after a burst FINISHES (decay, not
    // contention), and back-to-back sweep invocations would stall on
    // their own wake. Three low samples over 6 s = the box is idle NOW.
    // the numeric parse shares the file-read failure path: a malformed
    // field means "can't tell", which must read as busy (Int.MaxValue),
    // not crash the bench before it measures
    def runnableOthers(): Int =
      loadavgFields().lift(3).flatMap(_.split("/").headOption)
        .flatMap(r => scala.util.Try(r.trim.toInt).toOption)
        .map(r => math.max(0, r - 1)).getOrElse(Int.MaxValue)
    def idleNow(): Boolean = (1 to 3).forall { _ =>
      Thread.sleep(2000); runnableOthers() <= 2
    }
    val loadCap = cpus / 8.0
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").exists(v => v == "1" || v == "true")
    var loadAvg = loadavg()
    // stamped in the artifact: true when the run was admitted while the
    // 1-min loadavg was still above cap (decaying after a burst) on the
    // strength of an idle instantaneous run queue — trend scripts can
    // discount such artifacts (r16's 4.28-load acceptance produced 2-4x
    // per-entry noise)
    var acceptedDecaying = false
    if (loadAvg > loadCap && force)
      System.err.println(f"[bench] WARNING: loadavg $loadAvg%.1f > cap $loadCap%.1f " +
        "but SPARK_GRAFT_BENCH_FORCE is set — results are contention-contaminated")
    else if (loadAvg > loadCap) {
      // wait (real wall clock, not the sleep constant) up to 10 min for
      // the load to drain. Each iteration computes ONE admission verdict:
      // either the loadavg is back under cap, or the instantaneous run
      // queue reads idle TWICE 30 s apart (a single quiet flicker must
      // not admit a contended run, and a single busy flicker must fall
      // back into the wait loop, not straight to refusal).
      val waitStart = System.nanoTime()
      def elapsedSec(): Long = (System.nanoTime() - waitStart) / 1000000000L
      var accepted = false
      while (!accepted) {
        loadAvg = loadavg()
        if (loadAvg <= loadCap) accepted = true
        else if (idleNow()) {
          Thread.sleep(30000)
          loadAvg = loadavg()
          if (loadAvg <= loadCap) accepted = true
          else if (idleNow()) { accepted = true; acceptedDecaying = true }
        }
        if (!accepted) {
          if (elapsedSec() >= 600) {
            System.err.println(f"[bench] REFUSING to measure: loadavg $loadAvg%.1f > cap " +
              f"$loadCap%.1f after ${elapsedSec()}s of waiting. A contended artifact poisons " +
              "every later round-over-round comparison. Idle the box and rerun, or set " +
              "SPARK_GRAFT_BENCH_FORCE=1 for a deliberate loaded run.")
            sys.exit(2)
          }
          System.err.println(f"[bench] 1-min loadavg $loadAvg%.1f > cap $loadCap%.1f " +
            f"($cpus cores) and the run queue is busy — waiting (${elapsedSec()}s/600s)")
          Thread.sleep(30000)
        }
      }
    }
    val spark = GraftSession.builder(Some(s"local[$cpus]"), Some(cpus.toString)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    selected.foreach { e =>
      runBounded(spark, "bench", e.name, ceiling)(materialize(e.build(spark, sfDir)))
    }
    // per-entry 1-min loadavg at the entry's first timed rep: the
    // admission gate above checks the START of the run, but a sweep
    // that begins mid-run contaminates only a SLICE of entries (r17's
    // 32-core artifact: nine entries 2-8x slower than both idle
    // references). Stamping the load each entry saw lets a trend
    // script discount exactly the poisoned entries instead of the
    // whole artifact. Detail-file only — the stdout line stays short.
    val entryLoads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = selected.map { e =>
      entryLoads(e.name) = math.rint(loadavg() * 100) / 100
      // a failed/over-ceiling rep must not masquerade as a fast one:
      // such entries report -1 and are excluded from the total
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        if (runBounded(spark, "bench", e.name, ceiling)(materialize(e.build(spark, sfDir))))
          Some((System.nanoTime() - t0) / 1e9)
        else None
      }.sorted
      e.name -> (if (times.length < reps) -1.0 else times(times.length / 2))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // a partial total must not read as a speedup: any failed query
    // poisons the total to -1, and the failures are named explicitly
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total =
      if (failed.nonEmpty) -1.0
      else results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cpus is stamped so cross-artifact wall ratios (10x vs 1x) can be
    // read as data scaling, not a silent core-count change
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    // the warm-up leaves only Tables' plan memo, which holds plans, not results
    val meta = s""""failed":$failedJson,"reps":$reps,"cpus":$cpus,"ceiling_sec":$ceiling,"loadavg_pre":$loadAvg,"loadavg_post":${loadavg()},"accepted_decaying_load":$acceptedDecaying,"warm_intermediates":[],"sf":"$sfDir""""
    val loadsJson = entryLoads.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"entry_loadavg":$loadsJson,$meta}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
    // stdout: SHORT machine-readable line (top-15 slowest only) so the
    // driver's tail capture parses it; full per-query map is in outFile
    val top = results.filter(_._2 >= 0).sortBy(-_._2).take(15)
      .map { case (k, v) => s"\"" + k + "\":" + (math.rint(v * 1000) / 1000) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.length},"queries":$top,$meta,"detail":"$outFile"}""")
    spark.stop()
  }
}
