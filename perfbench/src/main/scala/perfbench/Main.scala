package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Sizes of each workload's inputs and of its warm-up. Set-up is
  * repeated `Reps` times per run and reported as the median. */
object Sizes {
  val Reps = 3
  val LookupRows = 300000L
  val DedupDocs = 500
  /** warm-up ops per workload: whole op cycles, enough that JIT time
    * in the timed pass reads low (session.jit_s). With 4 on dedup_cc the
    * first timed op was still a tenth slower than the rest and JIT took
    * 3.5–4 s of a 15 s pass; with 8, 1.2 s and no slow first op. */
  val Warm = Map("ii_lookup" -> 30, "dedup_cc" -> 8)
  /** The percentile latency_tail_s reports: fixed per workload, so a
    * faster program (more ops per pass) does not move it up the tail.
    * In a 15-second pass ii_lookup makes 40–60 ops, 8–12 beyond p80;
    * dedup_cc makes 6–10 (1.6–2.1 s each), so no percentile above
    * the median has ten samples beyond it, and p90 is the highest with
    * one. */
  val TailPercentile = Map("ii_lookup" -> 80.0, "dedup_cc" -> 90.0)
}

/** One run of an op, under job group `group`; `steal` is the share of
  * CPU time other guests took while it ran, `adjNs` its wall time less
  * the share of it they stole (Steal.adjust), `held` the RDDs it
  * persisted and left persisted. The result rows are dropped once
  * checked. */
final case class Rec(kind: String, op: Long, group: String, wallNs: Long, adjNs: Long, steal: Double, held: Int,
                     error: Option[String], rows: Long, scanned: Long, returned: Long)

/** One timed pass: `recs` holds one run of each op; `cleanupGcS` is,
  * per op cycle, the off-clock full GC. */
final case class Pass(traced: Boolean, recs: Seq[Rec], gcS: Double, jitS: Double,
                      classes: Long, codegen: Long, heapMb: Double, cleanupGcS: Seq[Double]) {
  /** Op time and op times, less what other guests stole (see README,
    * "Steadiness"); `rawWalls` are the op times as the clock read them. */
  val clockS: Double = recs.map(_.adjNs).sum / 1e9
  val ok: Seq[Rec] = recs.filter(_.error.isEmpty)
  def failed: Int = recs.count(_.error.nonEmpty)
  val walls: Array[Double] = recs.map(_.adjNs / 1e9).sorted.toArray
  val rawWalls: Array[Double] = recs.map(_.wallNs / 1e9).sorted.toArray

  /** Percentile `q` of the op times, interpolated between ranks. */
  def percentile(q: Double): Double =
    if (walls.isEmpty) 0.0
    else {
      val x = q / 100 * (walls.length - 1)
      val lo = x.toInt
      val hi = math.min(lo + 1, walls.length - 1)
      walls(lo) + (x - lo) * (walls(hi) - walls(lo))
    }

  /** Op times above percentile `q`. */
  def beyond(q: Double): Int = walls.count(_ > percentile(q))
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(kv: _*)
}

/** The benchmark JVM: one workload, one seed, one closed loop
  * on one client thread. Writes its artifact to `--out`. */
object Main {

  val OpTimeoutS = 60.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work"))
    val ticks0 = Steal.ticks()
    CcRounds.install()
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = GraftSession.builder(master = Some(s"local[$cores]"),
      shufflePartitions = Some(cores.toString)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to session ready, less what other guests stole from
    // main's start on (the JVM's own start-up before main is not covered)
    val sessionS = Steal.adjust((System.currentTimeMillis() - Jvm.startMillis) * 1000000L, ticks0,
      Steal.ticks()) / 1e9
    try {
      val out =
        if (a.contains("selfcheck")) SelfCheck.run(spark, work, a("seed").toLong)
        else run(spark, a("workload"), a("seed").toLong, a("seconds").toDouble,
          a("trace") == "1", work, new File(a("spans")), sessionS, cores)
      Files.write(new File(a("out")).toPath, Json(out).getBytes(UTF_8))
    } finally spark.stop()
  }

  def workload(spark: SparkSession, name: String, seed: Long): Workload = name match {
    case "ii_lookup" => new IiLookup(spark, seed, Sizes.LookupRows)
    case "dedup_cc" => new DedupCc(spark, seed, Sizes.DedupDocs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Runs `f`; returns its result and its wall seconds less the share
    * other guests stole (Steal.adjust). */
  def timeS[T](f: => T): (T, Double) = {
    val s0 = Steal.ticks()
    val t0 = System.nanoTime()
    val r = f
    (r, Steal.adjust(System.nanoTime() - t0, s0, Steal.ticks()) / 1e9)
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, traced: Boolean,
          work: File, spansFile: File, sessionS: Double, cores: Int): Any = {
    val tracer = new Tracer(traced)
    val w = workload(spark, name, seed)
    w.tracer = tracer

    // set-up, repeated; each rep writes fresh inputs and the last is kept
    val repS = (0 until Sizes.Reps).map { r =>
      tracer.op = -1 - r
      val d = new File(work, s"rep$r")
      val (_, s) = timeS(w.setup(d))
      if (r > 0) Disk.delete(new File(work, s"rep${r - 1}"))
      s
    }
    val (prepareErrors, prepareS) = timeS(w.prepare())

    // warm-up: whole op cycles, results checked but not timed
    val warmOps = Sizes.Warm(name)
    val off = new Tracer(false)
    val (warm, warmS) = timeS(loop(spark, w, off, 0L, Long.MaxValue, warmOps))
    val setupS = sessionS + Stats.median(repS) + warmS

    Jvm.fullGc()
    val budgetNs = (seconds * 1e9).toLong
    val untraced = loop(spark, w, off, warmOps, budgetNs, Int.MaxValue)
    val traceResult = if (!traced) None else {
      val l = new ExecListener
      spark.sparkContext.addSparkListener(l)
      val roundsBefore = w match { case d: DedupCc => d.rounds.size; case _ => 0 }
      val p = loop(spark, w, tracer, warmOps + untraced.recs.size, budgetNs, Int.MaxValue)
      l.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      val rounds = w match { case d: DedupCc => d.rounds.drop(roundsBefore).toSeq; case _ => Nil }
      Some((p, l, rounds))
    }
    val (bytes, liveRows) = w.storage

    def e2e(p: Pass) = {
      val tp = Sizes.TailPercentile(name)
      Json.obj(
        "setup_s" -> setupS,
        "latency_p50_s" -> Stats.median(p.walls),
        "latency_p50_wall_s" -> Stats.median(p.rawWalls),
        "latency_tail_s" -> p.percentile(tp),
        "ops_per_s" -> p.ok.size / p.clockS,
        "rows_per_s" -> p.ok.map(_.rows).sum / p.clockS,
        "stored_bytes_per_row" -> bytes.toDouble / liveRows,
        "error_rate" -> p.failed.toDouble / math.max(1, p.recs.size),
        "tail_percentile" -> tp,
        "tail_beyond" -> p.beyond(tp),
        "ops" -> p.recs.size,
        "pass_s" -> p.clockS,
        "pass_wall_s" -> p.recs.map(_.wallNs).sum / 1e9,
        "steal_share" -> Stats.mean(p.recs.map(_.steal)),
        "stolen_share" -> (1 - p.recs.map(_.adjNs).sum.toDouble / math.max(1L, p.recs.map(_.wallNs).sum)))
    }

    def passInfo(p: Pass) = Json.obj(
      "traced" -> p.traced, "ops" -> p.recs.size, "failed" -> p.failed,
      "session.jit_s" -> p.jitS, "session.gc_s" -> p.gcS, "session.heap_peak_mb" -> p.heapMb,
      "classes_loaded" -> p.classes, "codegen_compiles" -> p.codegen,
      "cleanup_gc_s" -> p.cleanupGcS,
      "kinds" -> p.recs.groupBy(_.kind).map { case (k, rs) =>
        k -> Json.obj("ops" -> rs.size, "p50_s" -> Stats.median(rs.map(_.wallNs / 1e9))) },
      "errors" -> p.recs.flatMap(r => r.error.map(e => s"op ${r.op} ${r.kind}: $e")).take(5),
      "series" -> p.recs.map(r => Seq(r.kind, r.wallNs / 1e9, r.adjNs / 1e9, r.steal)))

    val unE2e = e2e(untraced)
    val layers = traceResult.map { case (p, l, rounds) =>
      val tr = e2e(p)
      val overhead = Json.obj(
        "latency_p50_s" -> (tr("latency_p50_s").asInstanceOf[Double] / unE2e("latency_p50_s").asInstanceOf[Double] - 1),
        "ops_per_s" -> (tr("ops_per_s").asInstanceOf[Double] / unE2e("ops_per_s").asInstanceOf[Double] - 1))
      (perLayer(w, p, l, tracer, rounds, sessionS), overhead, passInfo(p), tr)
    }

    val passes = Seq(warm, untraced) ++ traceResult.map(_._1)
    writeSpans(tracer, traceResult.map { case (p, l, _) => (p, l) }, spansFile)
    Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      // every op, warm-up included; a failed oracle preparation
      // counts as a failure too
      "attempted" -> passes.map(_.recs.size).sum,
      "failed" -> (passes.map(_.failed).sum + prepareErrors.size),
      "prepare_errors" -> prepareErrors,
      "warmup_errors" -> passInfo(warm)("errors"),
      "end_to_end" -> unE2e,
      "per_layer" -> layers.map(_._1),
      "trace_overhead" -> layers.map(_._2),
      "traced_end_to_end" -> layers.map(_._4),
      "passes" -> (Seq(passInfo(untraced)) ++ layers.map(_._3)),
      "setup" -> Json.obj("session_s" -> sessionS, "reps_s" -> repS, "warmup_s" -> warmS,
        "warmup_ops" -> warmOps, "oracle_prepare_s" -> prepareS),
      "stamp" -> Json.obj("cores" -> cores, "jvm_flags" -> Jvm.flags, "max_heap_mb" -> Jvm.maxHeapMb,
        "inputs" -> w.inputStats, "stored_bytes" -> bytes, "live_rows" -> liveRows))
  }

  /** The closed loop: one op at a time until `maxOps` ops, or until a
    * cycle ends after `budgetNs` of op wall time. Whole cycles keep the
    * mix of op kinds, and so the median and the tail, the same in every
    * pass. Each op has its own job group; its check runs after the
    * clock stops. */
  def loop(spark: SparkSession, w: Workload, t: Tracer, first: Long, budgetNs: Long, maxOps: Int): Pass = {
    val sc = spark.sparkContext
    val mark = Jvm.mark()
    val recs = mutable.ArrayBuffer.empty[Rec]
    val cleanupMs = mutable.ArrayBuffer.empty[Long]
    var clock = 0L
    var heapMb = 0.0
    var i = first
    while (recs.size < maxOps && ((i - first) % w.cycle != 0 || clock < budgetNs)) {
      // once per cycle, off the clock: a full GC lets Spark's
      // ContextCleaner drop the shuffles, broadcasts and checkpoint
      // blocks of earlier ops, which otherwise pile up and slow later
      // ops within a run. The GC's time is reported.
      if ((i - first) % w.cycle == 0) cleanupMs += Jvm.fullGc()
      t.op = i
      val r = runOnce(sc, w.op(i), t, i)
      heapMb = math.max(heapMb, Jvm.heapUsedMb)
      recs += r
      clock += r.wallNs
      i += 1
    }
    val (gcMs, jitMs, classes, codegen) = Jvm.since(mark)
    Pass(t.enabled, recs.toSeq, (gcMs - cleanupMs.sum) / 1e3, jitMs / 1e3, classes, codegen, heapMb,
      cleanupMs.map(_ / 1e3).toSeq)
  }

  private def runOnce(sc: org.apache.spark.SparkContext, op: Op, t: Tracer, i: Long): Rec = {
    val group = s"pb-$i"
    sc.setJobGroup(group, op.kind)
    val persisted = sc.getPersistentRDDs.keySet
    val s0 = Steal.ticks()
    val t0 = System.nanoTime()
    val res = try Right(t.span(s"op.${op.kind}")(op.run(t))) catch { case e: Throwable => Left(e) }
    val wall = System.nanoTime() - t0
    val s1 = Steal.ticks()
    val steal = Steal.share(s0, s1)
    val held = sc.getPersistentRDDs.keys.count(!persisted.contains(_))
    sc.clearJobGroup()
    val err = res match {
      case Left(e) => Some(s"threw $e")
      case Right(o) =>
        if (wall / 1e9 > OpTimeoutS) Some(f"timed out (${wall / 1e9}%.1f s)")
        else try o.check(o.out) catch { case e: Throwable => Some(s"check threw $e") }
    }
    val o = res.toOption
    Rec(op.kind, i, group, wall, Steal.adjust(wall, s0, s1), steal, held, err, o.fold(0L)(_.rows), o.fold(-1L)(_.scanned()), o.fold(0L)(_.returned))
  }

  val OperatorFns = Seq("by_doc_ids.isin", "by_doc_ids.rule", "by_doc_ids.broadcast",
    "numeric_stats_by_doc_ids", "minhash_pairs", "cc_clusters")

  val Kinds = Seq("r2_isin", "r2_rule", "r2_broadcast", "r4_isin", "r4_rule", "r4_broadcast",
    "r8_point", "dedup_cc")

  /** Every per-layer metric, from the traced pass's spans, listener
    * groups and JVM readings. Times are medians per call or per op;
    * counts and bytes are means per op. */
  def perLayer(w: Workload, p: Pass, l: ExecListener, t: Tracer, rounds: Seq[Int],
               sessionS: Double): mutable.LinkedHashMap[String, Double] = {
    val ops = p.recs.map(_.op).toSet
    val passSpans = t.spans.filter(s => ops.contains(s.op))
    def durs(name: String, in: Iterable[Span] = passSpans) =
      in.filter(_.name == name).map(_.seconds)
    val m = mutable.LinkedHashMap.empty[String, Double]

    m("session.start_s") = sessionS
    m("session.jit_s") = p.jitS
    m("session.gc_s") = p.gcS
    m("session.heap_peak_mb") = p.heapMb
    m("session.cleanup_gc_s") = Stats.median(p.cleanupGcS)
    m("session.held_rdds") = Stats.median(p.recs.map(_.held.toDouble))

    val writes = t.spans.filter(s => s.name == "sources.write" && s.op < 0)
    val writeS = writes.map(_.seconds)
    m("sources.write_s") = Stats.median(writeS)
    m("sources.write_rows_per_s") = if (writeS.sum > 0) writes.map(_.n).sum / writeS.sum else 0.0
    val in = w.inputStats
    m("sources.files") = in("files")
    m("sources.row_groups") = in("row_groups")
    m("sources.bytes") = in("bytes")
    m("sources.lookup_s") = Stats.median(durs("sources.point_lookup"))
    val reads = p.ok.filter(_.scanned >= 0)
    m("sources.rows_scanned_per_row_out") =
      if (reads.isEmpty) 0.0 else reads.map(_.scanned).sum.toDouble / math.max(1L, reads.map(_.returned).sum)

    OperatorFns.foreach { f =>
      val d = durs(s"operators.$f")
      m(s"operators.$f.build_s") = Stats.median(d)
      m(s"operators.$f.calls") = d.size.toDouble
    }
    m("operators.cc.rounds") = Stats.median(rounds.map(_.toDouble))
    Seq("operators.dedup.verified_per_candidate", "operators.dedup.planted_recall")
      .foreach(k => m(k) = w.layerValues.getOrElse(k, 0.0))

    def perOp(name: String) = p.recs.map(r => passSpans.filter(s => s.op == r.op && s.name == name)
      .map(_.seconds).sum)
    m("plans.analyze_s") = Stats.median(perOp("plans.analyze"))
    m("plans.optimize_s") = Stats.median(perOp("plans.optimize"))
    m("plans.physical_s") = Stats.median(perOp("plans.physical"))
    m("plans.codegen_compiles") = p.codegen.toDouble / math.max(1, p.recs.size)

    val g = p.recs.map(r => r -> l.stats(r.group))
    def mean(f: GroupStats => Double) = Stats.mean(g.map(x => f(x._2)))
    m("exec.jobs") = mean(_.jobs)
    m("exec.stages") = mean(_.stages)
    m("exec.tasks") = mean(_.tasks)
    // scaled like the op's own time (Steal.adjust)
    m("exec.driver_gap_s") = Stats.median(g.map { case (r, s) =>
      (r.wallNs / 1e9 - s.jobUnionSeconds) * r.adjNs / math.max(1L, r.wallNs) })
    m("exec.task_busy_s") = mean(_.taskBusyMs / 1e3)
    m("exec.task_gc_s") = mean(_.taskGcMs / 1e3)
    m("exec.shuffle_read_bytes") = mean(_.shuffleRead.toDouble)
    m("exec.shuffle_write_bytes") = mean(_.shuffleWrite.toDouble)
    m("exec.spill_bytes") = mean(_.spill.toDouble)
    m("exec.peak_task_mem_bytes") = g.map(_._2.peakTaskMem.toDouble).maxOption.getOrElse(0.0)
    m("exec.input_records") = mean(_.inputRecords.toDouble)
    m("exec.failed_tasks") = g.map(_._2.failedTasks).sum.toDouble
    // the fewest jobs any op of the kind ran: dedup_cc ops run 35 or
    // 36 jobs on one input, so a median would not repeat across runs
    Kinds.foreach { k =>
      m(s"exec.jobs.$k") = g.filter(_._1.kind == k).map(_._2.jobs.toDouble).minOption.getOrElse(0.0)
    }
    m
  }

  /** Writes the spans, plus one `exec.job` span per Spark job of each
    * op (job times are wall-clock milliseconds, shifted onto the spans'
    * nanosecond clock, and not adjusted for steal), as JSON lines. */
  def writeSpans(t: Tracer, traced: Option[(Pass, ExecListener)], f: File): Unit = if (t.enabled) {
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val root = t.spans.filter(_.name.startsWith("op.")).map(s => s.op -> s.id).toMap
    var id = t.spans.map(_.id).maxOption.getOrElse(0)
    val jobs = for {
      (p, l) <- traced.toSeq
      r <- p.recs
      (s, e) <- l.stats(r.group).jobSpans
    } yield { id += 1; Span("exec.job", s * 1000000L + offset, e * 1000000L + offset, root.getOrElse(r.op, -1), r.op, id, -1L,
      (e - s) * 1000000L) }
    val all = t.spans ++ jobs
    val names = all.map(s => s.id -> s.name).toMap
    val lines = all.sortBy(_.start).map { s =>
      Json(Json.obj("id" -> s.id, "name" -> s.name, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end,
        "adj_ns" -> s.adj,
        "parent" -> s.parent, "parent_name" -> names.get(s.parent), "rows" -> s.n))
    }
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
