package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic micro-batch replay harness: the driver-gate bridge
  * between Structured Streaming's incremental stateful execution and a
  * batch SQL oracle. Each gate replays a testdata table through the
  * REAL streaming engine — file source, one staged file per trigger,
  * memory sink — and returns a final table that must hash-match what
  * the oracle computes in one batch pass. What is being verified is
  * the streaming STATE MACHINERY itself: that state merged across
  * micro-batches converges to the order-free batch answer.
  *
  * Determinism contract: FileStreamSource admits files oldest-mtime
  * first, so `stageSlices` writes one parquet file per slice
  * sequentially and pins strictly increasing mtimes — the micro-batch
  * order IS the slice order, on any filesystem, every run.
  */
object Replay {

  /** Child session for one replay's streaming query, with
    * `spark.sql.shuffle.partitions` — the knob that fixes a streaming
    * query's STATE STORE partition count at start — sized for the
    * replay gates instead of inherited from the batch-session global.
    *
    * Sizing rationale (optimization guide §2.2/§6 applied to state
    * stores): every stateful micro-batch pays one state-store
    * load/commit (delta file + fsync) PER PARTITION PER STATEFUL
    * OPERATOR, a fixed cost independent of rows — a stream-stream join
    * carries four stores per partition, so at the session default
    * (= cores) one 4-batch replay of a kilobyte trigger commits
    * 4 stores × cores × batches files. State-store count should track
    * LIVE-STATE BYTES / target-state-per-partition, not driver cores —
    * so the count derives from the staged input's byte size (an
    * upper bound on what the stateful operators can retain), clamped
    * to [4, session shuffle partitions] ([[statePartitionCount]]): at
    * bench scale the staged slices are KB-MB and the floor of 4
    * applies (measured: 4 → 6.3 s, 8 → 6.8 s, 16 → 11.4 s warm on
    * q_stream_join at 32 cores — per-partition commit fan-out, not
    * parallelism, dominates); at production scale the count grows with
    * the data, never past the cluster's configured shuffle width.
    *
    * Isolation: the naive set/restore had two leaks — an entry
    * abandoned mid-run by a bench timeout could leave the shrunken
    * value active for later entries, and a late `finally` could
    * capture the shrunken value as "prev" and pin the session there.
    * (`spark.newSession()` would isolate perfectly, but it MEASURED
    * ~2× slower per replay on this box — a fresh SessionState's cold
    * analyzer/plan caches are re-paid by every micro-batch's
    * IncrementalExecution — so the shared session is kept.) The guard
    * here is a process-wide lock (replays never overlap each other)
    * plus leak healing: the restore target ignores a `prev` equal to a
    * value this helper itself set — that can only be a leak from an
    * abandoned run — and falls back to the session default from the
    * SparkContext conf. */
  private val statePartitionsLock = new Object
  private val lastSetStatePartitions =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private[graft] def withStatePartitions[T](
      spark: SparkSession, stagedBytesHint: Long)(
      body: => T): T = statePartitionsLock.synchronized {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val base =
      if (prev != null && prev == lastSetStatePartitions.get)
        spark.sparkContext.getConf.get(key, prev) // leaked shrink → heal to default
      else prev
    val sessionWidth = scala.util.Try(base.toInt).getOrElse(16)
    val n = statePartitionCount(stagedBytesHint, sessionWidth).toString
    lastSetStatePartitions.set(n)
    spark.conf.set(key, n)
    try body finally spark.conf.set(key, base)
  }

  private val StateTargetBytes = 64L << 20 // live state per state-store partition

  /** State-store partitions for a replay over `stagedBytes` of input:
    * ceil(stagedBytes / 64 MB), clamped to [4, max(4, sessionWidth)]. */
  private[graft] def statePartitionCount(stagedBytes: Long, sessionWidth: Int): Int = {
    val byBytes = (stagedBytes + StateTargetBytes - 1L) / StateTargetBytes
    math.min(math.max(4L, byBytes), math.max(4, sessionWidth).toLong).toInt
  }

  /** Total bytes of the staged replay files under `dirs` — the
    * bytes-driven state-partition count's input. Local listing of
    * the just-written temp stage; no Spark job. */
  private[graft] def stagedBytes(dirs: String*): Long =
    dirs.map { d =>
      Option(new java.io.File(d).listFiles())
        .map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
    }.sum

  /** Stage every slice of one frame as single parquet files
    * `0000.parquet`, `0001.parquet`, … under a fresh `graft.Scratch` dir with
    * strictly increasing mtimes; with maxFilesPerTrigger=1 the
    * streaming file source then replays exactly one slice per
    * micro-batch, in order — in ONE Spark job (guide §1.2: the
    * previous per-slice coalesce(1) writes were n sequential jobs per
    * stream, pure driver/staging overhead in every replay gate).
    * `dfWithSlice` carries a 0-based integer `__slice` column; one
    * hash-partitioned `partitionBy(__slice)` write emits exactly one
    * file per slice (each slice's rows land in one task via the
    * explicit-count repartition, and the writer opens one file per
    * partition value per task), which is then moved into the flat
    * pinned-mtimes layout — the micro-batch order contract is
    * unchanged. */
  def stageSliced(dfWithSlice: DataFrame, nSlices: Int): String = {
    val stage = graft.Scratch.dir(dfWithSlice.sparkSession, "graft-replay")
    val tmp = s"$stage/_tmp"
    val df = dfWithSlice.withColumn("__slice", col("__slice").cast("int"))
    // maxRecordsPerFile=0 pinned per-write: a session that sets the
    // conf would otherwise roll part files and break the
    // one-file-per-slice contract below for every replay gate
    df.repartition(nSlices, col("__slice"))
      .write.mode("overwrite").option("maxRecordsPerFile", 0)
      .partitionBy("__slice").parquet(tmp)
    (0 until nSlices).foreach { i =>
      val dir = new java.io.File(s"$tmp/__slice=$i")
      val dest = Paths.get(stage, f"$i%04d.parquet")
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      parts.toList match {
        case one :: Nil => Files.move(one.toPath, dest)
        case Nil =>
          // empty slice: stage an empty single-row-group file with the
          // parent schema so the trigger still fires in order
          df.limit(0).drop("__slice").coalesce(1)
            .write.mode("overwrite").parquet(s"$tmp/__empty$i")
          val e = new java.io.File(s"$tmp/__empty$i").listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no empty part staged for slice $i"))
          Files.move(e.toPath, dest)
        case more => sys.error(s"slice $i staged ${more.size} files, expected 1")
      }
      // pinned, spaced mtimes: slice order survives coarse fs clocks
      dest.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    // best-effort cleanup of the partitioned scratch dir
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(tmp))
    stage
  }

  /** Run `query` (applied to a file stream over `stage`) to completion
    * into a memory sink and return the sink table. `schema` is the
    * staged files' schema — callers know it statically (the staged
    * frame minus `__slice`), so the stream skips a footer-inference
    * read per gate. */
  def runToMemory(spark: SparkSession, stage: String,
                  schema: org.apache.spark.sql.types.StructType,
                  outputMode: String)(
      query: DataFrame => DataFrame): DataFrame = {
    val name = "graft_replay_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, stagedBytes(stage)) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = query(stream).writeStream.format("memory").queryName(name)
        .outputMode(outputMode).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** X2 driver gate: gap-based sessionization replayed through
    * `flatMapGroupsWithState` (append mode, event-time timeout) as
    * `batches` time-ranged micro-batches. Ranges ascend, so no event
    * is ever late to the watermark and every cross-batch session
    * continuation exercises real state handoff. Sessions left open
    * after the data are flushed by two sentinel events for user −1,
    * 2×gap+1h past the last real event: the first advances the
    * watermark beyond every open session's last+gap, the next batch
    * fires the event-time timeouts. The sentinel user is dropped from
    * the output; session ordinals are re-derived per user by start
    * time so the result matches the batch oracle's running-break ids. */
  def replaySessionize(spark: SparkSession, sfDir: String,
                       gapMinutes: Int = 480, batches: Int = 4): DataFrame = {
    import spark.implicits._
    // NULL-ts rows are dropped explicitly, matching the original
    // per-slice range filters (ts >= a && ts < b) that never admitted
    // them — the slice CASE's otherwise() branch must not adopt them
    val ev = Tables.events(spark, sfDir)
      .where(col("ts").isNotNull)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo + 1
    // same cut points as the per-slice filters, as ONE driver-side
    // CASE — the staging then writes every slice in one job
    // (stageSliced) instead of `batches` sequential coalesce(1) jobs
    val cuts = (1 until batches).map(i => lo + span * i / batches)
    val sliceOf = cuts.zipWithIndex.foldRight(lit(batches - 1): org.apache.spark.sql.Column) {
      case ((cut, i), rest) => when(unix_micros(col("ts")) < cut, i).otherwise(rest)
    }
    val farMs = (hi + (2L * gapMinutes + 60) * 60L * 1000000L) / 1000L
    def sentinel(ms: Long, slice: Int) =
      Seq((-1L, new java.sql.Timestamp(ms), 0.0)).toDF("user_id", "ts", "value")
        .withColumn("__slice", lit(slice))
    val staged = ev.withColumn("__slice", sliceOf)
      .unionByName(sentinel(farMs, batches))
      .unionByName(sentinel(farMs + 3600000L, batches + 1))
    val stage = stageSliced(staged, batches + 2)
    val sessions = runToMemory(spark, stage,
      staged.drop("__slice").schema, "append") { stream =>
      Sessionize.streaming(stream.as[Sessionize.SessionEvent], gapMinutes).toDF()
    }
    val byStart = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    sessions.where(col("user_id") >= 0)
      .withColumn("session_id", row_number().over(byStart).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        round(col("total_value"), 2).as("total_value"), col("duration_secs"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Stream-stream interval join driver gate: views and purchases
    * replayed as two INDEPENDENT file streams (same ascending
    * time-range slice boundaries, one file per trigger each), joined
    * on user within [view_ts, view_ts + window] through the real
    * symmetric-hash join with watermark-driven state eviction. The
    * state machinery being pinned: a view must stay buffered until the
    * watermark passes its join window (a purchase from a LATER
    * micro-batch can still match it), a purchase must match views from
    * EARLIER batches already in state, and eviction must never drop a
    * row the window still reaches. Because slices ascend in event
    * time, nothing is ever late to the watermark, so the engine must
    * emit exactly the batch join — which is what the oracle computes.
    * Watermark delay is 1 minute: pure state-retention slack (inner
    * joins emit on arrival; the delay only schedules eviction). */
  def replayStreamJoin(spark: SparkSession, sfDir: String,
                       batches: Int = 4, windowMinutes: Int = 60): DataFrame = {
    // NULL-ts rows dropped explicitly — the original per-slice range
    // filters never admitted them (see replaySessionize)
    val ev = Tables.events(spark, sfDir)
      .where(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo + 1
    // same cut points as the old per-slice filters, one staging job
    // per stream (stageSliced) instead of `batches` coalesce(1) jobs
    val cuts = (1 until batches).map(i => lo + span * i / batches)
    def sliceOf(tsCol: String) =
      cuts.zipWithIndex.foldRight(lit(batches - 1): org.apache.spark.sql.Column) {
        case ((cut, i), rest) => when(unix_micros(col(tsCol)) < cut, i).otherwise(rest)
      }
    val stageV = stageSliced(views.withColumn("__slice", sliceOf("vts")), batches)
    val stageP = stageSliced(purch.withColumn("__slice", sliceOf("pts")), batches)
    // schemas are known statically (the staged projections) — no
    // footer-inference read per stream
    def stream(stage: String, schema: org.apache.spark.sql.types.StructType,
               wmCol: String) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(stage).withWatermark(wmCol, "1 minute")
    val name = "graft_replay_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, stagedBytes(stageV, stageP)) {
      val joined = stream(stageV, views.schema, "vts")
        .join(stream(stageP, purch.schema, "pts"),
          expr(s"user_id = p_user_id AND pts >= vts AND " +
            s"pts <= vts + interval $windowMinutes minutes"))
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        ((unix_micros(col("pts")) - unix_micros(col("vts"))) / 1000000L)
          .cast("long").as("lag_secs"))
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
  }

  /** X9 driver gate: exact streaming dedup replayed as `batches`
    * doc_id-ranged micro-batches through a first-seen stateful
    * operator keyed on the content hash (state = one boolean per
    * hash, never the document). Emission happens exactly once, in the
    * first batch that contains the hash; the keeper is the min doc_id
    * within that batch — and because batches ascend by doc_id range,
    * that IS the global min doc_id, which is what the batch oracle
    * computes. A second sighting in a later batch must find the state
    * and stay silent: that cross-batch suppression is the invariant
    * this gate pins. */
  def replayExactDedup(spark: SparkSession, sfDir: String,
                       batches: Int = 4): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    // NULL doc_id rows dropped explicitly — the original per-slice
    // range filters never admitted them (see replaySessionize)
    val docs = Tables.documents(spark, sfDir)
      .where(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"), md5(col("text")).as("h"))
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo + 1
    // same cut points as the old per-slice filters, one staging job
    val cuts = (1 until batches).map(i => lo + span * i / batches)
    val sliceOf = cuts.zipWithIndex.foldRight(lit(batches - 1): org.apache.spark.sql.Column) {
      case ((cut, i), rest) => when(col("doc_id") < cut, i).otherwise(rest)
    }
    val stage = stageSliced(docs.withColumn("__slice", sliceOf), batches)
    runToMemory(spark, stage, docs.schema, "append") { stream =>
      stream.as[(Long, String)]
        .groupByKey(_._2)
        .flatMapGroupsWithState[Boolean, (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (h: String, it: Iterator[(Long, String)], state) =>
            if (state.exists) Iterator.empty
            else { state.update(true); Iterator.single((h, it.map(_._1).min)) }
        }
        .toDF("h", "keeper_id")
    }.orderBy(col("h"))
  }
}
