package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import graft.streaming.EventStream

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Same event-time normalization as Tables.normalizeTs, for the
    * staged streaming source (nanos-as-long OR micros-NTZ parquet). */
  private def normTs(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** FileStreamSource wants a directory; stage the single events file
    * into a temp dir. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("L13: streaming windowed aggregation matches the batch twin") {
    val path = eventsDir
    val batchSchema = spark.read.parquet(path).schema
    val stream = normTs(spark.readStream.schema(batchSchema).parquet(path))

    val agg = EventStream.windowedCounts(stream)
    val queryName = "graft_stream_smoke"
    val q = agg.writeStream.format("memory").queryName(queryName)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table(queryName)
      .select("day", "event_type", "n", "sum_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = graft.operators.Relational.timeWindow(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch, "streaming and batch twins must agree")
  }

  test("L13: streaming SLIDING windows match the batch twin (4x overlap fan-out)") {
    val path = eventsDir
    val batchSchema = spark.read.parquet(path).schema
    val stream = normTs(spark.readStream.schema(batchSchema).parquet(path))

    val agg = EventStream.slidingWindowedCounts(stream)
    val queryName = "graft_stream_sliding"
    val q = agg.writeStream.format("memory").queryName(queryName)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table(queryName)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = graft.operators.Relational.slidingWindow(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch, "sliding streaming and batch twins must agree")
  }

  test("stateless pipeline ops run unchanged on a stream: chunking matches batch") {
    // chunkTokens is a pure per-row projection + bounded explode, so
    // it is append-mode streamable with no extra code — the streaming
    // parity the per-row design buys for the whole text-op family
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      dir.resolve("documents.parquet"))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val q = graft.operators.Chunking.chunkSummary(stream, 64, 32)
      .writeStream.format("memory").queryName("graft_stream_chunks")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_stream_chunks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batch = graft.operators.Chunking
      .chunkSummary(Tables.documents(spark, sf), 64, 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("L13: stream-stream join matches within the lookback and not outside it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val views = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val joined = EventStream.joinWithinLookback(
      clicks.toDF().toDF("user_id", "ts", "event_type", "value"),
      views.toDF().toDF("user_id", "ts", "event_type", "value"),
      "user_id", lookback = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("graft_ss_join")
      .outputMode("append").start()
    try {
      views.addData(
        (1L, ts("2024-01-01 10:00:00"), "view", 1.0),   // within 30m of the click
        (1L, ts("2024-01-01 08:00:00"), "view", 2.0),   // too old
        (2L, ts("2024-01-01 10:10:00"), "view", 3.0))   // other user
      clicks.addData((1L, ts("2024-01-01 10:15:00"), "click", 9.0))
      q.processAllAvailable()
      val rows = spark.table("graft_ss_join")
        .select("user_id", "l_value", "r_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, 9.0, 1.0)),
        s"only the in-window same-user view may match, got ${rows.mkString(";")}")
    } finally q.stop()
  }

  test("L13 gate: micro-batched replay equals the one-shot batch aggregation") {
    val streamed = EventStream.replayWindowedCounts(spark, sf, batches = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .select(date_format(col("w.start"), "yyyy-MM-dd"), col("event_type"),
        col("n"), round(col("sv").cast("double"), 2))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "incremental streaming state must converge to the batch result exactly")
  }

  test("L13: the plan carries a watermark bounding state") {
    val path = eventsDir
    val batchSchema = spark.read.parquet(path).schema
    val stream = normTs(spark.readStream.schema(batchSchema).parquet(path))
    val plan = EventStream.windowedCounts(stream).queryExecution.logical.toString
    assert(plan.contains("EventTimeWatermark"),
      s"expected a watermark node in:\n$plan")
  }

  test("X2 gate: replayed streaming sessionization equals the batch sessionizer") {
    val streamed = graft.streaming.Replay
      .replaySessionize(spark, sf, gapMinutes = 480, batches = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val batch = graft.streaming.Sessionize.batch(Tables.events(spark, sf), 480)
      .select(col("user_id"), col("session_id"), col("n_events"),
        round(col("total_value"), 2).as("total_value"), col("duration_secs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "cross-batch session state + timeout flush must reproduce the batch sessions")
  }

  test("X117 gate: replayed stream-stream interval join equals the batch join") {
    val streamed = graft.streaming.Replay.replayStreamJoin(spark, sf, batches = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("us").as("vus"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("us").as("pus"))
    val batch = v.join(p, col("user_id") === col("pu") &&
        col("pus") >= col("vus") && col("pus") <= col("vus") + 3600000000L)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        ((col("pus") - col("vus")) / 1000000L).cast("long").as("lag_secs"))
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "symmetric-hash join state across micro-batches must emit exactly the batch pairs")
  }

  test("X9 gate: replayed first-seen dedup keeps the global min id per hash") {
    val streamed = graft.streaming.Replay.replayExactDedup(spark, sf, batches = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = Tables.documents(spark, sf)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).cast("long").as("keeper_id"))
      .orderBy(col("h"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "a hash seen in an earlier micro-batch must stay suppressed in later ones")
  }

  test("replay state partitions: ceil(staged bytes / 64 MB) within [4, session width], session width restored") {
    import graft.streaming.Replay
    assert(Replay.statePartitionCount(1L << 10, 16) == 4)
    assert(Replay.statePartitionCount(200L << 20, 16) == 4)
    assert(Replay.statePartitionCount(1L << 30, 16) == 16)
    assert(Replay.statePartitionCount(10L << 30, 8) == 8)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "16")
    try {
      assert(Replay.withStatePartitions(spark, 1L << 10)(spark.conf.get(key)) == "4")
      assert(spark.conf.get(key) == "16", "width must be restored after the body returns")
      intercept[IllegalStateException] {
        Replay.withStatePartitions(spark, 1L << 10)(throw new IllegalStateException("body failed"))
      }
      assert(spark.conf.get(key) == "16", "width must be restored after the body throws")
    } finally spark.conf.set(key, prev)
  }
}
