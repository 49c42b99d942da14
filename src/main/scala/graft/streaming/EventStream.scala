package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-streaming surface (L13): the streaming twin of the batch
  * tumbling-window aggregation (Relational.timeWindow / C9). One
  * transform serves both: batch calls it on a static frame, streaming
  * on a readStream frame with a watermark bounding state.
  *
  * Scale design: the watermark is what makes this run forever on a
  * cluster — window state for (window, event_type) groups is dropped
  * once the watermark passes the window end, so state size is
  * O(active windows × event types), independent of stream length.
  */
object EventStream {

  /** Tumbling daily window counts/sums per event type. `df` may be
    * static or streaming; the watermark only binds in streaming
    * plans (Spark ignores it on batch frames). */
  def windowedCounts(df: DataFrame, watermark: String = "1 hour"): DataFrame =
    df.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))

  /** Tumbling daily windows with the value sum routed through DECIMAL:
    * streaming state merges partial sums in micro-batch arrival order,
    * so a double sum's low bits would depend on the batch split — the
    * DECIMAL accumulator is exact and therefore split-invariant, which
    * is what lets the replayed stream hash-match a batch oracle. */
  def windowedCountsExact(df: DataFrame, watermark: String = "1 hour"): DataFrame =
    df.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"),
        round(col("sv").cast("double"), 2).as("sum_value"))

  /** L13 driver gate: replay the events table through the REAL
    * Structured Streaming engine as `batches` file-per-trigger
    * micro-batches (staged time-ranged parquet, maxFilesPerTrigger=1,
    * complete-mode memory sink) and return the final sink table. The
    * result must equal the one-shot batch aggregation — Spark's
    * incremental stateful execution vs DuckDB's batch SQL is exactly
    * the invariant worth gating. Complete mode keeps every window
    * (nothing falls to the watermark), and the DECIMAL sum makes the
    * state merges split-invariant. */
  def replayWindowedCounts(spark: org.apache.spark.sql.SparkSession,
                           sfDir: String, batches: Int = 4): DataFrame = {
    val stage = graft.Scratch.dir(spark, "graft-stream-replay")
    val ev = graft.Tables.events(spark, sfDir)
    ev.repartitionByRange(batches, col("ts"))
      .write.mode("overwrite").parquet(stage)
    val name = "graft_stream_replay_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // state partitions sized for the replay gate (bytes-driven guarded
    // set/restore, see Replay.withStatePartitions); the staged schema
    // is the events schema (known statically; skips a footer-inference
    // read)
    Replay.withStatePartitions(spark, Replay.stagedBytes(stage)) {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = windowedCountsExact(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).orderBy(col("day"), col("event_type"))
  }

  /** Sliding-window twin of Relational.slidingWindow (C9b): 1-day
    * windows every 6 hours. Same fixed window/slide fan-out inside the
    * scan stage; watermark semantics are identical to the tumbling
    * form — state is dropped per WINDOW once the watermark passes its
    * end, so the overlap factor (window/slide = 4) multiplies live
    * state, not its lifetime. */
  def slidingWindowedCounts(df: DataFrame, watermark: String = "1 hour"): DataFrame =
    df.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day", "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Stream-stream inner join with a time bound: each left event
    * matches right events on `key` whose timestamp falls in
    * [left.ts - lookback, left.ts]. Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark can
    * evict join state once the watermark passes ts + lookback —
    * bounded state on two unbounded streams. Column prefixes `l_` /
    * `r_` disambiguate the output. */
  def joinWithinLookback(left: DataFrame, right: DataFrame, key: String,
                         lookback: String = "1 hour",
                         watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key), col("ts").as("l_ts"),
        col("event_type").as("l_type"), col("value").as("l_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("__rk"), col("ts").as("r_ts"),
        col("event_type").as("r_type"), col("value").as("r_value"))
    l.join(r,
      col(key) === col("__rk") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookback") &&
        col("r_ts") <= col("l_ts"))
      .drop("__rk")
  }
}
