package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet loaders for the driver-generated TPC-H-ish tables.
  *
  * The reference engine scans one clustered parquet file lazily
  * (reference: src/main.rs:297 `LazyFrame::scan_parquet`); the Spark
  * analog is `spark.read.parquet`, which gives Catalyst the scan to
  * push filters/projections into.
  */
object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Memoized PLAN (never data) per (session, path): `read.parquet`
    * pays a footer schema-inference read and a fresh FileIndex every
    * call, and a multi-query process (Bench/Verify construct every
    * entry per rep) re-pays that ~50-150 ms of driver metadata work
    * per table per construction — measured as the dominant share of
    * the sub-second bench tail's per-entry fixed cost. Reusing the
    * DataFrame reuses the resolved relation exactly as a catalog
    * table's cached metadata would; every action still scans the
    * parquet from disk — nothing computed is cached. Keyed by session
    * (plans must not leak across sessions), cleared on application
    * end. */
  private val planCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val cleanupRegistered =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean])
  private def registerCleanup(spark: SparkSession): Unit =
    cleanupRegistered.synchronized {
      val sc = spark.sparkContext
      if (cleanupRegistered.add(sc)) {
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            val dead = planCache.keys.filter(_._1.sparkContext eq sc).toSeq
            dead.foreach(planCache.remove)
          }
        })
      }
    }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    planCache.getOrElseUpdate((spark, s"$sfDir/$name.parquet"), {
      registerCleanup(spark)
      spark.read.parquet(s"$sfDir/$name.parquet")
    })

  /** Event-time normalization to session-TZ (UTC) TIMESTAMP — the
    * type every event-time operator (unix_micros, watermarks, window)
    * expects — from whichever physical type the driver-generated
    * parquet carries:
    *  - TIMESTAMP(NANOS): under spark.sql.legacy.parquet.nanosAsLong
    *    (set by GraftSession) it scans as Long nanos; integral DIV,
    *    not `/` — epoch nanos (~1.7e18) exceed a double's 2^53
    *    mantissa, so float division silently loses microseconds;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): scans as
    *    TIMESTAMP_NTZ; the cast reinterprets the wall clock in the
    *    session TZ, which GraftSession pins to UTC — value-preserving
    *    on epoch micros and identical to DuckDB's naive reading.
    * Column pruning/pushdown still reach the scan untouched. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(TimestampNTZType) => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(table(spark, sfDir, "events"))
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
