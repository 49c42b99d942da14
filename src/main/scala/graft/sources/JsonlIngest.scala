package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-on-read JSONL ingestion with corrupt-record accounting — the
  * raw-log half of the ingest surface (NestedIngest handles the
  * known-schema nested case; this handles line-delimited feeds where
  * malformed lines are a fact of life).
  *
  * Always reads with an EXPLICIT schema: schema inference is its own
  * full pass over the data (doubling the 100 TB scan) and can silently
  * widen types between runs. Malformed lines land in
  * `_corrupt_record` under PERMISSIVE mode instead of failing the job
  * — the standard quarantine-and-count pattern: the pipeline reports
  * corruption instead of either crashing (FAILFAST) or silently
  * dropping (DROPMALFORMED).
  */
object JsonlIngest {

  val CorruptCol = "_corrupt_record"

  /** Read a JSONL directory with `schema` plus corrupt capture. Not
    * cached: a malformed line is always corrupt, a type error only in
    * a field the plan reads. Spark refuses a plan that reads ONLY the
    * corrupt column; such a caller reads another column too (as
    * `ingestEntry` does) or caches the frame itself. */
  def readWithCorruptCapture(spark: SparkSession, path: String,
                             schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(CorruptCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** The `ingest_jsonl` queries entry: round-trip the events table
    * through line-delimited JSON, inject three known-malformed lines,
    * read back with the explicit schema, and roll up per event type —
    * clean rows aggregated, corrupt rows counted under a sentinel
    * `__corrupt` type, in one parse. Proves the full path: distributed
    * JSONL write, schema-on-read parse, permissive quarantine,
    * aggregation over the parsed columns. */
  def ingestEntry(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .write.mode("overwrite").json(tmp)
    // malformed lines appended as extra part files in the same dir
    Seq("{\"event_id\": oops", "not json at all", "{\"value\": }")
      .toDS().write.mode("append").text(tmp)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val clean = col(CorruptCol).isNull
    readWithCorruptCapture(spark, tmp, schema)
      .groupBy(clean.as("clean"), when(clean, col("event_type")).as("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(when(clean, col("value")).otherwise(0.0)), 2).as("sum_value"))
      .select(when(col("clean"), col("event_type")).otherwise("__corrupt").as("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("event_type"))
  }
}
