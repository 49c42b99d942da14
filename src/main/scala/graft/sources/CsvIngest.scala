package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-on-read CSV ingestion with corrupt-record quarantine — the
  * delimited-text half of the raw ingest surface (JsonlIngest covers
  * line-JSON). Same discipline: EXPLICIT schema (inference is a second
  * full pass over 100 TB and can silently re-type columns between
  * runs), PERMISSIVE mode with a `_corrupt_record` capture column so
  * malformed lines are counted, never silently dropped and never
  * job-fatal. CSV adds the quoting dimension JSON doesn't have:
  * embedded delimiters, quotes, and newlines must survive the round
  * trip, which is exactly what the entry's doc-text column exercises.
  */
object CsvIngest {

  val CorruptCol = "_corrupt_record"

  /** Read a CSV directory with `schema` plus corrupt capture; header
    * off, RFC-4180 quoting with doubled in-field quotes. Deliberately
    * NOT multiLine: line-splittable files are what lets 100 TB of CSV
    * fan out across tasks (multiLine parses each file whole in one
    * task); records with embedded newlines belong in JSONL/parquet,
    * not CSV, at that scale. Not cached: each plan parses only the
    * fields it reads, and a line is corrupt when one of THOSE fails.
    * Spark refuses a plan that reads ONLY the corrupt column; such a
    * caller reads another column too or caches the frame itself. */
  def readWithCorruptCapture(spark: SparkSession, path: String,
                             schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(CorruptCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("header", "false")
      .option("escape", "\"")
      .csv(path)

  /** The `ingest_csv` queries entry: round-trip the documents table
    * through CSV (quoted free text with embedded commas/quotes),
    * append three known-malformed lines, read back with the explicit
    * schema, and roll up per (lang, source) over the parsed columns —
    * plus the `__corrupt` sentinel row, in one parse. Spark's PERMISSIVE CSV
    * quarantines BOTH un-typeable fields and arity mismatches
    * (stricter than JSONL, where a missing field reads as NULL); the
    * injected lines cover each kind. */
  def ingestEntry(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = graft.Scratch.dir(spark, "graft-csv")
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      .write.mode("overwrite")
      .option("header", "false").option("escape", "\"")
      .csv(tmp)
    // three lines whose doc_id/n_chars cannot parse as LONG
    Seq("notanumber,en,web,12,hello",
        "9,en,web,alsobad,world",
        "x,y")
      .toDS().write.mode("append").text(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType),
      StructField("text", StringType)))
    val read = readWithCorruptCapture(spark, tmp, schema)
    // a line is clean only if every field parses, doc_id included; the
    // rollup never reads doc_id, so the RDD boundary keeps the whole
    // row in the parse
    val clean = col(CorruptCol).isNull
    def orCorrupt(c: String) = when(col("clean"), col(c)).otherwise("__corrupt").as(c)
    spark.createDataFrame(read.rdd, read.schema)
      .groupBy(clean.as("clean"), when(clean, col("lang")).as("lang"),
        when(clean, col("source")).as("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(clean, col("n_chars")).otherwise(0L)).as("sum_chars"),
        sum(when(clean, length(col("text"))).otherwise(0)).as("sum_text_len"))
      .select(orCorrupt("lang"), orCorrupt("source"), col("n"), col("sum_chars"),
        col("sum_text_len"))
      .orderBy(col("lang"), col("source"))
  }
}
