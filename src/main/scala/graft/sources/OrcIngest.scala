package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORC round-trip ingestion — the third raw-ingest format next to CSV
  * and JSONL, and the one that matters when the upstream warehouse is
  * Hive-era: ORC is columnar with embedded min/max stripe statistics,
  * so unlike the text formats it keeps predicate pushdown and column
  * pruning (the same scan behavior the parquet entries prove, via a
  * different reader). The entry proves VALUE fidelity across the
  * format boundary — timestamps to the microsecond, doubles bit-exact
  * through a DECIMAL-summed rollup — because a silent precision loss
  * in a format hop is the kind of corruption a 100 TB migration never
  * notices until training.
  */
object OrcIngest {

  /** The `ingest_orc` queries entry: write events out as ORC, read it
    * back, and roll up per event type — counts, an exact DECIMAL value
    * sum, and the min/max event-time in microseconds. The oracle
    * computes the same rollup from the ORIGINAL parquet, so any value
    * drift introduced by the ORC writer/reader pair (timestamp
    * truncation, double mangling) breaks the hash. */
  def ingestEntry(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = graft.Scratch.dir(spark, "graft-orc")
    graft.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"),
        min(unix_micros($"ts")).as("min_us"),
        max(unix_micros($"ts")).as("max_us"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }
}
