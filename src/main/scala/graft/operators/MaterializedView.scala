package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Incremental materialized-view maintenance for algebraic aggregates:
  * `MV(base ∪ delta) = merge(MV(base), partial(delta))` — the identity
  * that lets a 100 TB aggregate stay fresh by scanning only the new
  * data. count/sum merge by addition; derived values (avg here) are
  * recomputed from the merged sums at read time, never merged
  * themselves — merging averages is the classic incremental-view bug.
  * Sums ride DECIMAL so the merged result is bit-equal to a full
  * recompute regardless of how history was split into increments.
  *
  * The entry makes the claim honest by MATERIALIZING the base MV to
  * parquet and reading it back: the merge plan provably touches only
  * the stored MV (|groups| rows) and the delta partition — the base
  * fact rows never re-scan. That is the entire point of the operator:
  * refresh cost is O(delta + |groups|), not O(history).
  */
object MaterializedView {

  private def partialAgg(ev: DataFrame): DataFrame =
    ev.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sv"))

  /** `q_mv_merge`: per-(day, type) counts/sums maintained
    * incrementally — base MV through 2024-04-30 stored as parquet,
    * May-onward events folded in as a partial aggregate, merged by
    * addition. Must hash-match the full one-shot aggregation. */
  def mvMerge(spark: SparkSession, sfDir: String,
              splitDay: String = "2024-05-01"): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"),
        col("value").cast("decimal(18,2)").as("y"))
    val mvDir = graft.Scratch.dir(spark, "graft-mv")
    partialAgg(ev.where(col("day") < splitDay))
      .write.mode("overwrite").parquet(mvDir)
    val stored = spark.read.parquet(mvDir)
    val delta = partialAgg(ev.where(col("day") >= splitDay))
    stored.unionByName(delta)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"))
      .select(col("day"), col("event_type"), col("n"),
        round(col("sv").cast("double") / col("n"), 4).as("avg_value"),
        round(col("sv").cast("double"), 2).as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }
}
