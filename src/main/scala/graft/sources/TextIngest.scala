package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plain-text line ingestion — the fourth raw-ingest format next to
  * CSV, JSONL and ORC, and the one raw web corpora actually arrive in
  * (WET-style one-record-per-line dumps). Text files have NO schema,
  * statistics, or pushdown: the reader hands back one string column
  * and every field boundary is the pipeline's problem — which is
  * exactly what the entry proves survives the hop: a tab-delimited
  * round trip whose parse-back reproduces the source values exactly.
  *
  * Scale shape: `spark.read.text` splits by line across input splits
  * like any other distributed scan; the parse is a scan-stage
  * projection (one `split(limit=3)` per line, no regex backtracking),
  * and the rollup is one map-side-combined aggregation to |lang|
  * rows. At 100 TB the format costs exactly one full-string scan —
  * the point of the entry is that nothing else is lost.
  */
object TextIngest {

  /** The `ingest_text` queries entry: stage documents as
    * `doc_id<TAB>lang<TAB>text` lines, read them back as raw text,
    * parse, and roll up per lang — counts, exact char/token sums and
    * id bounds. The oracle computes the same rollup from the ORIGINAL
    * parquet, so a line-splitting or encoding drift breaks the hash.
    * (The synthetic corpus is tab- and newline-free by construction;
    * a production corpus would escape both at write time.) */
  def ingestEntry(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = graft.Scratch.dir(spark, "graft-text")
    graft.Tables.documents(spark, sfDir)
      .select(concat_ws("\t", $"doc_id", $"lang", $"text").as("value"))
      .write.mode("overwrite").text(tmp)
    val parts = split($"value", "\t", 3)
    spark.read.text(tmp)
      .select(parts.getItem(0).cast("long").as("doc_id"),
        parts.getItem(1).as("lang"), parts.getItem(2).as("text"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum(length($"text")).as("n_chars"),
        sum(size(filter(split($"text", "\\s+"), t => length(t) > 0)))
          .as("n_tokens"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
      .orderBy($"lang")
  }
}
