package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence-packing planner: assign documents (in a stable key order)
  * to fixed-token-budget training sequences — the step that turns a
  * cleaned corpus into a context-window plan. The policy here is
  * offset packing: a doc starting before a budget boundary belongs to
  * the sequence its FIRST token falls in (seq = floor(start/budget)),
  * so sequences are contiguous runs of the corpus order.
  *
  * The core primitive is a corpus-wide EXCLUSIVE PREFIX SUM of token
  * counts — the textbook global-ordering trap: a naive
  * `sum().over(Window.orderBy(key))` has no partition key, so Spark
  * plans ONE task holding the whole corpus. Here it is `Scan.prefix`
  * weighted by the token count: one range shuffle, a running sum down
  * each sorted partition, and partition offsets from a
  * partition-count-sized table on the driver. That is the 100 TB shape.
  */
object Packing {

  /** The packing plan: (id, n_tokens, start, seq_id), with `start` the
    * exclusive prefix sum of `tokenCol` in ascending `idCol` order. */
  def assignSequences(docs: DataFrame, tokenCol: String, budget: Long,
                      idCol: String = "doc_id"): DataFrame =
    Scan.prefix(
      docs.select(col(idCol).cast("long").as("id"), col(tokenCol).cast("long").as("n_tokens"))
        // a row without a token count has no place in the packing:
        // dropped up front, never counted as zero tokens
        .where(col("n_tokens").isNotNull),
      None, Seq(col("id")), "start", weight = col("n_tokens"))
      .withColumn("seq_id", floor(col("start") / budget))

  /** Per-sequence summary: how many docs and tokens landed in each
    * context window (the last token count of a sequence can exceed
    * `budget` by at most one doc — the offset-packing spillover). */
  def packSummary(docs: DataFrame, tokenCol: String, budget: Long,
                  idCol: String = "doc_id"): DataFrame =
    assignSequences(docs, tokenCol, budget, idCol)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("id")).as("first_id"), max(col("id")).as("last_id"))
}
