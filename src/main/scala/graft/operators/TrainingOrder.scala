package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-order materialization — the last step before a corpus
  * ships to a trainer: the ROW ORDER of the written dataset is a
  * model-quality parameter (correlated neighboring examples hurt;
  * source mixing ratios are a curriculum decision), so it must be
  * deterministic, seeded, and reproducible across runs and cluster
  * sizes.
  *
  * Every operator here reduces to sorting by a derived key and
  * materializing the position as a rank from `Scan.prefix` (one range
  * shuffle per rank, a partition-bounded offset table on the driver) —
  * NO single-partition window anywhere.
  */
object TrainingOrder {

  /** Deterministic seeded global shuffle: position = rank of
    * md5(seed:id). Same seed → same permutation on any cluster
    * layout; different seed → an independent permutation (epoch
    * reshuffling = calling this once per epoch seed). Returns
    * (pos, id) — join back to the payload on id and write
    * range-partitioned by pos. */
  def shuffled(df: DataFrame, seed: String, idCol: String = "doc_id"): DataFrame =
    Scan.prefix(
      df.select(col(idCol).cast("long").as("id"))
        .withColumn("__key", md5(concat(lit(seed), lit(":"), col("id").cast("string")))),
      None, Seq(col("__key").asc_nulls_last, col("id").asc_nulls_last), "pos")
      .select(col("pos"), col("id"))

  /** Multi-epoch reshuffling in ONE pass: epoch e's permutation is the
    * rank of md5(seed:e:id) — each epoch an independent deterministic
    * permutation (what a trainer replays so no two epochs present
    * examples in correlated order), produced together by exploding the
    * epoch index and running ONE rank grouped on it, instead of
    * nEpochs separate rank passes. The epoch count is a small constant
    * (3–5 in practice), so the explode multiplies bytes, not keys —
    * and the rank's range partitioning spreads (epoch, hash) evenly,
    * no epoch-sized task ever forms. Returns (epoch, pos, id). */
  def epochs(df: DataFrame, nEpochs: Int, seed: String,
             idCol: String = "doc_id"): DataFrame = {
    require(nEpochs >= 1, "need at least one epoch")
    val keyed = df.select(col(idCol).cast("long").as("id"))
      .withColumn("epoch", explode(sequence(lit(0L), lit(nEpochs - 1L))))
      .withColumn("__key", md5(concat(lit(seed), lit(":"),
        col("epoch").cast("string"), lit(":"), col("id").cast("string"))))
    Scan.prefix(keyed, Some("epoch"), Seq(col("__key"), col("id")), "pos")
      .select(col("epoch"), col("pos"), col("id"))
  }

  /** Weighted source interleaving — deterministic curriculum mixing:
    * within each stratum rows take a seeded-hash order; the r-th row
    * of a stratum with weight w lands at virtual time (r+1)/w, so a
    * weight-3 stratum appears three times as densely as a weight-1
    * stratum and strata exhaust near-uniformly instead of
    * back-to-back blocks. Global order = (slot, key, id) — doubles
    * divide identically everywhere, so the order is engine- and
    * layout-independent. Returns (pos, stratum, id). */
  def interleaved(df: DataFrame, weights: Map[String, Double], seed: String,
                  defaultWeight: Double = 1.0,
                  stratumCol: String = "source",
                  idCol: String = "doc_id"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ > 0), "weights must be positive")
    val wExpr = weights.foldLeft(lit(defaultWeight)) { case (acc, (k, v)) =>
      when(col("stratum") === k, lit(v)).otherwise(acc)
    }
    val keyed = df
      .select(col(stratumCol).as("stratum"), col(idCol).cast("long").as("id"))
      .withColumn("__key", md5(concat(lit(seed), lit(":"), col("id").cast("string"))))
    val ranked = Scan.prefix(keyed, Some("stratum"), Seq(col("__key"), col("id")), "grank")
      .withColumn("slot", (col("grank") + 1).cast("double") / wExpr)
    Scan.prefix(ranked, None, Seq("slot", "__key", "id").map(col(_).asc_nulls_last), "pos")
      .select(col("pos"), col("stratum"), col("id"))
  }

  /** X130: length-grouped batching — sort by token length descending,
    * tile into fixed-size batches, report each batch's padding waste
    * (n·max_len − Σlen, the tokens a per-batch-padded trainer burns).
    * Length-similar examples batching together is the standard padding
    * -efficiency move; descending order also front-loads the worst
    * batch (OOM fail-fast). The global order comes from the same
    * `Scan.prefix` rank as every ordering here — no single-partition
    * window — and the per-batch reduce keys on
    * rank DIV batchSize, which the range partitioning already
    * co-locates. All-integer output. */
  def lengthBatches(docs: DataFrame, batchSize: Int,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(batchSize > 0)
    val len = docs.select(col(idCol).cast("long").as("doc_id"),
      size(graft.functions.TextFunctions.tokens(lower(col(textCol))))
        .cast("long").as("len"))
    Scan.prefix(len, None, Seq(col("len").desc_nulls_last, col("doc_id").asc_nulls_last), "rank")
      .withColumn("batch", expr(s"rank DIV $batchSize"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"), max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .withColumn("padding_waste", col("n_docs") * col("max_len") - col("sum_len"))
      .orderBy(col("batch"))
  }
}
