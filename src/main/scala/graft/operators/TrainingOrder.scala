package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-order materialization — the last step before a corpus
  * ships to a trainer: the ROW ORDER of the written dataset is a
  * model-quality parameter (correlated neighboring examples hurt;
  * source mixing ratios are a curriculum decision), so it must be
  * deterministic, seeded, and reproducible across runs and cluster
  * sizes.
  *
  * Both operators reduce to sorting by a derived key and materializing
  * the global position with the repo's two-phase distributed rank
  * (range-partition → per-partition row_number → broadcast partition
  * offsets; `Dedup.globalRank`) — NO single-partition window anywhere,
  * so a 100 TB corpus orders with two range shuffles and a
  * numPartitions-row driver exchange.
  */
object TrainingOrder {

  /** Deterministic seeded global shuffle: position = rank of
    * md5(seed:id). Same seed → same permutation on any cluster
    * layout; different seed → an independent permutation (epoch
    * reshuffling = calling this once per epoch seed). Returns
    * (pos, id) — join back to the payload on id and write
    * range-partitioned by pos. */
  def shuffled(df: DataFrame, seed: String, idCol: String = "doc_id"): DataFrame =
    Dedup.globalRank(
      df.select(col(idCol).cast("long").as("id"))
        .withColumn("__key", md5(concat(lit(seed), lit(":"), col("id").cast("string")))),
      Seq("__key", "id"))
      .select(col("rank").as("pos"), col("id"))

  /** Per-group global rank with the same two-phase shape as
    * `Dedup.globalRank`: range-partition on (group, order), local
    * row_number per (partition, group), then per-(partition, group)
    * counts — a numPartitions×numGroups-row frame — prefix-summed
    * within each group by an exclusive-scan window and broadcast back.
    * The offset table never visits the driver and the group key stays
    * whatever type the caller's column has (string, numeric, struct —
    * TrainingOrderSpec covers a bigint stratum). A plain
    * Window.partitionBy(group) would funnel each ENTIRE group through
    * one task; this keeps every stage partition-parallel. */
  def groupedRank(df: DataFrame, groupCol: String,
                  orderCols: Seq[String]): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    // Local per-(partition, group) rank WITHOUT a window (guide §2.4):
    // the old row_number().over(partitionBy(__pid, group)) re-shuffled
    // the whole frame a second time (hashpartitioning(__pid, group))
    // right after the range exchange whose partitions already are the
    // groups' homes — and AQE's byte-driven coalescing could collapse
    // that exchange, funneling the fenced layout to one task. Instead:
    // range exchange → IN-PARTITION sort by (group, order) — within a
    // (partition, group) that ordering equals the old window's order —
    // → monotonically_increasing_id. The per-row rank within its
    // (partition, group) is then __mid − min(__mid) of that cell, and
    // min(__mid) rides the same per-cell offsets aggregation the
    // prefix sum already does. One exchange total (same as
    // Dedup.globalRank's rewrite).
    val sortCols = (groupCol +: orderCols).map(col)
    val local = Checkpoints.fence(
      df.repartitionByRange(n, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .withColumn("__mid", monotonically_increasing_id())
        .withColumn("__pid", shiftrightunsigned(col("__mid"), 33).cast("int")))
    // exclusive per-group prefix sum over the tiny totals frame — the
    // window partitions on the GROUP (numPartitions rows each), not on
    // the data, so no single-task funnel
    val scanW = Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offDF = local.groupBy(col("__pid"), col(groupCol))
      .agg(count(lit(1)).as("__c"), min(col("__mid")).as("__m0"))
      .withColumn("__off", coalesce(sum(col("__c")).over(scanW), lit(0L)))
      .select(col("__pid").as("__opid"), col(groupCol).as("__og"), col("__m0"), col("__off"))
    // null-safe on the group: a NULL group key is a group like any other
    local.join(broadcast(offDF), col("__pid") === col("__opid") && col(groupCol) <=> col("__og"))
      .select(col(groupCol) +: df.columns.filter(_ != groupCol).map(col) :+
        (col("__mid") - col("__m0") + col("__off")).as("grank"): _*)
  }

  /** Multi-epoch reshuffling in ONE pass: epoch e's permutation is the
    * rank of md5(seed:e:id) — each epoch an independent deterministic
    * permutation (what a trainer replays so no two epochs present
    * examples in correlated order), produced together by exploding the
    * epoch index and running ONE `groupedRank` keyed on it, instead of
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
    groupedRank(keyed, "epoch", Seq("__key", "id"))
      .select(col("epoch"), col("grank").as("pos"), col("id"))
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
    val ranked = groupedRank(keyed, "stratum", Seq("__key", "id"))
      .withColumn("slot", (col("grank") + 1).cast("double") / wExpr)
    Dedup.globalRank(ranked, Seq("slot", "__key", "id"))
      .select(col("rank").as("pos"), col("stratum"), col("id"))
  }

  /** X130: length-grouped batching — sort by token length descending,
    * tile into fixed-size batches, report each batch's padding waste
    * (n·max_len − Σlen, the tokens a per-batch-padded trainer burns).
    * Length-similar examples batching together is the standard padding
    * -efficiency move; descending order also front-loads the worst
    * batch (OOM fail-fast). The global order comes from the same
    * two-phase distributed rank as every ordering here — no
    * single-partition window — and the per-batch reduce keys on
    * rank DIV batchSize, which the range partitioning already
    * co-locates. All-integer output. */
  def lengthBatches(docs: DataFrame, batchSize: Int,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(batchSize > 0)
    val len = docs.select(col(idCol).cast("long").as("doc_id"),
      size(graft.functions.TextFunctions.tokens(lower(col(textCol))))
        .cast("long").as("len"))
    Dedup.globalRank(len.withColumn("__neg", -col("len")), Seq("__neg", "doc_id"))
      .withColumn("batch", expr(s"rank DIV $batchSize"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"), max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .withColumn("padding_waste", col("n_docs") * col("max_len") - col("sum_len"))
      .orderBy(col("batch"))
  }
}
