package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * Random sampling (`df.sample`) is not reproducible across engines,
  * runs, or partitionings — useless for a pipeline whose outputs must
  * be auditable. Both operators here key the decision on a content
  * hash of a stable key column, so the same row makes the same
  * decision everywhere: in this engine, in the oracle, next year.
  *
  * Scale shape: `hashRateSample` is a pure per-row filter — it rides
  * the parquet scan, zero shuffle, and composes with pushdown on other
  * predicates. `stratifiedQuota` needs a per-stratum total order, so
  * it costs one shuffle on the stratum key; skewed strata are bounded
  * by the quota itself (only `quota` rows survive per stratum, and
  * rank-k selection short-circuits the rest).
  */
object Sampling {

  /** Lexicographic md5-prefix threshold for a sampling rate: the first
    * 8 hex chars of md5 are uniform over [0, 2^32), so keeping rows
    * with prefix < hex(rate·2^32) keeps ≈rate of them — deterministic,
    * engine-portable (md5 is md5 everywhere), and stable under
    * repartitioning. */
  def rateThresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, "rate must be in [0,1]")
    f"${math.min((rate * 4294967296.0).toLong, 4294967295L)}%08x"
  }

  /** The sampling decision column: md5-prefix of the key, compared to
    * the rate threshold. */
  def hashKeep(key: Column, rate: Double): Column =
    substring(md5(key.cast("string")), 1, 8) < lit(rateThresholdHex(rate))

  /** Keep ≈`rate` of rows, decided by content hash of `keyCol` —
    * a scan-stage filter, no shuffle. */
  def hashRateSample(df: DataFrame, keyCol: String, rate: Double): DataFrame =
    df.where(hashKeep(col(keyCol), rate))

  /** Exactly min(quota, |stratum|) rows per stratum, chosen in
    * deterministic hash order (ties broken by the key itself) — the
    * per-domain/per-language cap every mixture-balancing pipeline
    * needs. One shuffle on the stratum column. */
  def stratifiedQuota(df: DataFrame, stratumCol: String, keyCol: String,
                      quota: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= quota)
      .drop("__rn")
  }

  /** Weighted sampling without replacement, k rows: Efraimidis &
    * Spirakis' A-Res ("Weighted random sampling with a reservoir",
    * IPL 2006) — each row draws u ∈ (0,1] and ranks by u^(1/w); the k
    * largest ranks are an exact weighted sample. Here u is a
    * deterministic content hash (32-bit md5 prefix), and we rank by
    * ln(u)/w — the same order as u^(1/w), without pow()'s cross-engine
    * wobble. Distributed as TakeOrderedAndProject: per-partition
    * k-heaps, k rows to the driver, no shuffle of the data. Rows with
    * non-positive weight are excluded (they'd get rank −∞ anyway). */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String, k: Int): DataFrame = {
    require(k > 0)
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10).cast("long")
    val u = (h + lit(1.0)) / lit(4294967296.0)
    df.where(col(weightCol) > 0)
      .withColumn("__es", log(u) / col(weightCol))
      .orderBy(col("__es").desc, col(keyCol))
      .limit(k)
      .drop("__es")
  }

  /** Downsample each stratum at its own rate — the mixture-reweighting
    * step that turns "we have 80% web / 20% code" into the target
    * blend. `rates` maps stratum → keep-rate in [0,1]; unlisted strata
    * keep `defaultRate`. Still a pure scan-stage filter: the per-
    * stratum threshold joins in as a broadcast (or folds to a literal
    * CASE for small maps), so the corpus never shuffles and the
    * decision stays the md5 threshold rule — deterministic,
    * partition-invariant, and nested (raising a stratum's rate only
    * ADDS rows to its sample). */
  def mixtureSample(df: DataFrame, stratumCol: String, keyCol: String,
                    rates: Map[String, Double],
                    defaultRate: Double = 1.0): DataFrame = {
    val thresh = rates.foldLeft(lit(rateThresholdHex(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(stratumCol) === stratum, lit(rateThresholdHex(rate))).otherwise(acc)
    }
    df.where(substring(md5(col(keyCol).cast("string")), 1, 8) < thresh)
  }

  /** Deterministic FIXED-SIZE sample per group ("reservoir of k"):
    * the k rows with the smallest md5(key) in each group, ranked.
    * Complements stratifiedQuota (rate-based, size varies with the
    * stratum) when the contract is "exactly k exemplars per class".
    *
    * Scale shape: graft_topk's bounded heap, NOT a per-group window
    * sort — each map task keeps k candidates per group it sees, only
    * k rows per (partition, group) cross the one exchange, and a
    * billion-row group costs the same state as a thousand-row one.
    * Deterministic: md5 is engine-portable, ties (equal 8-hex prefix)
    * break on the id ascending inside the heap's comparator. */
  def reservoirPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                        k: Int): DataFrame = {
    // smallest hash first ⇒ heap score = negated numeric prefix
    val score = -conv(substring(md5(col(keyCol).cast("string")), 1, 8),
      16, 10).cast("double")
    df.groupBy(col(groupCol))
      .agg(graft.functions.TextFunctions.topk(col(keyCol), score, k).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col(groupCol), (col("rank0") + 1).cast("long").as("rank"),
        col("t.id").as(keyCol))
  }

  /** X162: deterministic negative sampling for contrastive training —
    * every anchor draws k pseudo-random candidate partners from the
    * md5 chain (engine-portable like every sampler here), and a
    * candidate survives only if its exact cosine to the anchor stays
    * BELOW `tau` (too-similar candidates are false negatives that
    * poison a contrastive loss — the verification IS the operator).
    *
    * Scale shape: the rank→id map comes from the two-phase
    * distributed rank (no single-partition window; the offset table
    * is partition-count-bounded); candidate ranks are a per-row
    * expression; resolution + both vector gathers are keyed hash
    * joins moving k rows per anchor; verification is per-row. Returns
    * (vec_id, j, neg_id, cos) for surviving draws. */
  def negativeSample(emb: DataFrame, k: Int = 4, tau: Double = 0.5,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val v = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val ranked = Scan.prefix(v.select(col("id")), None, Seq(col("id").asc_nulls_last), "rank")
    val cnt = ranked.agg(count(lit(1)).as("__n"))
    val cand = v.select(col("id").as("vec_id"))
      .crossJoin(broadcast(cnt))
      .select(col("vec_id"), explode(sequence(lit(0), lit(k - 1))).as("j0"), col("__n"))
      .select(col("vec_id"), col("j0").cast("long").as("j"),
        (conv(substring(md5(concat(lit("neg:"), col("vec_id").cast("string"),
          lit(":"), col("j0").cast("string"))), 1, 8), 16, 10)
          .cast("long") % col("__n")).as("cand_rank"))
    cand
      .join(ranked.select(col("rank").as("cand_rank"), col("id").as("neg_id")), "cand_rank")
      .where(col("neg_id") =!= col("vec_id"))
      .join(v.select(col("id").as("vec_id"), col("vec").as("__av")), "vec_id")
      .join(v.select(col("id").as("neg_id"), col("vec").as("__nv")), "neg_id")
      .select(col("vec_id"), col("j"), col("neg_id"),
        graft.functions.TextFunctions.cosine(col("__av"), col("__nv")).as("__c"))
      .where(col("__c") < tau)
      .select(col("vec_id"), col("j"), col("neg_id"), round(col("__c"), 4).as("cos"))
  }

  /** X221: deterministic train/val/test split assignment — THE
    * pipeline op every training run starts with, done the only way
    * that survives reruns and late-arriving data: the split is a pure
    * function of the document id (salted md5 prefix against two
    * [[rateThresholdHex]] cut points), so membership never depends on
    * row order, partitioning, or corpus size, and adding documents
    * never moves an existing one between splits (no leakage across
    * retrains). A salt distinct from every other sampler's keeps this
    * hash chain independent of theirs.
    *
    * Scale shape: one scan-stage expression per row, zero shuffles
    * beyond the display sort; at 100 TB the split is free. */
  def splitAssign(docs: DataFrame, trainPct: Double = 0.8,
                  valPct: Double = 0.1,
                  idCol: String = "doc_id"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 1.0)
    val h = substring(md5(concat(lit("split:"), col(idCol).cast("string"))), 1, 8)
    docs.select(col(idCol), col("lang"),
        when(h < lit(rateThresholdHex(trainPct)), "train")
          .when(h < lit(rateThresholdHex(trainPct + valPct)), "val")
          .otherwise("test").as("split"))
      .orderBy(col(idCol))
  }
}
