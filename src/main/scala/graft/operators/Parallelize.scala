package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Parallelism guards for CPU-dense stages whose INPUT is small in
  * bytes (optimization guide §2.5 input skew / §7.2 plan audit).
  *
  * Two distinct collapse mechanisms, two guards:
  *
  *  - [[spreadScan]]: a generator/explode-heavy operator over an
  *    unsplittable small scan (one parquet row group ⇒ one task) runs
  *    its whole row-amplifying stage single-threaded — the sf0.1
  *    documents table is one 0.6 MB split, so e.g. text_skipgrams'
  *    ~hundreds-of-pairs-per-doc explode+partial-agg ran as ONE task
  *    (measured 4.6 s of a 4.8 s entry). The guard repartitions the
  *    input to the session's shuffle parallelism ONLY when the scan's
  *    planned parallelism is materially below it; at scale the scan
  *    has thousands of splits and the guard is a no-op — so the extra
  *    input shuffle is never paid where it would actually cost
  *    (shuffling 100 TB of text to "rebalance" it would be the bug).
  *
  *  - [[spreadPairs]]: a per-pair verifier (array_intersect Jaccard,
  *    banded levenshtein) fed by a bytes-tiny pair table whose
  *    partitioning collapsed (AQE byte-based coalescing of the
  *    candidate exchange) keeps that collapsed layout straight
  *    through broadcast-hash joins — the CPU-dense verify then runs
  *    in 1-2 tasks (measured: the dedup_snm_multipass verify was two
  *    3.6 s single-task jobs).
  *    AQE coalescing is BYTE-driven and cannot see per-row CPU cost,
  *    so the operator pins the verify stage's parallelism with an
  *    explicit hash repartition — an exchange of two-long rows, paid
  *    once, that the byte-oriented coalescer would otherwise undo.
  */
object Parallelize {

  /** Repartition `df` to the session's shuffle parallelism iff its
    * planned scan parallelism is materially below it (tiny or
    * unsplittable input feeding a row-amplifying stage). */
  def spreadScan(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // no RDD view; micro-batches are sized upstream
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    // the probe below (df.rdd) builds the frame's RDD lineage, which
    // under AQE MATERIALIZES any upstream exchange (runs real jobs).
    // Every intended call site is a pure scan projection; guard the
    // probe so a future caller with an exchange in the plan gets a
    // no-op instead of execution-at-plan-time (the spread would be
    // redundant after a shuffle anyway — the exchange already laid
    // the data out at shuffle parallelism).
    val hasExchange = df.queryExecution.sparkPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    if (hasExchange) return df
    // planned partition count of the physical scan — planning only,
    // nothing executes (exchange-free plan, so the RDD view is inert)
    val planned = df.rdd.getNumPartitions
    if (planned * 2 <= target) df.repartition(target) else df
  }

  /** Pin the partitioning of a (id1, id2) candidate-pair table ahead
    * of a CPU-dense per-pair verifier. Round-robin with an EXPLICIT
    * partition count, deliberately: a hash repartition on (id1, id2)
    * gets collapsed into an upstream distinct/aggregate exchange that
    * carries the same keys (optimizer removes the "redundant"
    * repartition), and that surviving ENSURE_REQUIREMENTS exchange is
    * then byte-coalesced by AQE — the CPU-dense verify collapses back
    * to 1-2 tasks. REPARTITION_BY_NUM is exempt from both. Rows are
    * two longs, so the round-robin's defensive pre-sort
    * (sortBeforeRepartition, keeps retries deterministic) is noise. */
  def spreadPairs(pairs: DataFrame): DataFrame = {
    val target = pairs.sparkSession.sessionState.conf.numShufflePartitions
    pairs.repartition(target)
  }
}
