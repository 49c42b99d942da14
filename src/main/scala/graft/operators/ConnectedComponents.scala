package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step
  * that turns pairwise dedup output (L2/L3/L5) into actionable
  * CLUSTERS: each component keeps one canonical document (the lowest
  * id) and drops the rest. Without this step, pairwise output
  * under-deletes: pairs (a,b), (b,c) without (a,c) would keep both a
  * and c if deletion is done per-pair.
  *
  * Algorithm: min-label propagation with pointer jumping (the
  * map-reduce connected-components family of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each
  * round every node takes the minimum of its neighbors' labels and
  * its own label's label (L'(i) = min(min_{j∈N(i)} L(j), L(L(i)))) —
  * the second term is the pointer-jumping step that collapses label
  * chains and gives O(log n) rounds on a path instead of O(n).
  *
  * Scale shape: each round is one key-partitioned join + one
  * aggregation over the EDGE list plus the label map — no per-node
  * adjacency list is ever materialized, so a hub node with millions
  * of neighbors costs map-side-combined min aggregation, not an
  * in-memory list. Convergence is an exact DECIMAL label sum observed
  * on the round's own materialization (no separate job), and the
  * checkpoint fence (Checkpoints.fence — executor-local by default,
  * reliable FS under `spark.graft.reliableCheckpoints`) truncates
  * lineage so round r's plan does not replay rounds 1..r-1; each
  * superseded fence is released as soon as the next one holds.
  * Measured on the committed sf0.1 pair graphs: 12 rounds — the
  * banded/embedding pair lists contain one chain-shaped component
  * (near-dups of near-dups), so rounds ≈ log2(chain length), not the
  * 2-3 a clique-only graph would need.
  */
object ConnectedComponents {

  /** (id, component) for every node appearing in `edges` (id1, id2);
    * component = the minimum node id reachable from the node. */
  def components(edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    val e = edges.select(col("id1").cast("long").as("a"), col("id2").cast("long").as("b"))
    // symmetric, self-loop-free edge list — both orientations in ONE
    // pass (Graph.symmetrized): the union form computes the pair
    // subtree twice (the CC consumers feed an UNFENCED banded
    // candidate + verify pipeline here — only the deepest exchange is
    // reused across the union's branches, the CPU-dense verify re-runs
    // per branch) and doubles the partition count entering distinct
    val sym = Checkpoints.fence(
      Graph.symmetrized(e)
        .where(col("a") =!= col("b"))
        .distinct())

    // label(id) starts at min(id, min neighbor) — one round for free
    var assign = Checkpoints.fence(
      sym.groupBy(col("a").as("id"))
        .agg(least(min(col("b")), col("a")).as("comp")))

    var round = 0
    var prevSum: java.math.BigDecimal = null
    var converged = false
    while (!converged && round < maxRounds) {
      // FUSED hop + pointer jump, one join + one aggregation per round
      // (was: nbrMin join + hop left-join + jump join — the CC rounds
      // are tiny-frame jobs, so per-round exchange/job COUNT, not
      // bytes, is the measured cost locally; at scale one fewer
      // data-sized join per round is one fewer shuffle of the label
      // map). The label map doubles as extra directed edges
      // (i → L(i)): taking the min label over the union graph yields
      //   L'(i) = min( min_{j∈N(i)} L(j),  L(L(i)) )
      // — exactly the 1-hop neighbor min plus the chain-collapsing
      // pointer jump. L(x) ≤ x holds inductively, so L(L(i)) ≤ L(i)
      // keeps the update pointwise non-increasing and the fixpoint
      // (label constant per component, min labels itself) unchanged —
      // the min reachable id, identical to the unfused rounds.
      val ptr = assign.select(col("id").as("a"), col("comp").as("b"))
      val next = sym.unionByName(ptr)
        .join(assign.withColumnRenamed("id", "b"), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("comp")).as("comp"))
      // convergence rides the round's materialization as an observed
      // metric — labels are pointwise non-increasing, so an unchanged
      // label SUM (exact DECIMAL, no overflow at any scale) means no
      // label changed; no __old column and no separate changed-rows
      // job. One extra fixpoint-confirming round, same as the old
      // changed==0 check.
      val obs = org.apache.spark.sql.Observation()
      val fenced = Checkpoints.fence(next
        .observe(obs, sum(col("comp").cast("decimal(38,0)")).as("lsum")))
      val s = obs.get("lsum").asInstanceOf[java.math.BigDecimal]
      // null sum = empty label table (no edges): nothing can change
      converged = s == null || (prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      Checkpoints.release(assign)
      assign = fenced
      round += 1
    }
    Checkpoints.release(sym)
    // measurement affordance (stderr only): the round count is the CC
    // family's cost driver — every optimization decision here starts
    // from it, and it is invisible in plans (the loop runs behind
    // checkpoint fences at construction time)
    System.err.println(s"[cc] converged after $round rounds" +
      (if (round >= maxRounds) " (HIT maxRounds cap)" else ""))
    assign
  }

  /** Cluster summary: one row per component with its size and sorted
    * member list — the dedup "keep component id, drop the rest" view. */
  def clusters(edges: DataFrame, maxRounds: Int = 25): DataFrame =
    components(edges, maxRounds)
      .groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("n_members"),
        array_join(array_sort(collect_list(col("id"))), ",").as("members"))

  /** X135: canonical-keeper selection — dedup's POLICY step: within
    * each near-dup cluster, which member survives? `dropClustered`
    * hard-codes "smallest id"; real pipelines keep the best document
    * (longest, preferred source, then id as the tiebreak). One
    * component-keyed window over the cluster membership joined to the
    * doc metadata — component cardinality is high and cluster sizes
    * are bounded by dedup density, so the sort parallelizes like any
    * high-cardinality window. Returns one row per multi-member
    * cluster: (component, keeper_id, n_members, n_removed). */
  def canonicalKeepers(docs: DataFrame, edges: DataFrame,
                       lengthCol: String = "n_chars",
                       idCol: String = "doc_id",
                       maxRounds: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val member = components(edges, maxRounds)
      .join(docs.select(col(idCol).cast("long").as("id"),
        col(lengthCol).as("__len")), Seq("id"))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("__len").desc, col("id"))
    member
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("comp"))))
      .where(col("__rn") === 1 && col("n_members") > 1)
      .select(col("comp").as("component"), col("id").as("keeper_id"),
        col("n_members"), (col("n_members") - 1).as("n_removed"))
      .orderBy(col("component"))
  }

  /** Drop every non-canonical member of every cluster from `docs`:
    * the end-to-end "pairs → survivors" dedup contract. */
  def dropClustered(docs: DataFrame, edges: DataFrame,
                    idCol: String = "doc_id", maxRounds: Int = 25): DataFrame = {
    val losers = components(edges, maxRounds)
      .where(col("id") =!= col("comp"))
      .select(col("id"))
    docs.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }
}
