package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

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
  * Measured through this loop on the committed sf0.1 pair graphs: 12
  * rounds — the banded/embedding pair lists contain one chain-shaped
  * component (near-dups of near-dups), not the 2-3 a clique-only graph
  * would need. The round count grows with the diameter, not with
  * log2(chain length), unless ids happen to grow along the chain: a
  * replay of the rule needs about 55 rounds on a 256-node path with
  * random ids.
  *
  * Two routes, chosen once from the raw pair list: the input's
  * (id1, id2) cast to long, with self-loops and NULL ids dropped, is
  * fenced and its row count r observed on that fence (no extra job).
  * The route reads 2r as the directed edge count: for a distinct,
  * one-way pair list, which every dedup producer emits, 2r is exactly
  * the symmetric edge list's size; repeats and reversed pairs only
  * raise it, so they can move a graph toward the loop, never toward
  * the driver.
  *  - driver: when 2r × 24 B (a two-long UnsafeRow: 8 B null bitmap
  *    + 2 × 8 B) is at or below both `spark.sql.autoBroadcastJoinThreshold`
  *    — the byte bound Spark already applies before it collects a
  *    relation to the driver to broadcast it — and the fixed
  *    `DriverFinishMaxBytes` cap, the raw pairs are collected as
  *    primitive long arrays and union-find with path halving labels
  *    them on the driver (it links an edge in either orientation, and
  *    a repeat is a no-op, so no symmetric or distinct stage runs);
  *    the result is a local relation and no fence stays held. Small
  *    pair graphs are dispatch-bound: every round of the loop below
  *    pays a fence, AQE re-planning and several tiny jobs.
  *  - distributed: otherwise (and always when the threshold is -1),
  *    the symmetric, distinct edge list is fenced from the raw fence
  *    (one more fence than the driver route) and the fenced min-label
  *    loop runs over it.
  * Both return the same labels, and `clusters` summarizes the driver's
  * labels on the driver without a second query. `maxRounds` caps only
  * the distributed loop, which throws an IllegalStateException when it
  * reaches the cap before the labels converge; the driver route always
  * converges.
  */
object ConnectedComponents {

  /** Bytes one (a, b) edge row takes as an UnsafeRow: an 8 B null
    * bitmap plus two 8 B longs. */
  private val EdgeRowBytes = 24L

  /** The driver finish never takes an edge list above this many
    * bytes, however high the broadcast threshold is raised for joins:
    * Spark's default threshold, 10 MB (436,906 directed edges). Timed
    * by `CcRouteTiming` on 4 local cores against the loop's cheapest
    * shape (4-node cliques, 2 rounds): the driver finish is 1.8×
    * faster at the cap (1.29 vs 2.38 s) but only 1.2× at 1M edges and
    * 1.1× at 2M, where the driver would hold ever more of the graph. */
  private[graft] val DriverFinishMaxBytes = 10L << 20

  /** Whether an edge list of `rows` directed edges finishes on the
    * driver under broadcast threshold `threshold` (-1 never does). */
  private[graft] def driverFinish(rows: Long, threshold: Long): Boolean =
    rows * EdgeRowBytes <= math.min(threshold, DriverFinishMaxBytes)

  /** (id, component) for every node appearing in `edges` (id1, id2)
    * with an edge to another node; component = the minimum node id
    * reachable from the node. */
  def components(edges: DataFrame, maxRounds: Int = 25): DataFrame =
    labels(edges, maxRounds) match {
      case Left(d) =>
        edges.sparkSession.createDataFrame(d.ids.indices.map(k => Row(d.ids(k), d.comps(k))).asJava,
          StructType(Seq(StructField("id", LongType, d.idNullable), StructField("comp", LongType))))
      case Right(assign) => assign
    }

  /** The driver route's labels: every node id ascending, `comps(k)`
    * the component of `ids(k)`. The loop's `id` column is nullable
    * when either input column is (Graph.symmetrized merges them), and
    * `idNullable` says the same. */
  private final case class DriverLabels(ids: Array[Long], comps: Array[Long], idNullable: Boolean)

  /** The route: the driver's union-find labels, or the distributed
    * loop's fenced (id, comp) frame. */
  private def labels(edges: DataFrame, maxRounds: Int): Either[DriverLabels, DataFrame] = {
    val size = org.apache.spark.sql.Observation()
    val raw = Checkpoints.fence(
      edges.select(col("id1").cast("long").as("a"), col("id2").cast("long").as("b"))
        .where(col("a") =!= col("b"))
        .observe(size, count(lit(1)).as("rows")))
    val pairs = size.get("rows").asInstanceOf[Long]
    val threshold = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (driverFinish(2 * pairs, threshold)) {
      val out = driverLabels(raw)
      System.err.println(s"[cc] converged after 0 rounds (driver finish: $pairs pairs, " +
        s"${2 * pairs * EdgeRowBytes} bytes <= ${math.min(threshold, DriverFinishMaxBytes)})")
      Left(out)
    } else {
      val sym = Checkpoints.fence(Graph.symmetrized(raw).distinct())
      Checkpoints.release(raw)
      Right(minLabelLoop(sym, maxRounds))
    }
  }

  /** Union-find over the collected raw pairs; releases `raw`. Links
    * always point at the smaller id, so every root is its component's
    * minimum id. */
  private def driverLabels(raw: DataFrame): DriverLabels = {
    // one primitive (a, b, a, b, ...) array per partition: no Row or
    // boxed long per edge on the driver
    val parts = raw.queryExecution.toRdd.mapPartitions { rows =>
      val ab = Array.newBuilder[Long]
      rows.foreach { r => ab += r.getLong(0); ab += r.getLong(1) }
      Iterator.single(ab.result())
    }.collect()
    Checkpoints.release(raw)
    // every node is an endpoint of some pair: sort both columns and
    // drop repeats in place, no boxed set
    val all = Array.concat(parts.toIndexedSeq: _*)
    java.util.Arrays.sort(all)
    var n = 0
    for (k <- all.indices if n == 0 || all(k) != all(n - 1)) { all(n) = all(k); n += 1 }
    val ids = java.util.Arrays.copyOf(all, n)
    val parent = Array.range(0, ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    def index(id: Long) = java.util.Arrays.binarySearch(ids, id)
    // union-find links a pair in either orientation and a repeat is a
    // no-op, so the raw pairs need no symmetric or distinct stage
    for (p <- parts; i <- 0 until p.length by 2) {
      val (ra, rb) = (find(index(p(i))), find(index(p(i + 1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    DriverLabels(ids, Array.tabulate(ids.length)(k => ids(find(k))),
      raw.schema("a").nullable || raw.schema("b").nullable)
  }

  /** The fenced min-label loop; releases `sym` once it is done. */
  private def minLabelLoop(sym: DataFrame, maxRounds: Int): DataFrame = {
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
    // labels still changing at the cap are not component minima: a
    // caller would split real components, so fail rather than return them
    if (!converged) {
      Checkpoints.release(assign)
      throw new IllegalStateException(
        s"connected components did not converge in $round rounds (maxRounds = $maxRounds)")
    }
    // measurement affordance (stderr only): the round count is the CC
    // family's cost driver — every optimization decision here starts
    // from it, and it is invisible in plans (the loop runs behind
    // checkpoint fences at construction time)
    System.err.println(s"[cc] converged after $round rounds")
    assign
  }

  /** Cluster summary: one row per component with its size and sorted
    * member list — the dedup "keep component id, drop the rest" view. */
  def clusters(edges: DataFrame, maxRounds: Int = 25): DataFrame =
    labels(edges, maxRounds) match {
      case Left(d) =>
        // ids ascend, so each component's members come out sorted, as
        // array_sort leaves them on the loop route
        val rows = d.ids.indices.groupBy(d.comps(_)).toSeq.sortBy(_._1).map { case (comp, ks) =>
          Row(comp, ks.length.toLong, ks.map(d.ids(_)).mkString(","))
        }
        edges.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
          StructField("component", LongType),
          StructField("n_members", LongType, nullable = false),
          StructField("members", StringType, nullable = false))))
      case Right(assign) =>
        assign.groupBy(col("comp").as("component"))
          .agg(count(lit(1)).as("n_members"),
            array_join(array_sort(collect_list(col("id"))), ",").as("members"))
    }

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
