package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the similarity graph (X152): once embeddings
  * become a mutual-kNN graph (Similarity.knnGraphBanded), its STRUCTURE is a
  * data-quality signal — triangle-dense neighborhoods are coherent
  * topics, triangle-free hubs are boilerplate/outliers, and the
  * clustering coefficient ranks them. This is the standard
  * oriented-edge distributed triangle count (each triangle counted
  * once via a < b < c), the shape every vertex-centric framework
  * compiles to joins anyway — done directly in DataFrames.
  *
  * Scale shape: with degree ≤ k the oriented edge list is ≤ kN rows;
  * the wedge join (ab ⋈ bc on b) produces ≤ Σ deg² wedges — k²N with
  * a degree cap, never N² — and the closing join back to the edge
  * list is a plain hash join on (a, c). Per-node counts ride an
  * explode of the 3 triangle corners. Every output column is an
  * integer or one integer division. */
object Graph {

  /** Undirected mutual edges (a < b) from an already-built kNN graph
    * (the (q_id, rank, c_id, score, mutual) shape). */
  def undirectedMutual(knn: DataFrame): DataFrame =
    knn.where(col("mutual") && col("q_id") < col("c_id"))
      .select(col("q_id").as("a"), col("c_id").as("b"))

  /** Both orientations of an (a, b) edge list in ONE pass: explode of
    * a 2-struct array instead of `e unionAll reverse(e)`. Identical
    * rows, but the union form scans (and recomputes!) the edge
    * subtree TWICE and doubles the partition count — and when the
    * result is checkpoint-fenced, that doubled layout is what every
    * iteration of a round loop re-scans (profiled on graph_pagerank:
    * 5 × 64-task dispatch-bound jobs at 32 cores → 5 × 32, wall
    * 4.8 → 3.3 s). */
  private[operators] def symmetrized(e: DataFrame): DataFrame =
    e.select(explode(array(
      struct(col("a"), col("b")),
      struct(col("b").as("a"), col("a").as("b")))).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))

  /** X153: PageRank over the mutual-kNN graph — the global importance
    * score (centrality ≈ representativeness in a similarity graph;
    * high-rank nodes are canonical exemplars, low-rank the fringe).
    * Classic damped power iteration as repeated join + keyed
    * aggregation — the only data-sized exchange per round keys on the
    * destination vertex. Cross-engine determinism: every iteration's
    * rank is rounded to 9 dp, which absorbs float-summation ORDER
    * differences (in-neighbor sums differ by ~1e-18, the rounding
    * grid is 5e-10) so both engines iterate on IDENTICAL doubles;
    * the symmetric edge set has no dangling nodes by construction.
    * Lineage is fenced per round (conf-routed checkpoint) exactly
    * like ConnectedComponents. Takes a prebuilt undirected (a, b)
    * edge list. An empty edge set returns an empty result — not a
    * divide-by-zero in the teleport term (an over-filtered corpus
    * must degrade, not crash). */
  def pageRankEdges(e: DataFrame, iters: Int = 5,
                    damping: Double = 0.85): DataFrame = {
    val sym = Checkpoints.fence(symmetrized(e))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("outdeg"))
    val n = deg.count() // |vertices|, bounded scalar
    if (n == 0)
      return e.limit(0).select(col("a").cast("long").as("vec_id"),
        lit(0.0).as("pagerank"))
    // key-repartition the loop-invariant join table BEFORE its fence:
    // the fenced layout is what all `iters` rounds re-scan. Without
    // the exchange it pins the parent pipeline's partition count
    // (profiled: 5 × 32-task dispatch-bound round jobs over KBs at
    // 32c); with it, AQE sizes the layout by BYTES locally and at
    // scale every round's join on `a` reuses the hash partitioning
    // instead of re-shuffling the 2|E|-row table per iteration
    // (guide §2.4 — establish the partitioning once).
    val withDeg = Checkpoints.fence(sym.join(deg, "a").repartition(col("a")))
    val teleport = lit(1.0 - damping) / lit(n.toDouble)
    var ranks = deg.select(col("a").as("vtx"),
      round(lit(1.0) / lit(n.toDouble), 9).as("r"))
    (1 to iters).foreach { _ =>
      ranks = Checkpoints.fence(withDeg
        .join(ranks, col("a") === col("vtx"))
        .select(col("b"), (col("r") / col("outdeg")).as("c"))
        .groupBy(col("b")).agg(sum(col("c")).as("s"))
        .select(col("b").as("vtx"),
          round(teleport + lit(damping) * col("s"), 9).as("r")))
    }
    ranks.select(col("vtx").as("vec_id"), col("r").as("pagerank"))
      .orderBy(col("vec_id"))
  }

  /** X154: common-neighbor link prediction — non-adjacent node pairs
    * ranked by neighborhood Jaccard (the "should these be merged /
    * are these the same topic" suggester on the similarity graph).
    * The wedge join IS the intersection counter: the number of
    * two-paths between a and c equals |N(a) ∩ N(c)|, so one
    * dst-keyed count over the k²N-bounded wedge set, an anti-join
    * against the edge list, and a degree join give the score —
    * integer counts with one division per candidate pair. Takes a
    * prebuilt undirected (a, b) edge list. */
  def linkPredictionEdges(e: DataFrame, topN: Int = 50): DataFrame = {
    val sym = symmetrized(e)
    val deg = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val wedges = sym.as("l").join(sym.as("r"),
        col("l.b") === col("r.a") && col("l.a") < col("r.b"))
      .select(col("l.a").as("x"), col("r.b").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
    wedges
      .join(e, wedges("x") === e("a") && wedges("y") === e("b"), "left_anti")
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
      .select(col("x"), col("y"), col("common"),
        round(col("common") / (col("dx") + col("dy") - col("common")), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("x"), col("y"))
      .limit(topN)
  }

  /** X202: label-propagation community detection (Raghavan et al.
    * 2007) over the mutual-kNN graph — the near-linear community
    * finder that turns the similarity graph into topic clusters
    * without a cluster-count parameter (vs the IVF route's fixed k).
    *
    * Determinism: labels are vertex ids (pure integers — no floats
    * anywhere), updates are SYNCHRONOUS over a fixed `iters` rounds,
    * and each node adopts its neighborhood's most frequent label with
    * ties broken toward the SMALLEST label — a total order, so the
    * result is partitioning-independent and the DuckDB twin unrolls
    * the identical rounds. Isolated nodes keep their own label.
    *
    * Scale shape per round: one join of the (≤2kN)-row symmetric edge
    * list against the N-row label table keyed on the neighbor, one
    * (node, label) count, one per-node argmax via min_by on the
    * (−count, label) struct — all degree-bounded; lineage is fenced
    * per round like [[pageRankEdges]] so the plan doesn't nest. */
  def labelPropagationEdges(nodes: DataFrame, e: DataFrame,
                            iters: Int = 4): DataFrame = {
    // NOT repartitioned before the fence (the pageRankEdges move):
    // measured WORSE here (1.3 → 1.6 s warm at 32c) — label_prop's 4
    // rounds broadcast the label table onto sym, so the round jobs
    // were never dispatch-bound and the extra exchange only costs.
    val sym = Checkpoints.fence(symmetrized(e))
    var labels = nodes.select(col("vec_id").cast("long").as("id"))
      .withColumn("label", col("id"))
    (1 to iters).foreach { _ =>
      val best = sym
        .join(labels.select(col("id").as("nbr"), col("label")),
          sym("b") === col("nbr"))
        .groupBy(sym("a").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("id"))
        .agg(min_by(col("label"),
          struct((-col("cnt")).as("nc"), col("label"))).as("nl"))
      labels = Checkpoints.fence(labels
        .join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("nl"), col("label")).as("label")))
    }
    labels.select(col("id").as("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** X209: k-core extraction (`rounds`-round degree peeling) over the
    * mutual-kNN graph — the dense-cohesion filter: vertices that
    * survive repeated "drop degree < k" pruning sit in tightly
    * interlinked neighborhoods (stable topics), while tree-like and
    * pendant structure (one-off pages, weak near-dups) peels away.
    * The classic preprocessing cut before community detection.
    *
    * Each round recomputes degrees over the SURVIVING edge set and
    * keeps vertices with degree ≥ k; `rounds` is fixed so both
    * engines run the identical unrolled sequence (peeling is
    * monotone, so extra rounds past convergence are no-ops — on kNN
    * graphs with degree ≤ 10 the fixpoint lands in a handful of
    * rounds). All integers. Per round: one degree aggregation + two
    * semi-join-shaped filters on the degree-bounded edge list;
    * lineage fenced per round like [[pageRankEdges]]. Returns the
    * surviving vertices with their in-core degree. */
  def kCoreEdges(e: DataFrame, k: Int = 3, rounds: Int = 8): DataFrame = {
    var edges = Checkpoints.fence(e.select(col("a"), col("b")))
    (1 to rounds).foreach { _ =>
      // NOT symmetrized(): measured 2.6 → 4.9 s warm at 32c with the
      // explode form here — this loop re-derives sym from the FENCED
      // edge scan each round (two cheap scans, no recompute to save),
      // and the per-round generator evaluation costs more than the
      // second scan. The explode form pays off only where the edge
      // subtree is expensive or the result is fenced for iteration.
      val sym = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      val keep = sym.groupBy(col("a").as("v"))
        .agg(count(lit(1)).as("d")).where(col("d") >= k)
      edges = Checkpoints.fence(edges
        .join(keep.select(col("v").as("a")), "a")
        .join(keep.select(col("v").as("b")), "b")
        .select(col("a"), col("b")))
    }
    // unionAll for the same reason as the loop above (fenced scan)
    val sym = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
    sym.groupBy(col("a").as("vec_id"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy(col("vec_id"))
  }

  /** X213: degree assortativity (Newman 2002) of the mutual-kNN graph
    * — the one-number answer to "do hubs link to hubs?": positive r
    * means a core-periphery similarity structure (dense topic cores),
    * negative means hub-and-spoke (boilerplate stars), ~0 means
    * random — read next to the triangle census when deciding whether
    * near-dup clusters are topical or templated.
    *
    * r is the Pearson correlation of (deg(a), deg(b)) over the
    * SYMMETRIC edge list (each undirected edge in both orientations,
    * which makes the estimator symmetric without ½-factors). Every
    * sum is an exact LONG/DECIMAL over integers — n, Σx, Σy, Σx²,
    * Σy², Σxy — from ONE aggregation over the degree-joined edges
    * (≤ 2kN rows), so no float accumulation exists; r is one fixed
    * IEEE sequence (two sqrts before the product, the stats_spearman
    * discipline), round(4). */
  def assortativityEdges(e: DataFrame): DataFrame = {
    val sym = symmetrized(e)
    val deg = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val xy = sym
      .join(deg.select(col("v").as("a"), col("d").as("x")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("y")), "b")
      .select(col("x").cast("decimal(38,0)").as("x"),
        col("y").cast("decimal(38,0)").as("y"))
    val s = xy.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    s.select(col("n").cast("long").as("n_directed_edges"),
      round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
          sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
        4).as("assortativity"))
  }

  /** Per-node triangle participation + degree + local clustering
    * coefficient over the mutual-kNN graph; nodes with degree < 2
    * have undefined coefficient and report 0 triangles, cc = 0.
    * Takes a prebuilt undirected (a, b) edge list. */
  def triangleStatsEdges(e: DataFrame): DataFrame = {
    // one-pass twin of `symmetrized` for the endpoint multiset
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.b") === col("bc.a"))
      .join(e.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .select(col("ab.a").as("ta"), col("ab.b").as("tb"), col("bc.b").as("tc"))
    val perNode = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("vec_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc", when(col("degree") >= 2,
        round(lit(2.0) * col("n_triangles") /
          (col("degree") * (col("degree") - 1)), 6)).otherwise(lit(0.0)))
      .orderBy(col("vec_id"))
  }
}
