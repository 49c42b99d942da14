package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan lint over EVERY driver entry: catches the scale failure modes
  * that correctness checks can't see. */
class PlanLintSpec extends AnyFunSuite {
  import SparkTestSession._

  // ann_* intentionally score a broadcast cross product of a tiny query
  // set against the candidates — a BroadcastNestedLoopJoin, not a
  // shuffled CartesianProduct.
  test("no query plans a shuffled cartesian product") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a shuffled cartesian product:\n$plan")
    }
  }

  test("every aggregate runs a partial (map-side) phase before its exchange") {
    // spot-check the shuffle-heavy entries: partial aggregation is the
    // difference between shuffling rows and shuffling groups
    Seq("q1_agg", "ii_field_values", "dedup_exact", "q_skew_agg").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("partial"),
        s"$name must partially aggregate before the exchange:\n$plan")
    }
  }

  test("distinct-count paths plan no Expand (the scale gate)") {
    // a fused multi-column countDistinct Expands the input 4x before
    // the shuffle; both the approx variant and the per-column
    // two-phase exact form must avoid that
    val approx = operators.Relational.approxDistinctCounts(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!approx.contains("Expand"),
      s"approxDistinctCounts must not plan an Expand:\n$approx")
    assert(approx.contains("partial"), "sketches must merge map-side first")
    val exact = SparkEntry.queries("q_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exact.contains("Expand"),
      s"q_distinct's per-column two-phase legs must not plan an Expand:\n$exact")
    assert(!exact.contains("CartesianProduct"),
      "one-row leg recombination must broadcast, not shuffle")
  }

  test("grouped-quantile entries plan no percentile buffer and no sketch") {
    // exact quantiles rank the values (exactQuantiles); a `percentile`
    // aggregate would hold each group in one task. The final adaptive
    // plan exists only once the entry has run.
    Seq("q_quantiles", "q_trimmed_mean", "q_mad", "q_equidepth").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("percentile(") && !plan.contains("approx_percentile"),
        s"$name plans a percentile aggregate:\n$plan")
    }
  }

  test("scans are column-pruned: no query reads every documents column needlessly") {
    val plan = SparkEntry.queries("text_tokens")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"text_tokens should read only (doc_id, text):\n$plan")
  }

  private def shuffles(plan: String): Int =
    "Exchange hashpartitioning".r.findAllMatchIn(plan).size

  test("bpe apply: the literal replace chain rides the scan — one doc-keyed exchange") {
    val plan = SparkEntry.queries("text_bpe_apply")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1,
      s"encode must be scan-stage work, only the doc agg may shuffle:\n$plan")
    assert(plan.contains("partial"), "doc agg must combine map-side")
  }

  test("pca projection: driver-side loadings, no hash exchange in the data pass") {
    val plan = SparkEntry.queries("embed_pca")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 0,
      s"the projection is per-row + final sort; no hash exchange belongs here:\n$plan")
  }

  test("hybrid RRF: corpus stats and the vector query broadcast") {
    val plan = SparkEntry.queries("search_hybrid_rrf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"both legs' small sides must broadcast:\n$plan")
  }

  /** Entries allowed to window WITHOUT a partition spec — each windows
    * a table that is BOUNDED by construction before the window, so the
    * single-partition sort touches k rows, not data:
    *  - search_hybrid_rrf: RRF ranks each leg's post-LIMIT top-k pool
    *    (Search.hybridRrf — ≤ k rows per leg);
    *  - stats_chi2_cells / stats_psi: windows over the contingency /
    *    drift CELL tables (|event types| × |buckets| rows, metadata-
    *    sized regardless of event count);
    *  - q_cum_distinct: running sum over the per-DAY first-seen
    *    rollup (≤ |calendar days| rows regardless of event count);
    *  - text_coverage: ranks the ≤ max(ks) type rows a LIMIT already
    *    cut from the vocabulary-bounded type counts;
    *  - stats_mutual_info: marginal window sums over the |lang| ×
    *    |source| CELL table (metadata-sized regardless of corpus);
    *  - stats_zipf: ranks the ≤ 64 type rows its LIMIT already cut
    *    (the text_coverage shape);
    *  - stats_cramers_v: the stats_mutual_info marginal shape over the
    *    SAME |lang|×|source| cell table (metadata-sized at any corpus
    *    size).
    * Anything not listed here that adds a global window fails. */
  private val boundedGlobalWindows: Set[String] =
    Set("search_hybrid_rrf", "stats_chi2_cells", "stats_psi", "q_cum_distinct",
      "text_coverage", "stats_mutual_info", "stats_zipf", "stats_cramers_v")

  test("no new unpartitioned Window (global single-partition sort) in any gated plan") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (boundedGlobalWindows(name)) None
      else {
        val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        if (bad.nonEmpty) Some(name) else None
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window in: ${offenders.mkString(", ")} — a global window " +
        "sorts its whole input on ONE partition; partition it, or prove the " +
        "input is k-bounded and add the entry to boundedGlobalWindows")
  }

  test("the kNN-graph family plans no all-pairs scorer") {
    Seq("knn_graph", "graph_triangles", "graph_pagerank", "graph_link_pred")
      .foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name must ride the banded candidate route, not a cross join:\n$plan")
      }
  }

  test("the index-answered query family plans the custom posting exec node") {
    Seq("ii_posting_intersect", "ii_posting_or", "ii_posting_phrase",
        "ii_posting_phrase_slop").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PostingListIntersect "),
        s"$name must run through PostingListIntersectExec:\n$plan")
      assert(shuffles(plan) <= 2,
        s"$name should plan the index build + one chunk exchange, nothing more:\n$plan")
    }
  }

  test("covariance: marginal table broadcasts back onto the pair aggregate") {
    val plan = SparkEntry.queries("embed_cov")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"the d-row marginal join must broadcast:\n$plan")
    // the fused term sums are fenced (bounded metadata) so the joins
    // read them once instead of forking three explode legs — the final
    // plan consumes the checkpointed rows
    assert(plan.contains("ExistingRDD"),
      s"marg and pairs must read the ONE fenced stats table:\n$plan")
    // the data pass itself (behind the fence) must combine map-side
    val stats = graft.operators.EmbeddingStats
      .covTermSums(Tables.embeddings(spark, sf), "embedding")
      .queryExecution.executedPlan.toString
    assert(stats.contains("partial"), "term sums must combine map-side")
  }

  test("silhouette: the embedding column never shuffles — label sums broadcast") {
    val plan = SparkEntry.queries("embed_silhouette")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"the |labels|-row sum table must broadcast, never a sorted shuffle join:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the per-label sum table must arrive by broadcast:\n$plan")
  }

  test("feature hashing: the bucket histogram folds inside the scan — no hash exchange") {
    val plan = SparkEntry.queries("text_feature_hash")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 0,
      s"the hashing trick needs no vocabulary/grouping exchange at all:\n$plan")
  }

  test("decay score: the reference day broadcasts; one user-keyed aggregation") {
    val plan = SparkEntry.queries("q_decay_score")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row reference-day aggregate must broadcast:\n$plan")
    assert(shuffles(plan) <= 2 && plan.contains("partial"),
      s"scoring is scan-stage; only the user agg (map-side combined) may shuffle:\n$plan")
  }

  test("split assignment rides the scan — no exchange except the display sort") {
    val plan = SparkEntry.queries("sample_split")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) <= 1,
      s"the split is a pure per-row hash; only the orderBy may exchange:\n$plan")
    assert(!plan.contains("Aggregate"),
      s"no aggregation belongs in a per-row split assignment:\n$plan")
  }

  test("constraint audit: domain rules fuse into one aggregate per table scan") {
    val plan = SparkEntry.queries("q_constraint_audit")(spark, sf)
      .queryExecution.executedPlan.toString
    // three fact tables with fused domain rules + two FK anti-join
    // probes + their totals: the lineitem scan count stays bounded —
    // per-rule passes would multiply it by |rules|
    val scans = "Scan parquet".r.findAllMatchIn(plan).size
    assert(scans <= 7, s"rule-per-pass scan explosion ($scans scans):\n$plan")
    assert(plan.contains("partial"), "rule counters must combine map-side")
  }

  test("dataset checksum: per-row hashing rides the scan; one lang exchange") {
    val plan = SparkEntry.queries("stats_checksum")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1,
      s"md5 folding is scan-stage; only the lang agg may exchange:\n$plan")
    assert(plan.contains("partial"), "checksums must combine map-side")
  }

  test("theil-sen: the pair join runs on the calendar-bounded daily table") {
    val plan = SparkEntry.queries("q_theil_sen")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"),
      s"the corpus must collapse to (type, day) map-side first:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the pair join is type-keyed, never a shuffled cross product:\n$plan")
  }

  test("inference family: the corpus collapses before any pair join or fold") {
    // mann-kendall / cusum / anova first collapse events|orders with a
    // partial aggregation; everything pair-shaped runs on the bounded
    // summary
    Seq("stats_mann_kendall", "q_cusum", "q_anova").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("partial"),
        s"$name must collapse the corpus map-side before the exchange:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name must never plan a shuffled cross product:\n$plan")
    }
  }
}
