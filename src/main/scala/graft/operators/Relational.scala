package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational core: the LazyFrame-style surface the reference DSL is
  * built on (scan/filter/project/join/agg/sort — reference
  * src/main.rs:297-574 composes exactly these), expressed as
  * declarative DataFrame plans so Catalyst handles pushdown, join
  * strategy, and whole-stage codegen.
  *
  * Scale notes (100 TB):
  *  - filters/projections sit directly on the parquet scan (verified
  *    via PushedFilters/ReadSchema in explain);
  *  - dimension joins (region/nation/customer at TPC-H ratios) are
  *    explicitly `broadcast()`; fact-fact joins shuffle on join keys
  *    with AQE handling skew;
  *  - every query's output is deterministic (ordered, rounded) so the
  *    driver's DuckDB oracle compare is stable across engines.
  */
object Relational {

  /** C1: scan + filter + project, all pushed to the parquet scan. */
  def scanFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_discount")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** C2: TPC-H Q1-style grouped aggregation (map-side partial agg,
    * single shuffle on the two grouping keys). */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_quantity" > 0)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** C3: fact-dim join with an explicit broadcast of the dim side —
    * at TPC-H ratios customer is ~1% of lineitem bytes; broadcasting
    * avoids shuffling the fact table entirely. */
  def joinBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy($"c_mktsegment")
      .agg(round(sum($"o_totalprice"), 2).as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy($"c_mktsegment")
  }

  /** C4: TPC-H Q5-style 6-way star join. Dims (supplier, nation,
    * region, customer) broadcast; the single shuffle join is
    * lineitem⋈orders on orderkey. */
  def multiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey") &&
                          c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter($"r_name" === "ASIA")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy($"n_name")
  }

  /** C5: semi + anti join (EXISTS / NOT EXISTS) — both broadcastable
    * when the probe set is small; Spark plans left-semi/left-anti with
    * no row duplication. */
  def semiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).select($"o_custkey")
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .withColumn("kind", lit("has_orders"))
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .withColumn("kind", lit("no_orders"))
    semi.unionByName(anti)
      .select($"kind", $"c_mktsegment", $"n")
      .orderBy($"kind", $"c_mktsegment")
  }

  /** C6: distinct / count-distinct, the per-column two-phase form.
    * A single multi-column exact `countDistinct` plans an Expand that
    * multiplies every scanned row N× (one branch per distinct key)
    * before the partial aggregate — measured as the slowest relational
    * entry and the first thing to fall over at 100 TB. Instead each
    * exact leg is its own two-phase aggregation: a column-pruned scan
    * of JUST that key (so the three legs together read the same bytes
    * the fused form reads once), map-side dedup, an exchange carrying
    * only distinct keys, then a partial-merged count. The one-row legs
    * recombine with broadcast joins — no Expand anywhere in the plan
    * (PlanLintSpec gates this).
    *
    * The HLL `approx_count_distinct` legs ride the n_rows scan and
    * remain the preferred 100 TB path (constant-size sketch, one scan
    * — see approxDistinctCounts); the output asserts each approx lands
    * within 10% of exact — 2σ for the default 5% rsd sketch. The
    * booleans are deterministic, so the DuckDB hash compare stays
    * engine-agnostic while still gating the approx path. */
  def distinctCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    def exactLeg(c: String, out: String) =
      li.select(col(c)).distinct().agg(count(lit(1)).as(out))
    val base = li.agg(
      count(lit(1)).as("n_rows"),
      approx_count_distinct($"l_partkey").as("apx_parts"),
      approx_count_distinct($"l_suppkey").as("apx_supps"),
      approx_count_distinct($"l_orderkey").as("apx_orders"))
    exactLeg("l_partkey", "n_parts")
      .crossJoin(exactLeg("l_suppkey", "n_supps"))
      .crossJoin(exactLeg("l_orderkey", "n_orders"))
      .crossJoin(base)
      .select(
        $"n_parts", $"n_supps", $"n_orders", $"n_rows",
        (abs($"apx_parts" - $"n_parts") <= $"n_parts" * 0.10).as("apx_parts_ok"),
        (abs($"apx_supps" - $"n_supps") <= $"n_supps" * 0.10).as("apx_supps_ok"),
        (abs($"apx_orders" - $"n_orders") <= $"n_orders" * 0.10).as("apx_orders_ok"))
  }

  /** C6 at scale: the approx-only variant of distinctCounts. Exact
    * multi-column countDistinct plans an Expand that multiplies the
    * input 4× and shuffles full distinct key sets — the documented
    * scale-weak path kept only for the oracle gate. This is the API a
    * 100 TB caller should use: one pass, no Expand, one constant-size
    * HLL sketch per leg crossing the exchange (default rsd 5%). */
  def approxDistinctCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .agg(
        approx_count_distinct($"l_partkey").as("apx_parts"),
        approx_count_distinct($"l_suppkey").as("apx_supps"),
        approx_count_distinct($"l_orderkey").as("apx_orders"),
        count(lit(1)).as("n_rows"))
  }

  /** C7: global top-k — Spark plans sort+limit as TakeOrderedAndProject
    * (per-partition heap, k rows to the driver), never a full sort. */
  def topK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)
  }

  /** C8: window functions — rank within customer + running revenue.
    * One shuffle on o_custkey shared by both windows. */
  def windowFns(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byPrice = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val byDate = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .withColumn("rk", rank().over(byPrice))
      .withColumn("running", round(sum($"o_totalprice").over(byDate), 2))
      .filter($"rk" <= 2)
      .select($"o_custkey", $"o_orderkey", $"rk", $"running")
      .orderBy($"o_custkey", $"rk", $"o_orderkey")
  }

  /** C8b: navigation windows — lag/lead (delta to the customer's
    * previous/next order), ntile spend-quartile, cume_dist. Same
    * single o_custkey exchange as C8; all four functions share one
    * sort order so Spark plans ONE Window operator, not four. */
  def navWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byDate = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, sfDir)
      .withColumn("prev_delta",
        round($"o_totalprice" - lag($"o_totalprice", 1).over(byDate), 2))
      .withColumn("next_delta",
        round(lead($"o_totalprice", 1).over(byDate) - $"o_totalprice", 2))
      .withColumn("quartile", ntile(4).over(byDate).cast("long"))
      .withColumn("cdist", round(cume_dist().over(byDate), 4))
      .where($"o_custkey" % 100 === 0)
      .select($"o_custkey", $"o_orderkey", $"prev_delta", $"next_delta",
        $"quartile", $"cdist")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** C12b: INTERSECT / EXCEPT set operations — nations that have both
    * customers and suppliers, and nations with customers but no
    * suppliers. Spark plans these as left-semi / left-anti aggregates
    * over the distinct keys, not row-multiset diffs. */
  def intersectExcept(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir).select($"c_nationkey".as("nationkey"))
    val s = Tables.supplier(spark, sfDir).select($"s_nationkey".as("nationkey"))
    val both = c.intersect(s).withColumn("rel", lit("both"))
    val onlyC = c.except(s).withColumn("rel", lit("customers_only"))
    both.unionByName(onlyC).select($"rel", $"nationkey")
      .orderBy($"rel", $"nationkey")
  }

  /** C12c: FULL OUTER join — per-nation customer vs supplier counts
    * with each side restricted so both null directions occur. The
    * aggregates happen BEFORE the join (nation-sized inputs), so the
    * outer join is over tiny keyed tables, not row-level fan-out. */
  def fullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir).where($"c_nationkey" >= 5)
      .groupBy($"c_nationkey".as("nationkey")).agg(count(lit(1)).as("n_cust"))
    val s = Tables.supplier(spark, sfDir).where($"s_nationkey" < 10)
      .groupBy($"s_nationkey".as("nationkey")).agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select($"nationkey", coalesce($"n_cust", lit(0L)).as("n_cust"),
        coalesce($"n_supp", lit(0L)).as("n_supp"))
      .orderBy($"nationkey")
  }

  /** C13: correlated EXISTS subquery — Catalyst decorrelates it into a
    * left-semi join on the correlation key; same physical shape as the
    * DataFrame semi join, exposed through the SQL surface. */
  def existsSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** C14: scalar subquery in predicate and projection — planned as a
    * one-row broadcast (SubqueryExec), evaluated once, not per row.
    * `max` (not avg) keeps the scalar FP-exact across engines. */
  def scalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    spark.sql(
      """SELECT o_orderkey,
        | round(o_totalprice / (SELECT max(o_totalprice) FROM orders), 4) AS price_ratio
        |FROM orders
        |WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** C9: tumbling time-window aggregation over the events table —
    * the batch twin of the structured-streaming pipeline
    * (graft.streaming.EventStream). */
  def timeWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .select(date_format($"w.start", "yyyy-MM-dd").as("day"),
              $"event_type", $"n", $"sum_value")
      .orderBy($"day", $"event_type")
  }

  /** C9b: SLIDING time windows (1-day window every 6 hours) — each
    * event lands in window/slide = 4 overlapping windows. Spark plans
    * this as a 4-row explode inside the scan stage feeding the same
    * single-shuffle aggregation as the tumbling form; the fan-out is
    * window/slide, fixed at plan time, never data-dependent. */
  def slidingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 day", "6 hours").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH").as("win_start"),
              $"event_type", $"n", $"sum_value")
      .orderBy($"win_start", $"event_type")
  }

  /** C10: JSON field extraction from the events `props` column
    * (reference ingests JSON logs — src/main.rs:9 README "8-9GB of
    * JSON data ingested"). */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           round(avg($"k"), 4).as("avg_k"),
           sum($"k").as("sum_k"))
      .orderBy($"event_type")
  }

  /** C11: explode / list ops — the tags-style List[String] handling
    * (reference src/main.rs:144-148). Top-20 tokens across documents. */
  def explodeTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)
  }

  /** C13: ROLLUP — hierarchical subtotals (flag, status) → (flag) →
    * grand total. Spark plans one Expand (×3, one branch per grouping
    * set) feeding a single partially-aggregated shuffle, so the bytes
    * crossing the exchange are O(sets × groups per partition), not
    * O(rows) — rollup over low-cardinality keys scales like a plain
    * group-by. `grouping()` flags are rewritten to 'ALL' labels so the
    * output carries no NULL grouping markers (engine-agnostic hash). */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(grouping($"l_returnflag").as("g_rf"), grouping($"l_linestatus").as("g_ls"),
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n"))
      .select(
        when($"g_rf" === 1, "ALL").otherwise($"l_returnflag").as("rf"),
        when($"g_ls" === 1, "ALL").otherwise($"l_linestatus").as("ls"),
        $"sum_qty", $"sum_price", $"n")
      .orderBy($"rf", $"ls")
  }

  /** C13b: CUBE — all 2^k grouping-set combinations; same Expand-based
    * plan shape as rollup (×4 here). */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(grouping($"l_returnflag").as("g_rf"), grouping($"l_linestatus").as("g_ls"),
        round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        when($"g_rf" === 1, "ALL").otherwise($"l_returnflag").as("rf"),
        when($"g_ls" === 1, "ALL").otherwise($"l_linestatus").as("ls"),
        $"sum_qty", $"n")
      .orderBy($"rf", $"ls")
  }

  /** C14: PIVOT — long→wide on an explicit value list. Passing the
    * values makes the plan a single group-by with conditional
    * aggregates; omitting them would add a driver-side distinct job to
    * discover columns first — never do that at 100 TB. Empty cells
    * become 0 (Spark's pivot count yields null for absent combos,
    * which no SQL conditional-count twin would produce). */
  def pivotLangCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy($"source")
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"source")
  }

  /** C14b: UNPIVOT — wide→long, the inverse of pivot. Spark plans
    * `unpivot` as an Expand (one branch per melted column) riding the
    * pivoted aggregate — no extra shuffle, no driver loop. Zero cells
    * from the pivot surface as explicit n=0 rows, which is the point:
    * the melt preserves the dense (source × lang) grid. */
  def unpivotLangCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pivotLangCounts(spark, sfDir)
      .unpivot(Array($"source"), Array($"de", $"en", $"es", $"fr", $"zh"),
        "lang", "n")
      .orderBy($"source", $"lang")
  }

  /** C8c: time-RANGE framed window — per-user trailing-7-day event
    * count and value sum, the frame keyed on EVENT TIME (micros epoch,
    * RANGE BETWEEN 7d PRECEDING AND CURRENT ROW), not row position:
    * sparse users don't drag ancient events into the frame and
    * same-timestamp peers share one. Plan shape is one user-keyed
    * shuffle + one in-partition sort, identical to any analytic
    * window — the range bound changes frame arithmetic, not the
    * exchange. `value` goes through DECIMAL so the frame sum is exact
    * and engine-independent (a double sum's error would depend on each
    * engine's accumulation order over the frame). */
  def rangeFrameWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sevenDaysMicros = 7L * 86400L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
      .rangeBetween(-sevenDaysMicros, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("sum_7d",
        sum($"value".cast("decimal(18,2)")).over(w).cast("double"))
      .where($"user_id" % 10 === 0)
      .select($"user_id", $"event_id", $"n_7d", $"sum_7d")
      .orderBy($"user_id", $"event_id")
  }

  /** C19: gaps-and-islands — per-user streaks of CONSECUTIVE active
    * days (the engagement-metrics staple). The classic construction:
    * distinct (user, day), then day_index − row_number() is constant
    * exactly within a consecutive run, so grouping on that anchor
    * yields one row per streak. One user-keyed shuffle for the window
    * + one aggregation on (user, anchor) that reuses the same
    * partitioning — no self-joins, no driver iteration, and state per
    * group is O(1). */
  def activityStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, sfDir)
      .select($"user_id", datediff(to_date($"ts"), lit("2024-01-01")).as("day"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    days
      .withColumn("anchor", $"day" - row_number().over(w))
      .groupBy($"user_id", $"anchor")
      .agg(min($"day").as("start_day"), max($"day").as("end_day"),
        count(lit(1)).as("len"))
      .where($"len" >= 3)
      .select($"user_id", $"start_day".cast("long").as("start_day"),
        $"end_day".cast("long").as("end_day"), $"len")
      .orderBy($"user_id", $"start_day")
  }

  /** C18: EQUI-DEPTH histogram — the optimizer-statistics histogram
    * (equal row mass per bucket, data-dependent boundaries), the
    * complement of the fixed-width `histogram`. The B−1 boundaries are
    * exact quantiles from `exactQuantiles` over one constant group (one
    * range shuffle, no column held in one task), read back as one row.
    * Boundaries are then LITERALS in the bucket scan (bucket =
    * boundaries exceeded), rounded to the reported precision so
    * membership never hinges on a last-ulp difference between
    * engines. */
  def equiDepthHistogram(spark: SparkSession, sfDir: String,
                         buckets: Int = 8): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val fracs = (1 until buckets).map(_.toDouble / buckets)
    // an empty table has no group row, an all-NULL column a NULL array:
    // no boundaries, one bucket
    val bounds = exactQuantiles(li.select(lit(0).as("g"), $"l_extendedprice"),
        "g", "l_extendedprice", fracs)
      .collect().flatMap(r => Option(r.getSeq[Double](2))).headOption.getOrElse(Nil)
      .map(b => BigDecimal(b).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val bucket = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when($"l_extendedprice" > b, 1L).otherwise(0L)
    }
    li.select(bucket.as("bucket"), $"l_extendedprice")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        round(min($"l_extendedprice"), 2).as("lo"),
        round(max($"l_extendedprice"), 2).as("hi"))
      .orderBy($"bucket")
  }

  /** C17: column profiling (the ANALYZE-TABLE surface): per column —
    * row count, null count, min/max, EXACT distinct count. Each
    * column profiles through two map-side-combined aggregations
    * (group-by-value, then one summary row) instead of
    * `count(DISTINCT ...)` inside a shared aggregate, which would plan
    * an Expand multiplying the scan per distinct column — the
    * q_distinct scale trap. Each column's pass scans ONLY that column
    * (pruned scan), so profiling N columns costs N cheap column
    * scans, embarrassingly parallel across columns. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.groupBy(col(c))
        .agg(count(lit(1)).as("__n"))
        .agg(
          sum(col("__n")).as("n_rows"),
          coalesce(sum(when(col(c).isNull, col("__n"))), lit(0L)).as("n_nulls"),
          min(col(c)).as("__min"),
          max(col(c)).as("__max"),
          count(when(col(c).isNotNull, lit(1))).as("n_distinct"))
        // try_cast: non-numeric columns profile with null min_v/max_v
        // instead of an ANSI cast error
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          expr("try_cast(__min AS DOUBLE)").as("min_v"),
          expr("try_cast(__max AS DOUBLE)").as("max_v"), col("n_distinct"))
    }.reduce(_ unionByName _)

  /** C16: keyed upsert (overwrite-merge, the MERGE INTO / SCD type-1
    * shape): apply a change batch to a keyed table — matched keys take
    * the batch row ("updated"), unmatched batch keys append
    * ("inserted"), unmatched base keys carry over ("kept"). One full
    * outer join on the key; both sides arrive co-partitioned by the
    * join exchange, and at scale a small change batch broadcast-joins
    * the matched/new split instead. The status column makes the merge
    * auditable (and testable) row by row. Both frames must share the
    * key + payload schema; payloads ride as single structs so the
    * "batch wins" rule is one coalesce, not per-column plumbing. */
  def upsert(base: DataFrame, batch: DataFrame, keyCol: String): DataFrame = {
    require(base.columns.sorted.sameElements(batch.columns.sorted),
      "upsert requires identical schemas")
    val payload = base.columns.filter(_ != keyCol).toSeq
    def packed(df: DataFrame, as: String) =
      df.select(col(keyCol).as("__k"), struct(payload.map(col): _*).as(as))
    packed(base, "__b").join(packed(batch, "__u"), Seq("__k"), "full_outer")
      .select(col("__k").as(keyCol),
        coalesce(col("__u"), col("__b")).as("row"),
        when(col("__u").isNotNull && col("__b").isNotNull, "updated")
          .when(col("__b").isNull, "inserted")
          .otherwise("kept").as("status"))
  }

  /** Exact grouped quantiles with no group held in one task: per
    * group, the values Spark's `percentile` aggregate returns for
    * `valueCol` at `fractions`. NULL values are dropped and the rest
    * are counted (n); `Scan.prefix` ranks them on (group, value) —
    * one range shuffle — and only the two ranks
    * bracketing each position p = f·(n−1) pass the filter. Each
    * quantile then interpolates with `percentile`'s formula,
    * (⌈p⌉−p)·lo + (p−⌊p⌋)·hi, or is lo itself when the two bracketing
    * values are equal. Tied rows may swap ranks, but their values are
    * equal, so the bracketing VALUES are deterministic. Returns one
    * row per group, a NULL group included: the group key, `n` = the
    * group's rows (count(*), NULL values included) and `qs`, an
    * array<double> in `fractions` order that is NULL when the group
    * has no non-NULL value. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     fractions: Seq[Double]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(f => f >= 0 && f <= 1),
      "quantile fractions must lie in [0, 1]")
    val vals = df.select(col(groupCol), col(valueCol).cast("double").as("__v"))
    val counts = vals.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), count(col("__v")).as("__n"))
    val ranked = Scan.prefix(vals.where(col("__v").isNotNull),
      Some(groupCol), Seq(col("__v")), "grank")
    val pos = fractions.map(f => lit(f) * (col("__n") - 1))
    val near = ranked
      .join(broadcast(counts.withColumnRenamed(groupCol, "__g")),
        col(groupCol) <=> col("__g"))
      .where(pos.flatMap(p => Seq(floor(p), ceil(p))).map(col("grank") === _).reduce(_ || _))
      .select(col(groupCol), col("n"), col("__n"), col("grank"), col("__v"))
    // the counts rows keep every group, an all-NULL one included
    val rows = near.unionByName(counts
      .withColumn("grank", lit(null).cast("long"))
      .withColumn("__v", lit(null).cast("double")))
    val ends = pos.zipWithIndex.flatMap { case (p, i) => Seq(
      max(when(col("grank") === floor(p), col("__v"))).as(s"__lo$i"),
      max(when(col("grank") === ceil(p), col("__v"))).as(s"__hi$i")) }
    val qs = pos.zipWithIndex.map { case (p, i) =>
      val (lo, hi) = (col(s"__lo$i"), col(s"__hi$i"))
      when(lo === hi, lo).otherwise((ceil(p) - p) * lo + (p - floor(p)) * hi)
    }
    rows.groupBy(col(groupCol))
      .agg(max(col("n")).as("n"), max(col("__n")).as("__n") +: ends: _*)
      .select(col(groupCol), col("n"), when(col("__n") > 0, array(qs: _*)).as("qs"))
  }

  /** C15: exact percentiles per group through `exactQuantiles`. */
  def quantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    exactQuantiles(Tables.lineitem(spark, sfDir), "l_returnflag", "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.95))
      .select($"l_returnflag",
        round(element_at($"qs", 1), 4).as("p25"),
        round(element_at($"qs", 2), 4).as("p50"),
        round(element_at($"qs", 3), 4).as("p75"),
        round(element_at($"qs", 4), 4).as("p95"),
        $"n")
      .orderBy($"l_returnflag")
  }

  /** C16: fixed-width histogram — a scan-stage floor-bucket key into a
    * plain group-by; the profile query every ingest pipeline runs.
    * Bin edges are data-independent so no extra pass computes min/max. */
  def histogram(spark: SparkSession, sfDir: String, binWidth: Double = 5000.0): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy((floor($"l_extendedprice" / binWidth) * binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), round(avg($"l_discount"), 4).as("avg_disc"))
      .orderBy($"bin")
  }

  /** C17: grouped top-k — the k best orders per market segment via the
    * bounded-heap `graft_topk` TypedImperativeAggregate: each partition
    * keeps a k-element heap per group and only k rows per
    * (partition, group) cross the exchange. The window-function
    * formulation (`row_number() <= k`) shuffles and sorts EVERY row of
    * every group — the right oracle, the wrong 100 TB plan. */
  def groupedTopK(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy($"c_mktsegment")
      .agg(graft.functions.TextFunctions.topk($"o_orderkey", $"o_totalprice", k).as("top"))
      .select($"c_mktsegment", posexplode($"top").as(Seq("rank0", "t")))
      .select($"c_mktsegment", ($"rank0" + 1).cast("long").as("rank"),
        $"t.id".as("o_orderkey"), round($"t.score", 2).as("o_totalprice"))
  }

  /** C12: union + CASE buckets across two tables. */
  def unionCase(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir).select(
      lit("orders").as("src"),
      when($"o_totalprice" > 300000, "hi")
        .when($"o_totalprice" > 100000, "mid")
        .otherwise("lo").as("bucket"))
    val l = Tables.lineitem(spark, sfDir).select(
      lit("lineitem").as("src"),
      when($"l_quantity" >= 40, "hi")
        .when($"l_quantity" >= 15, "mid")
        .otherwise("lo").as("bucket"))
    o.unionByName(l)
      .groupBy($"src", $"bucket").agg(count(lit(1)).as("n"))
      .orderBy($"src", $"bucket")
  }

  /** C20: explicit GROUPING SETS — the general form rollup/cube are
    * sugar for: here (lang, source), (lang), () — per-cell, per-lang,
    * and grand totals WITHOUT the per-source slice a cube would add.
    * Same Expand(×sets)-into-one-partial-agg plan shape as C13: bytes
    * crossing the exchange are O(sets × groups), not O(rows).
    * `grouping()` flags become 'ALL' labels (no NULL markers). */
  def groupingSetsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupingSets(Seq(Seq($"lang", $"source"), Seq($"lang"), Seq()),
        $"lang", $"source")
      .agg(grouping($"lang").as("g_l"), grouping($"source").as("g_s"),
        count(lit(1)).as("n"), sum($"n_chars").as("sum_chars"))
      .select(
        when($"g_l" === 1, "ALL").otherwise($"lang").as("lang"),
        when($"g_s" === 1, "ALL").otherwise($"source").as("source"),
        $"n", $"sum_chars")
      .orderBy($"lang", $"source")
  }

  /** C22: slowly-changing-dimension type-2 history build — the
    * warehouse operator that turns an event log of attribute
    * observations into validity intervals. Per customer, orders
    * ordered by (date, orderkey) are scanned for status CHANGES (lag
    * inequality opens a version), versions aggregate to
    * [valid_from, valid_to) with the successor's start closing each
    * interval and the current version left open (sentinel 9999-12-31,
    * not NULL, so both engines stringify identically). Three passes
    * over ONE customer-keyed shuffle: the change-scan window, the
    * per-version aggregate, and the valid_to lead all share the same
    * partitioning, so Catalyst plans a single exchange. Key
    * cardinality is |customers| — no skew concern. */
  def scdType2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val succ = Window.partitionBy($"o_custkey").orderBy($"version")
    scd2History(spark, sfDir)
      .withColumn("valid_to",
        coalesce(lead($"valid_from", 1).over(succ), lit("9999-12-31").cast("date")))
      .select($"o_custkey", $"version", $"status",
        date_format($"valid_from", "yyyy-MM-dd").as("valid_from"),
        date_format($"valid_to", "yyyy-MM-dd").as("valid_to"), $"n_orders")
      .orderBy($"o_custkey", $"version")
  }

  /** The C22 version history with NATIVE types (valid_from in the
    * source timestamp type) — the shared core of the formatted SCD2
    * surface above and the point-in-time join below. */
  private def scd2History(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byCust = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val run = byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_orderstatus")
      .withColumn("__chg",
        when(lag($"o_orderstatus", 1).over(byCust).isNull ||
             lag($"o_orderstatus", 1).over(byCust) =!= $"o_orderstatus", 1L)
          .otherwise(0L))
      .withColumn("version", sum($"__chg").over(run))
      .groupBy($"o_custkey", $"version")
      .agg(first($"o_orderstatus").as("status"),
        min($"o_orderdate").as("valid_from"), count(lit(1)).as("n_orders"))
  }

  /** X177: point-in-time (temporal validity) join — every order joined
    * to the SCD2 version whose [valid_from, valid_to) interval covers
    * its date; the fact-to-dimension-AS-OF join every warehouse with
    * SCD2 dimensions runs. NOT a range join: because valid_to is by
    * construction the successor's valid_from, "the covering interval"
    * ≡ "the LAST version starting at-or-before the date", which is the
    * as-of machinery — one union + one (key, ts) sort-window carrying
    * an incremental last() (AsOfJoin.lastValueAsOf), no interval
    * predicate ever materializes a join cardinality above |orders|.
    * Same-date versions (a customer with two differing-status orders
    * on one date) resolve to the HIGHEST version — the window orders
    * right rows by the (version, status) payload after the timestamp,
    * so the last row under the frame is the max version, matching the
    * oracle's row_number(ORDER BY version DESC) pick. */
  def scd2PointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hist = scd2History(spark, sfDir)
      .select($"o_custkey", $"valid_from".as("o_orderdate"),
        struct($"version", $"status").as("vs"))
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    AsOfJoin.lastValueAsOf(orders, hist, "o_custkey", "o_orderdate", "vs", "v")
      .select($"o_orderkey", $"o_custkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
        $"v.version".as("version"), $"v.status".as("status"))
      .orderBy($"o_orderkey")
  }

  /** C23: per-group mode with a deterministic smallest-value
    * tie-break — two stacked hash aggregations: value-count, then an
    * argmax over the per-value rows as a lexicographic struct-max
    * (max n, ties to max −quantity = MIN quantity). Zero windows: the
    * previous ranking window partitioned on the 3-value group key, so
    * its sort ran at |groups| parallelism — irrelevant at 150 rows but
    * the wrong shape to scale; both aggregates here combine map-side
    * and carry O(1) state per group. */
  def modePerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("n"))
      .groupBy($"l_returnflag")
      .agg(max(struct($"n", (-$"l_quantity").as("negq"))).as("b"))
      .select($"l_returnflag", (-$"b.negq").cast("double").as("mode_qty"),
        $"b.n".as("n"))
      .orderBy($"l_returnflag")
  }

  /** X183: per-group trimmed mean — the robust location estimate a
    * heavy-tailed column needs (a plain mean chases outliers; a
    * median discards too much). Values inside the exact [p10, p90]
    * quantile band average through a DECIMAL sum (2-decimal prices
    * are exact decimals, so the sum is accumulation-order-independent
    * and engine-identical); everything outside is discarded. Two
    * passes by construction — bounds from `exactQuantiles`, then the
    * filtered aggregate — and the bounds join back as a broadcast
    * (|groups| rows). Boundary safety: an interpolated bound either
    * lands ON a data value (g = 0, exact in both engines) or strictly
    * between two values 0.01 apart — a last-ulp engine difference can
    * never flip a >= comparison. */
  def trimmedMeanPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir).select($"l_returnflag", $"l_extendedprice")
    val bounds = exactQuantiles(li, "l_returnflag", "l_extendedprice", Seq(0.1, 0.9))
      .select($"l_returnflag", element_at($"qs", 1).as("lo"),
        element_at($"qs", 2).as("hi"))
    li.join(broadcast(bounds), "l_returnflag")
      .where($"l_extendedprice" >= $"lo" && $"l_extendedprice" <= $"hi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_kept"),
        sum($"l_extendedprice".cast("decimal(18,2)")).as("s"))
      .select($"l_returnflag", $"n_kept",
        round($"s".cast("double") / $"n_kept", 4).as("trimmed_mean"))
      .orderBy($"l_returnflag")
  }

  /** C21: per-group OLS regression (value vs day index) from exact
    * co-moments — the profiling complement of `stats_corr`. One
    * map-side-combined aggregation accumulates n, Σx, Σy, Σxy, Σx²,
    * Σy² with y routed through DECIMAL (exact, order-independent —
    * a double Σ would depend on each engine's accumulation order);
    * slope/intercept/R² are closed-form double arithmetic over those
    * six exact sums, so the result is partition-count-invariant and
    * reproducible cross-engine. O(1) state per group, no second pass —
    * the textbook two-pass mean-centered form would scan twice. */
  def regressionByType(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sums = Tables.events(spark, sfDir)
      .select($"event_type",
        datediff(to_date($"ts"), lit("2024-01-01")).cast("long").as("x"),
        $"value".cast("decimal(18,2)").as("y"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"y" * $"x").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .select($"event_type", $"n",
        $"n".cast("double").as("nd"), $"sx".cast("double").as("sxd"),
        $"sy".cast("double").as("syd"), $"sxy".cast("double").as("sxyd"),
        $"sxx".cast("double").as("sxxd"), $"syy".cast("double").as("syyd"))
    sums
      .withColumn("cov_n", $"nd" * $"sxyd" - $"sxd" * $"syd")
      .withColumn("var_x", $"nd" * $"sxxd" - $"sxd" * $"sxd")
      .withColumn("var_y", $"nd" * $"syyd" - $"syd" * $"syd")
      .withColumn("slope", $"cov_n" / $"var_x")
      .select($"event_type", $"n",
        round($"slope", 6).as("slope"),
        round(($"syd" - $"slope" * $"sxd") / $"nd", 6).as("intercept"),
        round($"cov_n" * $"cov_n" / ($"var_x" * $"var_y"), 6).as("r2"))
      .orderBy($"event_type")
  }

  /** C24: exact two-sample Kolmogorov–Smirnov distance between every
    * pair of event types' value distributions — the drift detector a
    * data pipeline runs between corpus snapshots (mean/stddev miss
    * shape changes; KS is distribution-free). D = max |F_a − F_b| over
    * the pooled sample: one RANGE-frame window per pair gives both
    * running CDFs (the RANGE frame includes value ties as peers, so D
    * is evaluated after each tie group exactly as the step functions
    * define), then a max. Counts divide as identical doubles in any
    * engine; no accumulation-order term.
    *
    * Scale shape: the step functions only change at DISTINCT values,
    * so raw rows first collapse to per-(pair, value) counts — a
    * map-side-combined aggregate that parallelizes over pairs×values
    * and does ALL the data-sized work. The running-CDF window then
    * scans one row per distinct value per pair (value-domain-bounded,
    * ~10⁴ here), never the corpus — the per-pair sort that would
    * otherwise funnel half the data through one task touches only the
    * collapsed frame. Tie handling falls out for free: collapsing
    * makes each value one row, so a ROWS frame IS the tie-correct
    * RANGE frame. */
  def ksTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", $"value".cast("double").as("v"))
    val ty = ev.select($"event_type").distinct()
    val pairs = ty.as("a").join(ty.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
    val perValue = ev.join(broadcast(pairs),
        $"event_type" === $"ta" || $"event_type" === $"tb")
      .groupBy($"ta", $"tb", $"v")
      .agg(sum(when($"event_type" === $"ta", 1L).otherwise(0L)).as("da"),
        sum(when($"event_type" === $"ta", 0L).otherwise(1L)).as("db"))
    val n = perValue.groupBy($"ta", $"tb")
      .agg(sum($"da").as("na"), sum($"db").as("nb"))
    val w = Window.partitionBy($"ta", $"tb").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perValue
      .withColumn("ca", sum($"da").over(w))
      .withColumn("cb", sum($"db").over(w))
      .join(broadcast(n), Seq("ta", "tb"))
      .groupBy($"ta", $"tb")
      .agg(first($"na").as("n_a"), first($"nb").as("n_b"),
        round(max(abs($"ca" / $"na" - $"cb" / $"nb")), 6).as("ks_d"))
      .orderBy($"ta", $"tb")
  }

  /** C22: distribution-position windows — ntile/percent_rank/cume_dist,
    * the ranking family X50's navigation windows (lead/lag/first/last)
    * don't cover. One segment-keyed window with a total order
    * ((acctbal, custkey) — the custkey tiebreak makes every position,
    * and therefore every quartile boundary, deterministic); all three
    * functions ride the same WindowExec, so the plan is a single
    * exchange + sort exactly like any analytic window. */
  def distributionWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal", $"c_custkey")
    Tables.customer(spark, sfDir)
      .select($"c_mktsegment", $"c_custkey", $"c_acctbal")
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .select($"c_mktsegment", $"c_custkey", round($"c_acctbal", 2).as("acctbal"),
        $"quartile", $"pct_rank", $"cume")
      .orderBy($"c_mktsegment", $"c_custkey")
  }

  /** C23: robust per-group outlier detection by median absolute
    * deviation — the quality-score gate that survives the heavy-tailed
    * distributions where mean/stddev z-scores (q_rolling_anomaly's
    * arithmetic) drown: median and MAD have a 50% breakdown point, so
    * a crawl shard whose spam inflates the tail still scores its bulk
    * correctly. Two `exactQuantiles` passes (value median, then
    * deviation median) over |types| groups. Outlier rule:
    * |value − median| > k·MAD. */
  def madOutliers(spark: SparkSession, sfDir: String,
                  k: Double = 3.0): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", $"value".cast("double").as("v"))
    val medians = exactQuantiles(ev, "event_type", "v", Seq(0.5))
      .select($"event_type", element_at($"qs", 1).as("med"))
    // the |types|-row table collected once, as a local relation: else
    // `dev` carries its plan, and the second pass and final query re-run it
    val med = spark.createDataFrame(medians.collect().toSeq.asJava, medians.schema)
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs($"v" - $"med"))
    val mad = exactQuantiles(dev, "event_type", "adev", Seq(0.5))
      .select($"event_type", element_at($"qs", 1).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(first($"med"), 4).as("med"),
        round(first($"mad"), 4).as("mad"),
        sum(when($"adev" > lit(k) * $"mad", 1L).otherwise(0L)).as("n_outliers"))
      .orderBy($"event_type")
  }
}
