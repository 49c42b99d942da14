package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-stream product analytics: ordered funnels, cohort retention,
  * and Markov transition matrices — the query family a training-data
  * pipeline's telemetry side (and any clickstream warehouse) runs on
  * the `events` table. The reference engine has no event analytics;
  * these extend its numeric-stats surface (reference:
  * src/main.rs:510-689) to ordered/temporal statistics.
  *
  * Scale shape shared by all three: every operator is a single hash
  * exchange on `user_id` followed by sort-within-partition windows
  * and/or a same-key groupBy that REUSES the exchange (Catalyst
  * collapses hashpartitioning(user_id) → groupBy(user_id) into one
  * shuffle), then a tiny final aggregate over |steps|, |cohort weeks|²
  * or |event types|² rows. Nothing data-sized crosses a second
  * exchange, no per-user arrays are materialized, so 100 TB of events
  * streams through partition-local sorts exactly like q_sessionize.
  */
object EventAnalytics {

  /** X125: re-touch sequencing funnel — of the users who ever did
    * `s1`, how many later did `s2`, and later still `s3`? ANY later
    * `s2` event advances the funnel, unlike X97's first-touch form
    * (TimeSeries.funnel) where only the first touches' order counts.
    * "Later" is strictly increasing event time (a same-timestamp pair
    * does not advance the funnel — the conservative reading when
    * ordering within a tie is unknowable). One window pass per user
    * computes the running
    * earliest qualifying time of each stage, chained: a click only
    * qualifies after the earliest view, a purchase only after the
    * earliest qualifying click. All three stages ride the SAME
    * (user_id, ts) sort — three WindowExecs, one exchange — and the
    * per-user reduction is a same-key groupBy on top of it. */
  def funnel(spark: SparkSession, sfDir: String,
             s1: String = "view", s2: String = "click",
             s3: String = "purchase"): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_type")
      .where($"event_type".isin(s1, s2, s3))
    val w = Window.partitionBy($"user_id").orderBy($"ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = ev
      .withColumn("t1", min(when($"event_type" === s1, $"ts")).over(w))
      .withColumn("q2", when($"event_type" === s2 && $"t1" < $"ts", $"ts"))
      .withColumn("t2", min($"q2").over(w))
      .withColumn("q3", when($"event_type" === s3 && $"t2" < $"ts", $"ts"))
    val perUser = staged.groupBy($"user_id")
      .agg(max($"t1".isNotNull).as("r1"), max($"q2".isNotNull).as("r2"),
        max($"q3".isNotNull).as("r3"))
    perUser.agg(
      sum(when($"r1", 1L).otherwise(0L)).as("u1"),
      sum(when($"r2", 1L).otherwise(0L)).as("u2"),
      sum(when($"r3", 1L).otherwise(0L)).as("u3"))
      .select(explode(array(
        struct(lit(1L).as("step"), lit(s1).as("event_type"), $"u1".as("users")),
        struct(lit(2L).as("step"), lit(s2).as("event_type"), $"u2".as("users")),
        struct(lit(3L).as("step"), lit(s3).as("event_type"), $"u3".as("users")))))
      .select($"col.step", $"col.event_type", $"col.users")
      .orderBy($"step")
  }

  /** X126: weekly cohort retention — users bucketed by the week of
    * their first event (the cohort), counted distinct in every later
    * activity week, reported as (cohort_week, week_offset, users).
    * Weeks are integer arithmetic from the corpus epoch
    * (days-since-2024-01-01 DIV 7 — a Monday, and engine-identical,
    * where date_trunc('week') semantics historically differ), so every
    * output column is integral. Two same-key stages: the per-user
    * first-event aggregate and the join back to activity rows both
    * key on user_id (one exchange, reused); the distinct + count is
    * over (cohort, offset, user) — bounded by active users per cell,
    * with map-side partial dedup. */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", expr("datediff(CAST(ts AS DATE), DATE'2024-01-01') DIV 7").as("wk"))
    val first = ev.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
    ev.join(first, Seq("user_id"))
      .select($"cohort_week", ($"wk" - $"cohort_week").as("week_offset"), $"user_id")
      .distinct()
      .groupBy($"cohort_week", $"week_offset")
      .agg(count(lit(1)).as("users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** X178: cumulative distinct users by day — the running "total users
    * ever seen" growth curve. A literal running count-distinct is not
    * windowable at scale (the per-day distinct-union state grows with
    * users); the first-seen reformulation is: a user contributes from
    * their FIRST event day onward, so the curve is the running sum of
    * first-seen counts. One user-keyed aggregate (min day), one
    * |days|-bounded rollup, and a running sum whose window orders
    * ≤ |calendar days| rows — metadata-sized, whitelisted as a bounded
    * global window. Days with events but no new users keep a 0 row
    * via the day-spine left join. */
  def cumulativeDistinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts".cast("date").as("day"))
    val newUsers = ev.groupBy($"user_id").agg(min($"day").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("new_users"))
    val days = ev.select($"day").distinct()
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(newUsers, Seq("day"), "left")
      .withColumn("new_users", coalesce($"new_users", lit(0L)))
      .withColumn("cum_users", sum($"new_users").over(w))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"new_users", $"cum_users")
      .orderBy($"day")
  }

  /** X127: first-order Markov transition matrix over per-user event
    * sequences — P(next event type | current), the session-shape
    * statistic that catches bot traffic (degenerate self-loops) and
    * drift in interaction patterns. One lag window over the same
    * (user_id, (ts, event_id)) sort every operator here shares — the
    * event_id tiebreak makes tied timestamps deterministic in both
    * engines — then a |types|²-bounded count aggregate; probabilities
    * are integer-count divisions (engine-identical doubles, rounded),
    * normalized per source state via a window over the tiny result. */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = ev
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .where($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy($"from_type")
    trans
      .withColumn("p", round($"n" / sum($"n").over(tot), 6))
      .select($"from_type", $"to_type", $"n", $"p")
      .orderBy($"from_type", $"to_type")
  }

  /** X128: chi-squared contingency cells for event_type × value
    * bucket — the categorical-drift companion to stats_ks's continuous
    * KS distance. Buckets are fixed-width integer arithmetic
    * (floor(value/25)); observed counts aggregate map-side-combined;
    * expected counts e = row_total · col_total / N and the cell
    * contribution (o−e)²/e are computed from INTEGER totals by one
    * fixed dependency-free double expression each, so both engines
    * round identically — and the statistic is reported PER CELL, never
    * summed across cells, because a cross-row double sum's
    * accumulation order is engine-dependent (callers fold the tiny
    * |types|×|buckets| result however they like). Marginals ride two
    * windows over the already-aggregated cell table — data-sized work
    * is exactly one groupBy. */
  def contingency(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, sfDir)
      .select($"event_type", expr("CAST(floor(value / 25.0D) AS BIGINT)").as("bucket"))
      .groupBy($"event_type", $"bucket").agg(count(lit(1)).as("o"))
    val byType = Window.partitionBy($"event_type")
    val byBucket = Window.partitionBy($"bucket")
    val all = Window.partitionBy()
    cells
      .withColumn("row_tot", sum($"o").over(byType))
      .withColumn("col_tot", sum($"o").over(byBucket))
      .withColumn("n", sum($"o").over(all))
      // double BEFORE the product: row_tot·col_tot in integers is
      // ~N²/|cells| and overflows BIGINT at real corpus sizes
      .withColumn("e_raw", $"row_tot".cast("double") * $"col_tot" / $"n")
      .withColumn("e", round($"e_raw", 6))
      .withColumn("contrib", round(pow($"o" - $"e_raw", 2.0) / $"e_raw", 6))
      .select($"event_type", $"bucket", $"o", $"e", $"contrib")
      .orderBy($"event_type", $"bucket")
  }

  /** X131: KL / PSI drift between the event-type mix of two time
    * halves — the categorical snapshot-vs-snapshot detector (PSI is
    * the industry-standard "population stability index"; KL its
    * asymmetric cousin), complementing stats_ks (continuous values)
    * and stats_chi2_cells (joint independence). One map-side-combined
    * conditional-count aggregate over |types| groups is ALL the
    * data-sized work; shares and the ln terms are dependency-free
    * double expressions over integer counts, reported PER TYPE —
    * cross-row double sums are accumulation-order-dependent, so
    * callers fold the |types|-row result. Types absent from either
    * half are excluded (ln undefined), which the guard makes
    * explicit. */
  def klDrift(spark: SparkSession, sfDir: String,
              splitAt: String = "2024-01-16 00:00:00"): DataFrame = {
    import spark.implicits._
    val cnt = Tables.events(spark, sfDir)
      .select($"event_type", ($"ts" < lit(splitAt).cast("timestamp")).as("early"))
      .groupBy($"event_type")
      .agg(sum(when($"early", 1L).otherwise(0L)).as("a"),
        sum(when($"early", 0L).otherwise(1L)).as("b"))
      .where($"a" > 0 && $"b" > 0)
    val all = Window.partitionBy()
    cnt
      .withColumn("na", sum($"a").over(all))
      .withColumn("nb", sum($"b").over(all))
      .withColumn("p", $"a" / $"na")
      .withColumn("q", $"b" / $"nb")
      .select($"event_type", $"a", $"b",
        round($"p", 6).as("p_early"), round($"q", 6).as("p_late"),
        round($"p" * log($"p" / $"q"), 6).as("kl_term"),
        round(($"p" - $"q") * log($"p" / $"q"), 6).as("psi_term"))
      .orderBy($"event_type")
  }

  /** X149: day-of-week seasonality profile — per (weekday, type)
    * activity counts and each cell's share of its type (the weekly
    * rhythm baseline that q_resample's daily series doesn't fold).
    * Weekday is integer days-since-Monday-epoch mod 7 — engine-exact
    * where dayofweek() conventions differ. One map-side-combined
    * count over ≤ 7·|types| cells; shares ride a window over that
    * tiny result. */
  def seasonality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, sfDir)
      .select(expr("datediff(CAST(ts AS DATE), DATE'2024-01-01') % 7").as("dow"),
        $"event_type")
      .groupBy($"dow", $"event_type").agg(count(lit(1)).as("n"))
    cells
      .withColumn("share",
        round($"n" / sum($"n").over(Window.partitionBy($"event_type")), 6))
      .select($"dow".cast("long").as("dow"), $"event_type", $"n", $"share")
      .orderBy($"dow", $"event_type")
  }

  /** X150: week-over-week movers — per (week, type) activity with the
    * absolute and relative change vs the prior week and a per-week
    * mover rank (|Δ| descending). The weekly count aggregate is the
    * only data-sized step; lag/rank ride |weeks|·|types| rows. */
  def topMovers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wk = Tables.events(spark, sfDir)
      .select(expr("datediff(CAST(ts AS DATE), DATE'2024-01-01') DIV 7").as("wk"),
        $"event_type")
      .groupBy($"wk", $"event_type").agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy($"event_type").orderBy($"wk")
    val ranked = wk
      .withColumn("prev", lag($"n", 1).over(byType))
      .where($"prev".isNotNull)
      .withColumn("delta", $"n" - $"prev")
      .withColumn("pct", round($"delta" / $"prev", 6))
    ranked
      .withColumn("mover_rank", row_number().over(
        Window.partitionBy($"wk").orderBy(abs($"delta").desc, $"event_type"))
        .cast("long"))
      .select($"wk", $"event_type", $"n", $"prev", $"delta", $"pct", $"mover_rank")
      .orderBy($"wk", $"event_type")
  }

  /** X151: audience-overlap matrix — Jaccard of user sets between
    * every event-type pair ("do purchasers also click?"). One
    * (type, user) dedup, then a user-keyed self-join whose per-user
    * fanout is ≤ |types|² — never data×data — and a |types|²-bounded
    * count aggregate; Jaccard is one integer-count division per
    * cell. */
  def audienceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tu = Tables.events(spark, sfDir)
      .select($"event_type", $"user_id").distinct()
    val sizes = tu.groupBy($"event_type").agg(count(lit(1)).as("sz"))
    val inter = tu.as("a").join(tu.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select($"event_type".as("ta"), $"sz".as("na"))), "ta")
      .join(broadcast(sizes.select($"event_type".as("tb"), $"sz".as("nb"))), "tb")
      .select($"ta", $"tb", $"n_both", $"na", $"nb",
        round($"n_both" / ($"na" + $"nb" - $"n_both"), 6).as("jaccard"))
      .orderBy($"ta", $"tb")
  }

  /** X146: weekly churn accounting — every product review starts
    * here: per week, how many active users are NEW (first-ever week),
    * RETAINED (also active last week), RESURRECTED (active before,
    * absent last week), and how many of last week's actives CHURNED
    * (absent this week). One (week, user) dedup is the data-sized
    * work; new/retained/resurrected classify each active row by a
    * self-join on (week−1, user) plus the per-user first week (both
    * keyed on user — the exchange is shared), churn is the same join
    * reversed. All-integer output; identities new + retained +
    * resurrected = active and retained + churned = last week's active
    * hold by construction (spec-checked). */
  def churn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val uw = Tables.events(spark, sfDir)
      .select(expr("datediff(CAST(ts AS DATE), DATE'2024-01-01') DIV 7").as("wk"),
        $"user_id")
      .distinct()
    val first = uw.groupBy($"user_id").agg(min($"wk").as("fw"))
    val prev = uw.select(($"wk" + 1).as("wk"), $"user_id", lit(1).as("p"))
    val cur = uw.join(first, Seq("user_id"))
      .join(prev, Seq("wk", "user_id"), "left")
      .groupBy($"wk")
      .agg(count(lit(1)).as("active"),
        sum(when($"fw" === $"wk", 1L).otherwise(0L)).as("new_users"),
        sum(when($"p".isNotNull, 1L).otherwise(0L)).as("retained"),
        sum(when($"fw" < $"wk" && $"p".isNull, 1L).otherwise(0L)).as("resurrected"))
    val churned = prev.join(uw.select($"wk", $"user_id", lit(1).as("c")),
        Seq("wk", "user_id"), "left")
      .where($"c".isNull)
      .groupBy($"wk").agg(count(lit(1)).as("churned"))
    // cur only carries OBSERVED weeks, so prev's phantom week
    // (last + 1) drops out of the join by construction
    cur.join(churned, Seq("wk"), "left")
      .select($"wk", $"active", $"new_users", $"retained", $"resurrected",
        coalesce($"churned", lit(0L)).as("churned"))
      .orderBy($"wk")
  }

  /** X147: last-touch revenue attribution — every purchase's value is
    * credited to the latest PRECEDING view/click in the user's
    * timeline (the marketing-attribution baseline; the window form
    * generalizes to linear/time-decay by swapping the credit rule).
    * One `last(..., ignoreNulls)` window over the shared (user_id,
    * (ts, event_id)) sort with a strictly-before ROWS frame — the
    * event_id tiebreak makes tied timestamps deterministic in both
    * engines — then a |touch types|+1-bounded
    * aggregate with exact DECIMAL value sums; purchases with no prior
    * touch land in the explicit 'none' bucket. */
  def lastTouchAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type",
        $"value".cast("decimal(18,2)").as("v"))
      .withColumn("touch", last(
        when($"event_type".isin("view", "click"), $"event_type"),
        ignoreNulls = true).over(w))
      .where($"event_type" === "purchase")
      .groupBy(coalesce($"touch", lit("none")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"),
        sum($"v").cast("double").as("revenue"))
      .orderBy($"touch")
  }

  /** X142: conversion-latency deciles — for every user whose first
    * view is followed by a later purchase, the minutes between, tiled
    * into a decile distribution (min/max/count per decile). The
    * latency table is one user-keyed conditional aggregate + filter;
    * deciles come from the two-phase distributed rank over integer
    * microsecond latencies (exact percentile WITHOUT a percentile
    * buffer — SURVEY §5's rule for data-sized percentile inputs), and
    * every output column is integral. */
  def conversionLatency(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(min(when($"event_type" === "view", $"ts")).as("t1"),
        min(when($"event_type" === "purchase", $"ts")).as("t2"))
      .where($"t1".isNotNull && $"t2".isNotNull && $"t1" < $"t2")
      .select($"user_id",
        (unix_micros($"t2") - unix_micros($"t1")).as("lat_us"))
    val ranked = Scan.prefix(perUser, None,
      Seq($"lat_us".asc_nulls_last, $"user_id".asc_nulls_last), "rank")
    // counted on the fenced rows: counting `perUser` re-scans events
    val n = ranked.count()
    ranked
      .withColumn("decile", expr(s"(rank * 10) DIV ${n}L") + 1)
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_users"),
        min($"lat_us").as("__min"), max($"lat_us").as("__max"))
      .select($"decile", $"n_users",
        expr("__min DIV 60000000L").as("min_minutes"),
        expr("__max DIV 60000000L").as("max_minutes"))
      .orderBy($"decile")
  }

  /** X143: DAU / trailing-WAU / stickiness — the activity headline.
    * The data-sized work is ONE (day, user) dedup (map-side partial);
    * DAU is its per-day count, and the trailing-7-day WAU expands each
    * user-day to the ≤7 report days it supports (a bounded Generate —
    * days are a fixed range, never data-sized) followed by a second
    * dedup-count keyed by report day. Stickiness dau/wau is the only
    * double, one division per day row. */
  def dauWau(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables.events(spark, sfDir)
      .select(expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')").as("day"),
        $"user_id")
      .distinct()
    val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(explode(sequence($"day", $"day" + 6)).as("rday"), $"user_id")
      .distinct()
      .groupBy($"rday").agg(count(lit(1)).as("wau"))
    dau.join(wau, dau("day") === wau("rday"))
      .select($"day".cast("long").as("day"), $"dau", $"wau",
        round($"dau" / $"wau", 6).as("stickiness"))
      .orderBy($"day")
  }

  /** X140: RFM segmentation — the classic recency/frequency/monetary
    * customer grading, done scale-first: per-user metrics are one
    * map-side-combined aggregate (recency = integer days to the corpus
    * horizon, frequency = count, monetary = exact DECIMAL sum), and
    * each dimension's quintile comes from the two-phase distributed
    * rank (`Scan.prefix` — not a single-partition ntile window),
    * with score = integer rank·5 DIV n arithmetic, so every derived
    * column is engine-exact. Output is the |5³|-bounded segment grid
    * with member counts. Recency ranks ascending (fewest days = score
    * 5); frequency/monetary rank ascending with score = quintile+1
    * (largest = 5). Ties break on user_id everywhere. */
  def rfm(spark: SparkSession, sfDir: String,
          horizon: String = "2024-01-31"): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(min(datediff(to_date(lit(horizon)), $"ts".cast("date"))).as("rec"),
        count(lit(1)).as("freq"),
        sum($"value".cast("decimal(18,2)")).as("mon"))
    def rank(df: DataFrame, order: Column): DataFrame =
      Scan.prefix(df, None, Seq(order, $"user_id".asc_nulls_last), "rank")
    // recency: fewest days since last event ranks LAST and must score
    // 5 → rank on days descending, quintile+1
    val byRecency = rank(perUser, $"rec".desc_nulls_last)
    // one scalar for all three ranks, counted on the first rank's
    // fenced rows: counting `perUser` re-scans events
    val nUsers = byRecency.count()
    def quintile(ranked: DataFrame, outCol: String): DataFrame =
      ranked.withColumn(outCol, expr(s"(rank * 5) DIV ${nUsers}L") + 1).drop("rank")
    val byFrequency = rank(quintile(byRecency, "r_score"), $"freq".asc_nulls_last)
    val byMonetary = rank(quintile(byFrequency, "f_score"), $"mon".asc_nulls_last)
    val scored = quintile(byMonetary, "m_score")
    scored.groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  /** X139: entry-path analysis — the first `n` event types of every
    * user's history concatenated into a path string, counted across
    * users (the "how do sessions start" query behind onboarding and
    * bot triage; q_markov gives the edge view, this gives the prefix
    * view). One row_number window on the shared (user_id, (ts,
    * event_id)) sort keeps only ranks ≤ n, the per-user reduce
    * (conditional min per position — O(1) state) reuses the
    * partitioning, and the path aggregate is bounded by |types|ⁿ.
    * concat_ws skips NULLs in both engines, so users with fewer than
    * `n` events fold into their shorter prefix naturally. */
  def entryPaths(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    import spark.implicits._
    require(n >= 1 && n <= 5)
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ranked = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= n)
    val positions = (1 to n).map(i =>
      min(when($"rn" === i, $"event_type")).as(s"p$i"))
    ranked.groupBy($"user_id")
      .agg(positions.head, positions.tail: _*)
      .select(concat_ws("->", (1 to n).map(i => col(s"p$i")): _*).as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_users"))
      .orderBy($"path")
  }

  /** X166: deterministic A/B test readout — users split 50/50 by the
    * md5 hash chain (the sampler family's engine-portable coin), then
    * per (event_type, arm): n, mean, and a Welch z-score for the
    * value-mean difference. All moments accumulate as exact
    * DECIMAL(18,2)-derived sums (n, Σy, Σy² — order-free, the
    * stats_regression discipline); mean/variance/z are closed-form
    * doubles over those exact sums, so the readout is reproducible
    * cross-engine. One map-side-combined aggregation keyed on
    * (event_type, arm); the arm assignment is a scan-stage
    * expression. Variance is population (/n), documented. */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_type",
        when(substring(md5(concat(lit("ab:"), $"user_id".cast("string"))), 1, 8)
          < lit("80000000"), lit("A")).otherwise(lit("B")).as("arm"),
        $"value".cast("decimal(18,2)").as("y"))
    val sums = ev.groupBy($"event_type", $"arm")
      .agg(count(lit(1)).as("n"), sum($"y").as("sy"), sum($"y" * $"y").as("syy"))
      .select($"event_type", $"arm", $"n",
        $"n".cast("double").as("nd"), $"sy".cast("double").as("syd"),
        $"syy".cast("double").as("syyd"))
      .withColumn("mean", $"syd" / $"nd")
      .withColumn("pvar", ($"nd" * $"syyd" - $"syd" * $"syd") / ($"nd" * $"nd"))
    val a = sums.where($"arm" === "A")
      .select($"event_type", $"n".as("n_a"), $"mean".as("ma"), $"pvar".as("va"),
        $"nd".as("nda"))
    val b = sums.where($"arm" === "B")
      .select($"event_type", $"n".as("n_b"), $"mean".as("mb"), $"pvar".as("vb"),
        $"nd".as("ndb"))
    a.join(b, "event_type")
      .select($"event_type", $"n_a", $"n_b",
        round($"ma", 4).as("mean_a"), round($"mb", 4).as("mean_b"),
        round(($"ma" - $"mb") / sqrt($"va" / $"nda" + $"vb" / $"ndb"), 4).as("z"))
      .orderBy($"event_type")
  }

  /** X167: cohort LTV curves — cumulative per-user purchase revenue by
    * signup cohort (first-seen week) and week offset, the
    * product-analytics readout `q_retention` counts users for. Revenue
    * accumulates as exact DECIMAL per (cohort, offset) — one keyed
    * aggregation over the purchase subset — and the running total
    * rides a window over the tiny (cohorts × weeks) frame, never the
    * event stream. Per-user normalization divides by the cohort size
    * from the retention-style first-seen table. */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", $"value",
        expr("datediff(CAST(ts AS DATE), DATE'2024-01-01') DIV 7").as("wk"))
    val first = ev.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
    val sizes = first.groupBy($"cohort_week").agg(count(lit(1)).as("n_users"))
    val rev = ev.join(first, Seq("user_id"))
      .where($"event_type" === "purchase")
      .groupBy($"cohort_week", ($"wk" - $"cohort_week").as("week_offset"))
      .agg(sum($"value".cast("decimal(18,2)")).as("rev"))
    val w = Window.partitionBy($"cohort_week").orderBy($"week_offset")
    rev
      .withColumn("cum_rev", sum($"rev").over(w))
      .join(sizes, "cohort_week")
      .select($"cohort_week", $"week_offset", $"n_users",
        round($"cum_rev".cast("double") / $"n_users", 4).as("ltv_per_user"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** X169: Benford first-significant-digit profile — the classic
    * fabricated-data / unit-mixing detector: naturally-occurring
    * multiplicative quantities put digit d first with probability
    * log₁₀(1+1/d); a uniform or hand-entered column doesn't. Reported
    * per (event_type, digit) with the expected count and the
    * observed/expected ratio — one row per digit, so NO cross-digit
    * float summation exists anywhere (a χ² total would sum nine
    * doubles in engine-dependent order; the per-digit table carries
    * the same information). Digit extraction is pure double floor/log
    * arithmetic, identical in both engines; non-positive values are
    * excluded by definition. One map-side-combined count aggregation. */
  def benford(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.events(spark, sfDir)
      .where($"value" > 0)
      .select($"event_type",
        floor($"value" / pow(lit(10.0), floor(log10($"value")))).cast("long").as("digit"))
    val c = d.groupBy($"event_type", $"digit").agg(count(lit(1)).as("n"))
    val t = c.groupBy($"event_type").agg(sum($"n").as("total"))
    c.join(t, "event_type")
      .select($"event_type", $"digit", $"n",
        round($"total".cast("double") * log10(lit(1.0) + lit(1.0) / $"digit"), 4)
          .as("exp_n"),
        round($"n" / ($"total".cast("double") * log10(lit(1.0) + lit(1.0) / $"digit")), 4)
          .as("ratio"))
      .orderBy($"event_type", $"digit")
  }

  /** X137: per-group Gini coefficient of the value distribution — the
    * inequality profile (is spend concentrated in a few whales? are
    * token counts dominated by a handful of documents?). Uses the
    * rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over each
    * group's ascending sort. Ranks come from the two-phase distributed
    * `Scan.prefix` — NOT a per-group window, so the |types|-cardinality
    * key can't funnel a partition. Values are exact DECIMAL(18,2)
    * (the corpus's native 2-dp prices/values), so both Σ terms
    * accumulate EXACTLY in any order; the only double arithmetic is
    * the final one-expression ratio per group. */
  def gini(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_type", $"value".cast("decimal(18,2)").as("x"), $"event_id")
    val ranked = Scan.prefix(ev, Some("event_type"), Seq($"x", $"event_id"), "grank")
    ranked
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("s0"),
        sum(($"grank" + 1) * $"x").as("s1"))
      .select($"event_type", $"n",
        round((lit(2.0) * $"s1".cast("double") -
          ($"n" + 1) * $"s0".cast("double")) / ($"n" * $"s0".cast("double")), 6)
          .as("gini"))
      .orderBy($"event_type")
  }

  /** X195: per-day ROC AUC of the event value separating purchases
    * from everything else — the Mann–Whitney readout every
    * score-vs-label evaluation (quality classifiers, rerankers,
    * fraud scores) runs. Tie-aware: tied scores contribute half a
    * concordant pair, i.e. AUC = Σ_v [pos_v·negBelow_v + pos_v·neg_v/2]
    * over distinct score values v — computed ×2 in integers so the
    * whole statistic is one exact BIGINT sum and the only floating op
    * is the final divide.
    *
    * Scale: events collapse to (day, cents) cells in ONE map-side-
    * combined aggregation — the per-day window then runs over DISTINCT
    * SCORE VALUES (≤ 49k cells for 2-decimal scores, a constant
    * ceiling at any corpus size), never over events. Day totals ride
    * a broadcast join back. */
  def aucDaily(spark: SparkSession, sfDir: String,
               posType: String = "purchase"): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, sfDir)
      .select(datediff(to_date($"ts"), lit("2024-01-01")).cast("long").as("day"),
        round($"value" * 100).cast("long").as("cents"),
        when($"event_type" === posType, 1L).otherwise(0L).as("isPos"))
      .groupBy($"day", $"cents")
      .agg(sum($"isPos").as("p"), sum(lit(1L) - $"isPos").as("q"))
    val w = Window.partitionBy($"day").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = cells.groupBy($"day")
      .agg(sum($"p").as("np"), sum($"q").as("nq"))
    cells
      .withColumn("qBelow", coalesce(sum($"q").over(w), lit(0L)))
      // DECIMAL: Σ p·(2·qb+q) approaches 2·P·N — past BIGINT at
      // petabyte-scale daily volumes, so the sum must not overflow
      .withColumn("num2",
        $"p".cast("decimal(38,0)") * (lit(2L) * $"qBelow" + $"q"))
      .groupBy($"day").agg(sum($"num2").as("num2"))
      .join(broadcast(totals), "day")
      .where($"np" > 0 && $"nq" > 0)
      .select($"day", $"np".as("n_pos"), $"nq".as("n_neg"),
        round($"num2".cast("double") / (lit(2.0) * $"np" * $"nq"), 6).as("auc"))
      .orderBy($"day")
  }

  /** The exact half-life weight ladder for [[decayScore]]:
    * w_k = 5^k·10^(maxK−k), i.e. (1/2)^k scaled by 10^maxK — every
    * entry a LONG, so decayed values are integer products. */
  private[graft] def decayWeights(maxK: Int): Seq[Long] =
    (0 to maxK).map(k =>
      (BigInt(5).pow(k) * BigInt(10).pow(maxK - k)).toLong)

  /** X210: time-decayed engagement score per user — each event's
    * value halved per elapsed `halflifeDays` window since the
    * corpus's last day, summed per user; the recency-weighted
    * activity feature every ranking/churn model starts from.
    *
    * The decay stays EXACT: with k = min(⌊age/halflife⌋, `maxK`)
    * full windows, the weight (1/2)^k is the integer 5^k·10^(maxK−k)
    * over a fixed 10^maxK denominator — so each decayed value is an
    * exact integer product (cents × weight ≤ 10^23, DECIMAL(38)) and
    * the per-user sum is order-independent. The k cap bounds the
    * ladder (beyond 16 half-lives a weight is < 10^-4 of the value —
    * noise); the only double op is the final ÷10^16 display divide.
    *
    * Scale shape: the reference day is ONE scalar aggregate broadcast
    * back; scoring is scan-stage arithmetic; one user-keyed map-side-
    * combined aggregation ends the plan. */
  def decayScore(spark: SparkSession, sfDir: String,
                 halflifeDays: Int = 7, maxK: Int = 16): DataFrame = {
    import spark.implicits._
    val wArr = array(decayWeights(maxK).map(lit): _*)
    val ev = Tables.events(spark, sfDir)
      .select($"user_id",
        datediff(to_date($"ts"), lit("2024-01-01")).as("day"),
        ($"value".cast("decimal(18,2)") * 100).cast("decimal(38,0)")
          .as("cents"))
    val ref = ev.agg(max($"day").as("ref"))
    ev.crossJoin(broadcast(ref))
      .withColumn("k",
        least(floor(($"ref" - $"day") / halflifeDays).cast("int"),
          lit(maxK)))
      .withColumn("num",
        $"cents" * element_at(wArr, $"k" + 1).cast("decimal(38,0)"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"num").as("snum"))
      .select($"user_id", $"n_events",
        round($"snum".cast("double") / 1.0e16, 6).as("decay_score"))
      .orderBy($"user_id")
  }

  /** X219: market-basket association rules (support / confidence /
    * lift) over order line items — the co-purchase miner behind
    * "customers who bought X also bought Y"; on a training corpus the
    * same shape mines co-occurring sources/tags. Top-k pairs by lift
    * among those meeting the support floor.
    *
    * Scale shape: baskets are BOUNDED (an order carries a handful of
    * items), so the per-order self-join emits ≤ |basket|²/2 pairs per
    * order — linear in orders, never |parts|². Item counts join back
    * UNHINTED: the parts dimension broadcasts while it's small and
    * AQE keeps the hash join when it isn't (at 100 TB the item-count
    * table is data-sized; forcing broadcast() here would be the bug).
    * All counts are exact; lift and confidence round through exact
    * integer half-up division, so no engine double-rounding exists. */
  def basketLift(spark: SparkSession, sfDir: String,
                 minSupport: Int = 2, k: Int = 50): DataFrame = {
    import spark.implicits._
    val it = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val nOrders = it.agg(countDistinct($"o").as("n_orders"))
    val cItem = it.groupBy($"p").agg(count(lit(1)).as("c"))
    val pairs = it.as("a").join(it.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("c_ab"))
      .where($"c_ab" >= minSupport)
    def halfUp4(num: Column, den: Column): Column = {
      val x = num * 10000L * 2 + den
      val d = den * 2
      ((x - x % d) / d).cast("long").cast("double") / 1e4
    }
    pairs
      .join(cItem.select($"p".as("pa"), $"c".as("c_a")), "pa")
      .join(cItem.select($"p".as("pb"), $"c".as("c_b")), "pb")
      .crossJoin(broadcast(nOrders))
      .select($"pa", $"pb", $"c_ab", $"c_a", $"c_b",
        halfUp4($"c_ab" * $"n_orders", $"c_a" * $"c_b").as("lift"),
        halfUp4($"c_ab", $"c_a").as("confidence"))
      .orderBy($"lift".desc, $"pa", $"pb")
      .limit(k)
  }

  /** X215: Kaplan–Meier survival curve (Kaplan & Meier 1958) over
    * purchase inter-arrival times — S(t) = P(next purchase takes
    * longer than t hours), the right-censoring-aware way to read
    * "how often do users buy" when every user's last observation
    * window is cut short by the end of data. Each consecutive
    * purchase pair contributes an OBSERVED duration; each user's
    * last-purchase→end-of-data tail contributes a CENSORED one
    * (it only proves the next gap is at least that long).
    *
    * Scale shape: durations come from ONE user-partitioned lead
    * window over purchases (per-user sequences, the q_sessionize
    * exchange), then collapse to the duration-valued table — at most
    * |observation hours| rows at ANY corpus size. At-risk counts
    * n_t = Σ_{u ≥ t} (obs_u + cens_u) are a running window on that
    * bounded table; the product Π(1 − d_u/n_u) walks as a running
    * ln-sum in ascending-t order — a deterministic left-to-right
    * fold both engines replay identically over identical exact
    * integers — then exponentiates once, round(6). */
  def kmSurvival(spark: SparkSession, sfDir: String,
                 eventType: String = "purchase"): DataFrame = {
    import spark.implicits._
    val secs = unix_timestamp($"ts")
    val p = Tables.events(spark, sfDir)
      .where($"event_type" === eventType)
      .select($"user_id", secs.as("s"))
    val horizon = p.agg(max($"s").as("hmax"))
    val w = Window.partitionBy($"user_id").orderBy($"s")
    val durs = p
      .select($"user_id", $"s", lead($"s", 1).over(w).as("next_s"))
      .crossJoin(broadcast(horizon))
      .select(
        floor((coalesce($"next_s", $"hmax") - $"s") / 3600L).as("t"),
        when($"next_s".isNotNull, 1L).otherwise(0L).as("obs"))
    val byT = durs.groupBy($"t")
      .agg(sum($"obs").as("d"), sum(lit(1L) - $"obs").as("c"))
    // The KM product walks through a bounded aggregate() fold (the
    // cusumDaily move), NOT a global window running sum: a windowed
    // float sum's accumulation order is an engine implementation
    // detail (DuckDB evaluates frames via segment trees), while the
    // fold is an explicit left-assoc sequence both engines replay
    // verbatim. The at-risk count walks down in the same fold:
    // rem starts at Σ(d+c) and sheds each duration's d+c as t passes.
    byT
      .agg(sort_array(collect_list(struct($"t", $"d", $"c"))).as("xs"),
        sum($"d" + $"c").as("total"))
      .withColumn("walk", expr(
        """aggregate(xs,
          |  struct(cast(total as bigint) AS rem, cast(1.0 as double) AS surv,
          |    cast(array() as array<struct<
          |      t:bigint,d:bigint,c:bigint,n_risk:bigint,survival:double>>)
          |      AS out),
          |  (a, x) -> struct(
          |    a.rem - x.d - x.c AS rem,
          |    CASE WHEN x.d > 0 THEN a.surv *
          |      (cast(a.rem - x.d as double) / cast(a.rem as double))
          |      ELSE a.surv END AS surv,
          |    concat(a.out, array(struct(x.t AS t, x.d AS d, x.c AS c,
          |      a.rem AS n_risk,
          |      CASE WHEN x.d > 0 THEN a.surv *
          |        (cast(a.rem - x.d as double) / cast(a.rem as double))
          |        ELSE a.surv END AS survival))) AS out)
          |).out""".stripMargin))
      .select(explode($"walk").as("w"))
      .select($"w.t".as("t_hours"), $"w.d".as("events"),
        $"w.c".as("censored"), $"w.n_risk".as("n_risk"),
        round($"w.survival", 6).as("survival"))
      .orderBy($"t_hours")
  }
}
