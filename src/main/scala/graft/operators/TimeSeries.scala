package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Time-series operators over the events log: grid resampling with
  * forward fill, rolling-statistics anomaly detection, and funnel
  * analysis — the log-analytics staples the reference's event-style
  * data model (src/main.rs:18-58 timestamp/level records) implies but
  * its four-query DSL stops short of.
  *
  * Scale shape shared by all three: one keyed shuffle (the group/
  * window key), O(1)-or-O(frame) state per key, no self-joins, no
  * driver-side iteration. Every double the user sees is derived from
  * DECIMAL-exact sums so results are independent of partition count
  * and accumulation order — the property that makes the DuckDB twins
  * hash-identical.
  */
object TimeSeries {

  private def dayCol = datediff(to_date(col("ts")), lit("2024-01-01"))

  /** X180: per-user time-weighted average value (TWAP) — each event's
    * value holds until the user's NEXT event, and the average weights
    * each value by that holding duration over the user's whole
    * [first, last] span; the monitoring/finance mean where a plain
    * average over-counts bursts. ONE (user, (ts, event_id)) sort:
    * lead() yields each holding duration in exact integer
    * microseconds, the value routes through DECIMAL so the
    * value×duration sum is exact and accumulation-order-independent
    * (a double Σ would vary with partitioning), and the only double
    * op is the final per-user divide. Each user's last event has no
    * successor and zero weight; single-event users (no span) drop. */
  def twapPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id",
        $"value".cast("decimal(18,2)").as("v"))
      .withColumn("dur",
        unix_micros(lead($"ts", 1).over(w)) - unix_micros($"ts"))
      .where($"dur".isNotNull)
      .groupBy($"user_id")
      .agg(sum($"v" * $"dur").as("wsum"), sum($"dur").as("span"))
      .where($"span" > 0)
      .select($"user_id",
        round($"wsum".cast("double") / $"span".cast("double"), 6).as("twap"),
        $"span")
      .orderBy($"user_id")
  }

  /** Daily resample per event type with forward fill: the per-type
    * calendar grid is densified from min..max day (`sequence` +
    * `explode` over ONE row per type — the fan-out is days, never
    * rows), daily averages ride a DECIMAL-exact sum, and gaps carry
    * the last observed value via `last(ignoreNulls)` over a per-type
    * window. Plan: one (type, day) aggregation shuffle + one tiny
    * span aggregation + one per-type window — the grid join is
    * broadcastable (|types| × |days| rows). At 100 TB the dense grid
    * is still only types × days rows, so the fill window's partitions
    * are bounded by the calendar, not the data. */
  def resampleDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .select($"event_type", dayCol.as("day"),
        $"value".cast("decimal(18,2)").as("y"))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"), sum($"y").as("sv"))
      .withColumn("avg_v", round($"sv".cast("double") / $"n", 4))
    val grid = daily.groupBy($"event_type")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"event_type", explode(sequence($"d0", $"d1")).as("day"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily.select($"event_type", $"day", $"n", $"avg_v"),
        Seq("event_type", "day"), "left")
      .select($"event_type", $"day".cast("long").as("day"),
        coalesce($"n", lit(0L)).as("n"),
        last($"avg_v", ignoreNulls = true).over(w).as("avg_filled"))
      .orderBy($"event_type", $"day")
  }

  /** Rolling z-score anomaly detection: per event type, each event is
    * scored against the mean/std of the trailing `frame`-row window
    * (ordered by event time, event_id tiebreak), and |z| > `zMax`
    * rows surface. Frame sums go through DECIMAL so mean/variance are
    * exact-arithmetic-derived and engine-independent; the first
    * `minWarm`-1 rows of each type are unscored (no stable baseline).
    * Plan: one type-keyed window (sort + O(frame) running state) —
    * the same single-exchange shape as any analytic window; no
    * self-join against shifted copies. */
  def rollingAnomalies(spark: SparkSession, sfDir: String,
                       frame: Int = 20, minWarm: Int = 15,
                       zMax: Double = 2.5): DataFrame = {
    import spark.implicits._
    // 100 TB route: the rank-bucketed window (tasks = rows/bucketRows)
    // replaces the type-keyed one (tasks = |types|) — outputs are
    // bit-identical (spec-proven), so the swap is invisible except in
    // wall time. AUTO above 300k rows (the type-keyed sort's win from
    // skipping the rank exchange is gone by then — measured 2x better
    // at 10x sf0.1). The row count runs on every call and is
    // parquet-metadata cheap: it counts the RAW table, with no
    // projection on top of the scan, so Spark answers from row-group
    // metadata (a count over Tables.events would run normalizeTs).
    if (Tables.table(spark, sfDir, "events").count() >= 300000)
      return rollingAnomaliesPartitioned(spark, sfDir, frame, minWarm, zMax)
    val w = Window.partitionBy($"event_type")
      .orderBy(unix_micros($"ts"), $"event_id")
      .rowsBetween(-(frame - 1), Window.currentRow)
    // Frame sums run on LONG cents (y·100 — exact: y IS decimal(18,2))
    // instead of decimal: Spark re-evaluates a sliding ROWS frame per
    // row (no retract), so each row pays `frame` adds per aggregate —
    // primitive long adds codegen flat where decimal adds box
    // (measured 1.8 → 1.1 s warm at 32c, identical output). Bit-exact
    // equivalence: Σyq < 2⁵³ and Σyq² < 2⁵³ hold up to |value| ≈ 2·10⁵
    // with frame=20 (testdata max 560; document metrics, not money
    // markets), so sq/100.0 and sq2/10⁴ are single correctly-rounded
    // IEEE divisions of exact integers — the same doubles
    // sum(decimal).cast(double) produced. Past that bound, restore the
    // decimal sums.
    Tables.events(spark, sfDir)
      .select($"event_type", $"event_id", $"ts",
        $"value".cast("decimal(18,2)").as("y"))
      .withColumn("yq", ($"y" * 100).cast("long"))
      .withColumn("c", count(lit(1)).over(w))
      .withColumn("m", sum($"yq").over(w).cast("double") / lit(100.0) / $"c")
      .withColumn("q", sum($"yq" * $"yq").over(w).cast("double") / lit(1e4) / $"c")
      // zero-variance frame (a run of identical values — never in the
      // testdata, routine in a 100 TB corpus) ⇒ z undefined ⇒ not an
      // anomaly; without the guard ANSI mode throws DIVIDE_BY_ZERO
      .withColumn("z", when($"q" > $"m" * $"m",
        ($"y".cast("double") - $"m") / sqrt($"q" - $"m" * $"m")))
      .where($"c" >= minWarm && abs($"z") > zMax)
      .select($"event_type", $"event_id",
        round($"y".cast("double"), 2).as("value"), round($"z", 4).as("z"))
      .orderBy($"event_type", $"event_id")
  }

  /** Scale route for [[rollingAnomalies]]: the plain form partitions
    * its window by `event_type` alone — with a handful of types, a
    * handful of tasks sort EVERYTHING, the low-cardinality-key window
    * skew that kills a 100 TB run. Here each row first gets its
    * per-type time-order rank from `Scan.prefix` (the two-phase
    * distributed scan — a partition-bounded offset table is all the
    * driver ever sees), rows bucket by rank ÷ `bucketRows`, each
    * bucket's last `frame`−1 rows are ALSO replicated into the next
    * bucket as carry context, the identical ROWS frame runs per
    * (type, bucket), and carry rows are dropped from the output.
    * Count-based buckets make the carry exact UNCONDITIONALLY: the
    * previous bucket always holds `bucketRows` ≥ frame−1 rows, so a
    * row near a bucket's start sees exactly the trailing rows the
    * global window would show it — bit-identical output (spec-proven)
    * with parallelism scaling as rows/bucketRows, not the type count.
    * Cost: the rank's ranged exchange + ≤ (frame−1)/bucketRows
    * duplicated bytes.
    *
    * [[rollingAnomalies]] routes here at 300,000 raw events or more;
    * both routes share the z-score arithmetic so the choice is
    * invisible in the output. */
  def rollingAnomaliesPartitioned(spark: SparkSession, sfDir: String,
                                  frame: Int = 20, minWarm: Int = 15,
                                  zMax: Double = 2.5,
                                  bucketRows: Int = 10000): DataFrame = {
    import spark.implicits._
    require(bucketRows >= frame, "carry covers one bucket back only")
    val base = Tables.events(spark, sfDir)
      .select($"event_type", $"event_id",
        unix_micros($"ts").as("tus"),
        $"value".cast("decimal(18,2)").as("y"))
    val ranked = Scan.prefix(base, Some("event_type"), Seq(col("tus"), col("event_id")), "grank")
      .withColumn("bkt", (col("grank") / bucketRows).cast("long"))
    val carry = ranked
      .where(col("grank") % bucketRows >= bucketRows - (frame - 1))
      .withColumn("bkt", $"bkt" + 1)
      .withColumn("carry", lit(true))
    val union = ranked.withColumn("carry", lit(false)).unionByName(carry)
    val w = Window.partitionBy($"event_type", $"bkt").orderBy($"grank")
      .rowsBetween(-(frame - 1), Window.currentRow)
    // same LONG-cents frame sums as the plain route (see there for the
    // bit-exactness bound) — the routes must stay output-identical
    union
      .withColumn("yq", ($"y" * 100).cast("long"))
      .withColumn("c", count(lit(1)).over(w))
      .withColumn("m", sum($"yq").over(w).cast("double") / lit(100.0) / $"c")
      .withColumn("q", sum($"yq" * $"yq").over(w).cast("double") / lit(1e4) / $"c")
      // same zero-variance guard as the plain route (routes must stay
      // bit-identical, including on identical-value runs)
      .withColumn("z", when($"q" > $"m" * $"m",
        ($"y".cast("double") - $"m") / sqrt($"q" - $"m" * $"m")))
      .where(!$"carry" && $"c" >= minWarm && abs($"z") > zMax)
      .select($"event_type", $"event_id",
        round($"y".cast("double"), 2).as("value"), round($"z", 4).as("z"))
      .orderBy($"event_type", $"event_id")
  }

  /** Sequence-pattern counting (the MATCH_RECOGNIZE-lite a funnel
    * can't express): per user, how many GREEDY NON-OVERLAPPING
    * occurrences of the ordered subsequence view → click → purchase
    * appear in the time-ordered event stream — each event consumed at
    * most once, an occurrence completing resets the automaton. Where
    * [[funnel]] asks "did the first touches line up", this counts
    * repeated conversions.
    *
    * Scale shape: ONE user-keyed aggregation collects the sorted
    * per-user event array (bounded by a user's own event count — the
    * natural sessionization bound), and the 3-state automaton runs
    * INSIDE the row via `functions.aggregate` (codegen'd higher-order
    * function, O(1) state) — no joins, no window over raw rows, no
    * per-stage passes. The output histogram (conversions → users) is
    * |distinct counts| rows. */
  def sequenceCount(spark: SparkSession, sfDir: String,
                    steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    import spark.implicits._
    val stepArr = array(steps.map(lit): _*)
    val nSteps = steps.size
    val perUser = Tables.events(spark, sfDir)
      .select($"user_id",
        struct(unix_micros($"ts").as("us"), $"event_id".as("id"),
          $"event_type".as("t")).as("e"))
      .groupBy($"user_id")
      .agg(sort_array(collect_list($"e")).as("evs"))
      .select($"user_id", aggregate(
        col("evs"),
        struct(lit(0).as("stage"), lit(0L).as("cnt")),
        (acc, e) => {
          val stage = acc.getField("stage")
          val hit = e.getField("t") === element_at(stepArr, stage + 1)
          val ns = when(hit, stage + 1).otherwise(stage)
          struct(
            when(ns === nSteps, lit(0)).otherwise(ns).as("stage"),
            when(ns === nSteps, acc.getField("cnt") + 1)
              .otherwise(acc.getField("cnt")).as("cnt"))
        },
        acc => acc.getField("cnt")).as("conversions"))
    perUser.groupBy($"conversions").agg(count(lit(1)).as("n_users"))
      .orderBy($"conversions")
  }

  /** Funnel analysis (first-touch, strictly ordered): of the users
    * whose FIRST view precedes their FIRST click precedes their FIRST
    * purchase, how many survive each stage. One user-keyed
    * map-side-combined aggregation computes the three first-touch
    * timestamps per user (conditional `min` — O(1) state), then a
    * 3-row rollup counts stage survivors; per-user rows never shuffle
    * twice and nothing joins. The strict-order semantics (t_view ≤
    * t_click ≤ t_purchase on first touches) is the standard
    * product-analytics funnel; ties count as conversion. */
  def funnel(spark: SparkSession, sfDir: String,
             steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    import spark.implicits._
    require(steps.size == 3, "funnel expects exactly 3 steps")
    val perUser = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === steps(0), $"ts")).as("t1"),
        min(when($"event_type" === steps(1), $"ts")).as("t2"),
        min(when($"event_type" === steps(2), $"ts")).as("t3"))
    perUser.agg(
        count($"t1").as("u1"),
        count(when($"t1" <= $"t2", lit(1))).as("u2"),
        count(when($"t1" <= $"t2" && $"t2" <= $"t3", lit(1))).as("u3"))
      .select(explode(array(
        struct(lit(1L).as("step"), lit(steps(0)).as("event_type"), $"u1".as("users")),
        struct(lit(2L).as("step"), lit(steps(1)).as("event_type"), $"u2".as("users")),
        struct(lit(3L).as("step"), lit(steps(2)).as("event_type"), $"u3".as("users")))).as("r"))
      .select($"r.step", $"r.event_type", $"r.users")
      .orderBy($"step")
  }

  /** X190: finite-horizon EWMA smoothing of the per-type daily count
    * series (α = 0.3, trailing `horizon` = 16 observations — where the
    * weight tail (1−α)^16 ≈ 0.003 has decayed to noise, the standard
    * truncation every streaming metrics system makes).
    *
    * Exact-arithmetic trick: the adjusted EWMA is a RATIO of weighted
    * sums, so scaling both by 10^(h−1) turns the weights (0.7)^j into
    * INTEGERS w_j = 7^j · 10^(h−1−j) — numerator and denominator are
    * DECIMAL-exact integer sums over the trailing lags (missing lags
    * at series start drop out of BOTH sums — that IS the adjusted
    * estimator), and the only floating op is the final divide. No
    * pow() in either engine, so engine/oracle agree bit-for-bit.
    *
    * Scale: events collapse to types × days rows in ONE map-side-
    * combined aggregation before any window; the per-type lag window
    * runs over calendar-bounded partitions (≤ days rows per type at
    * ANY corpus size). */
  def ewmaDaily(spark: SparkSession, sfDir: String,
                horizon: Int = 16): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", dayCol.as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    // w_j = 7^j * 10^(h-1-j): exact integer EWMA weights (common
    // factor 10^(h-1) cancels in the ratio)
    val weights: Seq[java.math.BigDecimal] = (0 until horizon).map { j =>
      java.math.BigDecimal.valueOf(7).pow(j)
        .multiply(java.math.BigDecimal.TEN.pow(horizon - 1 - j))
    }
    val lagged = (0 until horizon).foldLeft(daily) { (df, j) =>
      df.withColumn(s"__l$j", lag($"cnt", j).over(w))
    }
    val num = (0 until horizon).map { j =>
      coalesce(col(s"__l$j").cast("decimal(38,0)") * lit(weights(j)), lit(0).cast("decimal(38,0)"))
    }.reduce(_ + _)
    val den = (0 until horizon).map { j =>
      when(col(s"__l$j").isNotNull, lit(weights(j)).cast("decimal(38,0)"))
        .otherwise(lit(0).cast("decimal(38,0)"))
    }.reduce(_ + _)
    lagged
      .select($"event_type", $"day".cast("long").as("day"), $"cnt",
        round(num.cast("double") / den.cast("double"), 4).as("ewma"))
      .orderBy($"event_type", $"day")
  }

  /** X191: lag-k autocorrelation (k = 1..`maxLag`) of each type's
    * daily count series — the seasonality/persistence fingerprint a
    * metrics pipeline reads before picking a forecast model.
    *
    * r_k = Σ_t (x_t−x̄)(x_{t−k}−x̄) / Σ_t (x_t−x̄)², computed on the
    * MEAN-SCALED integers d_t = n·x_t − S (multiplying every deviation
    * by n clears the rational mean, so numerator and denominator are
    * exact DECIMAL sums; the shared n² factor cancels in the ratio).
    * The only floating op is the final divide.
    *
    * Scale: same as [[ewmaDaily]] — one aggregation to types × days,
    * per-type windows over calendar-bounded partitions, one tiny
    * per-type (S, n) aggregate joined back by broadcast. */
  def autocorrDaily(spark: SparkSession, sfDir: String,
                    maxLag: Int = 7): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", dayCol.as("day"))
      .agg(count(lit(1)).as("cnt"))
    val totals = daily.groupBy($"event_type")
      .agg(sum($"cnt").as("s"), count(lit(1)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val dev = daily.join(broadcast(totals), "event_type")
      .withColumn("d", ($"n" * $"cnt" - $"s").cast("decimal(38,0)"))
    val lagged = (1 to maxLag).foldLeft(dev) { (df, k) =>
      df.withColumn(s"__d$k", lag($"d", k).over(w))
    }
    val terms = (1 to maxLag).map { k =>
      struct(lit(k.toLong).as("k"), ($"d" * col(s"__d$k")).as("prod"))
    }
    lagged
      .select($"event_type", $"d", explode(array(terms: _*)).as("t"))
      .groupBy($"event_type")
      // the explode fans each day ×maxLag, so the denominator Σd² must
      // count each day ONCE — the k=1 guard picks exactly one copy
      .agg(sum(when($"t.k" === 1, $"d" * $"d")).as("den"),
        // per-k numerators: condition on the struct's own k so one
        // pass folds all lags (NULL lag products drop from the sum)
        (1 to maxLag).map(k =>
          sum(when($"t.k" === k, $"t.prod")).as(s"__n$k")): _*)
      .select($"event_type" +: (1 to maxLag).map(k =>
        round(col(s"__n$k").cast("double") / $"den".cast("double"), 6)
          .as(s"r$k")): _*)
      .orderBy($"event_type")
  }

  /** X192: monthly OHLC downsampling of the order-value series — the
    * canonical time-series compaction (finance bars, monitoring
    * rollups): per month, the first/highest/lowest/last value plus
    * volume and a DECIMAL-exact mean. First/last resolve by
    * (o_orderdate, o_orderkey) — a total order, so the bars are
    * deterministic under any partitioning. ONE map-side-combined
    * aggregation (min_by/max_by carry O(1) state); output is bounded
    * by the calendar, never the data. */
  /** Half-up integer division (2·sp·10^4 + n) div (2n), then the exact
    * double divide by 10^4 — a 4-dp mean independent of either
    * engine's double-rounding at the halfway cases. */
  private def avgPrice4(sp: org.apache.spark.sql.Column,
                        n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val x = (sp * 10000).cast("long") * 2 + n
    val d = n * 2
    (((x - x % d) / d).cast("long").cast("double") / 10000.0).as("avg_price")
  }

  /** X201: two-sided CUSUM changepoint detection (Page 1954) on each
    * event type's daily count series — the sequential drift detector
    * monitoring pipelines run on ingest volume: a sustained shift
    * accumulates where a spike decays, the opposite trade to the
    * z-score detector in [[rollingAnomalies]].
    *
    * The recurrence C⁺_t = max(0, C⁺_{t−1} + x_t − (μ+κ)) with target
    * μ = S/n (the series' own mean) and slack κ = μ/100 stays in
    * EXACT integers by scaling through by 100n: up_t = max(0,
    * up_{t−1} + 100n·x_t − 101S) and down_t = max(0, down_{t−1} +
    * 99S − 100n·x_t). Alarms fire when a side exceeds five scaled
    * mean-days (500S). LONG suffices: |terms| ≤ 100·n·Σx ≤ 3.7·10¹⁶
    * even at 10⁹ events/day over a year.
    *
    * A recurrence with a max() floor is not a window-function frame,
    * so after the ONE daily aggregation each type's calendar-bounded
    * series folds through `aggregate()` (≤366 steps per type — the
    * same bounded-array move as [[ewmaDaily]]'s lag ladder); the
    * DuckDB twin replays the identical recurrence as a recursive CTE.
    */
  def cusumDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", dayCol.as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"cnt"))).as("xs"),
        sum($"cnt").as("s"), count(lit(1)).as("n"))
      .withColumn("walk", expr(
        """aggregate(xs,
          |  struct(cast(0 as bigint) AS up, cast(0 as bigint) AS dn,
          |    cast(array() as
          |      array<struct<day:int,cnt:bigint,up:bigint,dn:bigint>>)
          |      AS out),
          |  (a, x) -> struct(
          |    greatest(cast(0 as bigint),
          |      a.up + 100 * n * x.cnt - 101 * s) AS up,
          |    greatest(cast(0 as bigint),
          |      a.dn + 99 * s - 100 * n * x.cnt) AS dn,
          |    concat(a.out, array(struct(x.day AS day, x.cnt AS cnt,
          |      greatest(cast(0 as bigint),
          |        a.up + 100 * n * x.cnt - 101 * s) AS up,
          |      greatest(cast(0 as bigint),
          |        a.dn + 99 * s - 100 * n * x.cnt) AS dn))) AS out)
          |).out""".stripMargin))
      .select($"event_type", $"s", explode($"walk").as("w"))
      .select($"event_type", $"w.day".cast("long").as("day"),
        $"w.cnt".as("cnt"), $"w.up".as("cusum_up"), $"w.dn".as("cusum_dn"),
        when($"w.up" > lit(500) * $"s", 1L).otherwise(0L).as("alarm_up"),
        when($"w.dn" > lit(500) * $"s", 1L).otherwise(0L).as("alarm_dn"))
      .orderBy($"event_type", $"day")
  }

  /** X214: gaps-and-islands over each event type's minute clock — the
    * missing-interval report ("purchase went silent 14:03–14:41") an
    * ingest monitor reads next to the CUSUM walk: CUSUM sees volume
    * drift, this sees OUTAGES the daily grain averages away. Minute
    * grain, not hour: a grain the stream saturates produces the
    * all-zeros answer at exactly the data volume where monitoring
    * matters (and an evidence-free 0==0 gate row at bench SF).
    *
    * Scale shape: the corpus collapses to (type, minute) in ONE
    * map-side-combined aggregation — at most 527k·|types| rows per
    * year regardless of event count — and the gap detection is a
    * single `lead` window on that calendar-bounded table (one
    * exchange on the |types| partition key). A gap is a jump in the
    * minute sequence: it starts the minute after one active minute
    * and ends the minute before the next; all arithmetic is exact
    * LONG. */
  def minuteGaps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val minCol = ((unix_timestamp($"ts") -
      unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp"))) / 60L)
      .cast("long")
    val perMin = Tables.events(spark, sfDir)
      .groupBy($"event_type", minCol.as("mn"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"mn")
    perMin
      .select($"event_type", $"mn", lead($"mn", 1).over(w).as("next_mn"))
      .where($"next_mn" > $"mn" + 1)
      .select($"event_type",
        ($"mn" + 1).as("gap_start_min"),
        ($"next_mn" - 1).as("gap_end_min"),
        ($"next_mn" - $"mn" - 1).as("gap_minutes"))
      .orderBy($"event_type", $"gap_start_min")
  }

  /** X220: seasonal-naive forecast error + MASE (Hyndman & Koehler
    * 2006) per event type — "does last week predict this week?", the
    * baseline every forecasting investment must beat; MASE scales the
    * lag-7 error by the lag-1 naive error, so it's comparable across
    * types of any volume (MASE < 1 = weekly structure is real, read
    * next to the X191 autocorrelation fingerprint).
    *
    * The corpus collapses to the calendar-bounded daily table first;
    * both lag errors are one window pass on the |types| partition key
    * and sum as exact LONGS. MAE reports via exact integer half-up
    * division (the avgPrice4 form); MASE's numerator and denominator
    * are cleared to single integers — (Σ|e7|·n1)/(n7·Σ|e1|) — so ONE
    * double divide and round(4) is the only float op. Types shorter
    * than the season drop (no forecastable history). */
  def snaiveDaily(spark: SparkSession, sfDir: String,
                  season: Int = 7): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", dayCol.as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val agg = daily
      .select($"event_type", $"cnt",
        abs($"cnt" - lag($"cnt", 1).over(w)).as("e1"),
        abs($"cnt" - lag($"cnt", season).over(w)).as("e7"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sum($"e1").as("s1"), count($"e1").as("n1"),
        sum($"e7").as("s7"), count($"e7").as("n7"))
      .where($"n7" > 0 && $"s1" > 0)
    def halfUp4(num: org.apache.spark.sql.Column,
                den: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val x = num * 10000L * 2 + den
      val d = den * 2
      ((x - x % d) / d).cast("long").cast("double") / 1e4
    }
    agg.select($"event_type", $"n_days",
        halfUp4($"s7", $"n7").as("mae_snaive"),
        halfUp4($"s1", $"n1").as("mae_naive"),
        halfUp4($"s7" * $"n1", $"n7" * $"s1").as("mase"))
      .orderBy($"event_type")
  }

  def ohlcMonthly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = struct($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, sfDir)
      .select(date_format($"o_orderdate", "yyyy-MM").as("month"),
        $"o_orderdate", $"o_orderkey",
        $"o_totalprice".cast("decimal(18,2)").as("p"))
      .groupBy($"month")
      .agg(
        min_by($"p", ord).as("open"),
        max($"p").as("high"),
        min($"p").as("low"),
        max_by($"p", ord).as("close"),
        count(lit(1)).as("n"),
        sum($"p").as("sp"))
      .select($"month",
        $"open".cast("double").as("open"), $"high".cast("double").as("high"),
        $"low".cast("double").as("low"), $"close".cast("double").as("close"),
        $"n",
        // 4-dp mean via integer half-up division — round(double/n, 4)
        // is engine-dependent exactly at the .00005 halfway cases.
        // (x - x % d) / d is exact: the dividend is a long multiple of
        // d below 2^53, so the double divide introduces no error.
        avgPrice4($"sp", $"n"))
      .orderBy($"month")
  }

  /** X225: Theil–Sen slope (Theil 1950, Sen 1968) of each event type's
    * daily count series — the median of all pairwise slopes, the
    * robust trend line OLS can't give (one outlier day moves OLS, not
    * the pairwise median).
    *
    * Scale shape: the corpus collapses map-side to the calendar-
    * bounded (type, day, count) table first, so the pair self-join is
    * |types| x days²/2 — metadata-sized at ANY corpus size (366 days
    * → ≤67k pairs/type/year). Each slope is one IEEE divide of two
    * exact LONGS (identical in both engines); the median avoids
    * percentile interpolation by averaging the two middle values
    * selected with integer ranks (odd n picks the same row twice). */
  def theilSenDaily(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", dayCol.as("day"))
      .agg(count(lit(1)).as("cnt"))
    val a = daily.select($"event_type", $"day".as("d1"), $"cnt".as("c1"))
    val b = daily.select($"event_type".as("et2"), $"day".as("d2"),
      $"cnt".as("c2"))
    val slopes = a.join(b, $"event_type" === $"et2" && $"d1" < $"d2")
      .select($"event_type",
        (($"c2" - $"c1").cast("double") /
          ($"d2" - $"d1").cast("double")).as("slope"),
        $"d1", $"d2")
    // deterministic total order inside each type: slope, then the pair
    // itself (ties on slope are exact-equal doubles, so the tiebreak
    // only fixes WHICH equal value each rank points at)
    val w = Window.partitionBy($"event_type")
      .orderBy($"slope", $"d1", $"d2")
    val ranked = slopes
      .select($"event_type", $"slope", row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy($"event_type")).as("n"))
    ranked
      .where($"rn" === floor(($"n" + 1) / 2) ||
        $"rn" === floor(($"n" + 2) / 2))
      .groupBy($"event_type")
      .agg(max($"n").as("n_pairs"),
        round(avg($"slope"), 4).as("slope"))
      .orderBy($"event_type")
  }

  /** Shared substrate of the resample family (X228 linear / X229
    * nearest): each type's per-minute peak-value series in LONG cents,
    * every observed minute paired with its successor (nm, nv) by one
    * O(n) lead() window.
    *
    * Scale shape: the corpus collapses map-side to (type, minute,
    * cents) first; the pairing window runs on that clock-bounded
    * table (|types| × ≤527k minute rows/year at ANY corpus size).
    * Denser corpora leave fewer gaps to fill — the true answer, not
    * lost recall. Minute grain (the q_gaps lesson): daily series here
    * are dense at every SF, so a daily resample would be
    * evidence-free; ~75% of minutes are empty at sf0.01. */
  private def pairedMinuteSeries(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val minCol = ((unix_timestamp($"ts") -
      unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp"))) / 60L)
      .cast("long")
    val perMin = Tables.events(spark, sfDir)
      .groupBy($"event_type", minCol.as("minute"))
      .agg(max(round($"value" * 100).cast("long")).as("cents"))
      // a minute whose every value is NULL aggregates to NULL cents;
      // treat it as a GAP (fill across it) — the same IGNORE NULLS
      // semantics as the dense-spine twin, which would otherwise
      // diverge on a NULL events.value (it skips NULL endpoints; an
      // un-filtered NULL row here would both surface as an 'actual'
      // NULL row and poison its neighbors' brackets)
      .where($"cents".isNotNull)
    // Brackets are computed on the OBSERVED rows only: one O(n) lead()
    // window pairs each observed minute with its successor, and
    // explode(sequence(pm+1, nm−1)) generates exactly the gap minutes
    // with both brackets already attached. The previous formulation
    // walked the dense calendar spine with an unbounded-FOLLOWING
    // frame, which Spark recomputes from scratch per row — O(spine²)
    // per type and calendar-bound (653 s at sf0.1 regardless of data
    // size). This shape is O(observed + gaps) and scales with data.
    val wNext = Window.partitionBy($"event_type").orderBy($"minute")
    perMin.select($"event_type", $"minute", $"cents",
      lead($"minute", 1).over(wNext).as("nm"),
      lead($"cents", 1).over(wNext).as("nv"))
  }

  /** X228: linear-interpolation resample — the X95 (forward-fill)
    * sibling for signals where holding the last value lies (a price,
    * a gauge): each missing minute of a type's per-minute peak-value
    * series takes the exact half-up rational interpolation of its
    * bracketing observed minutes, pv + (nv−pv)·(m−pm)/(nm−pm), walked
    * entirely in LONG cents so both engines agree bit-for-bit. */
  def interpResampleMinute(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val paired = pairedMinuteSeries(spark, sfDir)
    val actual = paired.select($"event_type", $"minute", $"cents",
      lit("actual").as("src"))
    val gaps = paired
      .where($"nm".isNotNull && $"nm" > $"minute" + lit(1L))
      .select($"event_type", $"minute".as("pm"), $"cents".as("pv"),
        $"nm", $"nv",
        explode(sequence($"minute" + lit(1L), $"nm" - lit(1L)))
          .as("minute"))
    // exact half-up rational interpolation, pure LONG math end-to-end
    // (SQL `div`, not IEEE `/`, so large cents × long gaps never lose
    // low bits vs the DuckDB integer-`//` twin):
    // num = pv·(nm−m) + nv·(m−pm), den = nm−pm (both sides positive)
    val filledGaps = gaps
      .withColumn("num2",
        ($"pv" * ($"nm" - $"minute") + $"nv" * ($"minute" - $"pm"))
          * lit(2L) + ($"nm" - $"pm"))
      .withColumn("den2", ($"nm" - $"pm") * lit(2L))
      .select($"event_type", $"minute",
        expr("(num2 - num2 % den2) div den2").cast("long").as("cents"),
        lit("interp").as("src"))
    actual.unionByName(filledGaps)
  }

  /** X228 entry rollup: the resampled table hash-verified through
    * exact per-type LONG sums and counts of both row classes — every
    * interpolated cent participates in the hash without dumping the
    * |types| × minutes spine through the compare. */
  def interpResampleSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    interpResampleMinute(spark, sfDir)
      .groupBy($"event_type")
      .agg(sum(when($"src" === "actual", 1L).otherwise(0L)).as("n_actual"),
        sum(when($"src" === "interp", 1L).otherwise(0L)).as("n_interp"),
        sum(when($"src" === "actual", $"cents").otherwise(0L))
          .as("actual_cents"),
        sum(when($"src" === "interp", $"cents").otherwise(0L))
          .as("interp_cents"))
      .orderBy($"event_type")
  }

  /** X229: nearest-bracket resample — the step-fill sibling of X228
    * for quantized signals (a discrete setting, an enum level, a
    * stair-stepping counter) where a linear blend between two observed
    * values is meaningless: each missing minute takes the value of the
    * NEARER observed bracket, previous wins ties (deterministic, and
    * consistent with forward-fill intuition at the exact midpoint).
    * Same O(observed + gaps) lead()-pairing shape as X228; the fill is
    * one LONG distance compare per gap minute — no arithmetic exists
    * that could diverge between engines. */
  def nearestResampleMinute(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val paired = pairedMinuteSeries(spark, sfDir)
    val actual = paired.select($"event_type", $"minute", $"cents",
      lit("actual").as("src"))
    val filledGaps = paired
      .where($"nm".isNotNull && $"nm" > $"minute" + lit(1L))
      .select($"event_type", $"minute".as("pm"), $"cents".as("pv"),
        $"nm", $"nv",
        explode(sequence($"minute" + lit(1L), $"nm" - lit(1L)))
          .as("minute"))
      .select($"event_type", $"minute",
        when($"minute" - $"pm" <= $"nm" - $"minute", $"pv")
          .otherwise($"nv").as("cents"),
        lit("nearest").as("src"))
    actual.unionByName(filledGaps)
  }

  /** X229 entry rollup — the same exact per-type LONG rollup
    * discipline as X228: every filled cent participates in the hash
    * without dumping the |types| × minutes spine. */
  def nearestResampleSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    nearestResampleMinute(spark, sfDir)
      .groupBy($"event_type")
      .agg(sum(when($"src" === "actual", 1L).otherwise(0L)).as("n_actual"),
        sum(when($"src" === "nearest", 1L).otherwise(0L)).as("n_nearest"),
        sum(when($"src" === "actual", $"cents").otherwise(0L))
          .as("actual_cents"),
        sum(when($"src" === "nearest", $"cents").otherwise(0L))
          .as("nearest_cents"))
      .orderBy($"event_type")
  }
}
