package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(Some("local[4]"), Some("4")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Run `body` with the session conf `key` at `value`, then restore
    * it. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` with `spark.sql.autoBroadcastJoinThreshold` at
    * `bytes`, then restore it. */
  def withBroadcastThreshold[T](bytes: Long)(body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", bytes.toString)(body)

  /** Run `body` with `ConnectedComponents` pinned to its distributed
    * min-label loop (the driver finish needs a non-negative broadcast
    * threshold). */
  def onCcLoop[T](body: => T): T = withBroadcastThreshold(-1)(body)

  /** Run `body` through both routes of `ConnectedComponents`: the
    * driver finish (the session's threshold), then the loop. */
  def onBothCcRoutes(body: => Unit): Unit = { body; onCcLoop(body) }
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns a schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("q1_agg groups are complete and ordered") {
    val rows = operators.Relational.q1Agg(spark, sf).collect()
    assert(rows.length >= 4)
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.sameElements(keys.sorted))
  }

  test("topk is sorted desc and bounded") {
    val rows = operators.Relational.topK(spark, sf).collect()
    assert(rows.length <= 10)
    val prices = rows.map(_.getDouble(2))
    assert(prices.sameElements(prices.sorted.reverse))
  }

  test("scan filter pushes predicates into the parquet scan") {
    val plan = operators.Relational.scanFilter(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), "expected pushed filters in scan")
    assert(plan.contains("l_discount"), "expected l_discount filter pushed")
  }

  test("broadcast join actually broadcasts the dim side") {
    val plan = operators.Relational.joinBroadcast(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("grouping sets: exactly the three declared sets, consistent totals") {
    val rows = operators.Relational.groupingSetsAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val leaves = rows.filter { case ((l, s), _) => l != "ALL" && s != "ALL" }
    assert(leaves.nonEmpty)
    // no source-only margin — that set was NOT declared (cube would add it)
    assert(!rows.keys.exists { case (l, s) => l == "ALL" && s != "ALL" })
    // per-lang subtotal = sum of its leaves
    leaves.keys.map(_._1).toSet.foreach { (l: String) =>
      val n = leaves.collect { case ((`l`, _), (c, _)) => c }.sum
      assert(rows((l, "ALL"))._1 == n, s"lang $l subtotal mismatch")
    }
    // grand total row covers everything
    assert(rows(("ALL", "ALL"))._1 == leaves.values.map(_._1).sum)
  }

  test("regression: closed form reproduces a driver-side OLS") {
    val rows = operators.Relational.regressionByType(spark, sf).collect()
    assert(rows.nonEmpty)
    val data = Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.datediff(
          org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.col("ts")),
          org.apache.spark.sql.functions.lit("2024-01-01")).cast("double").as("x"),
        org.apache.spark.sql.functions.col("value")
          .cast("decimal(18,2)").cast("double").as("y"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val (t, slope, r2) = (r.getString(0), r.getDouble(2), r.getDouble(4))
      val pts = data(t)
      val n = pts.size.toDouble
      val mx = pts.map(_._2).sum / n; val my = pts.map(_._3).sum / n
      val cov = pts.map(p => (p._2 - mx) * (p._3 - my)).sum
      val vx = pts.map(p => (p._2 - mx) * (p._2 - mx)).sum
      val vy = pts.map(p => (p._3 - my) * (p._3 - my)).sum
      assert(math.abs(slope - cov / vx) < 1e-6, s"$t slope")
      assert(math.abs(r2 - cov * cov / (vx * vy)) < 1e-6, s"$t r2")
      assert(r2 >= 0 && r2 <= 1 + 1e-12, s"$t r2 out of range")
    }
  }

  test("rollup: subtotal levels are internally consistent") {
    val rows = operators.Relational.rollupAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(4))).toMap
    val leaves = rows.filter { case ((rf, ls), _) => rf != "ALL" && ls != "ALL" }
    val flags = leaves.keys.map(_._1).toSet
    // per-flag subtotal = sum of its leaves; grand total = sum of subtotals
    flags.foreach { f =>
      val leafN = leaves.collect { case ((`f`, _), (_, n)) => n }.sum
      assert(rows((f, "ALL"))._2 == leafN, s"flag $f subtotal mismatch")
    }
    val grand = rows(("ALL", "ALL"))._2
    assert(grand == leaves.values.map(_._2).sum)
    // cube contains the same leaves plus the status-only margin sets
    val cube = operators.Relational.cubeAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.keySet.subsetOf(cube))
    assert(cube.exists { case (rf, ls) => rf == "ALL" && ls != "ALL" })
  }

  test("pivot: wide counts sum back to the table count, absent cells are 0") {
    val df = operators.Relational.pivotLangCounts(spark, sf)
    val langCols = df.columns.filter(_ != "source")
    assert(langCols.sorted.sameElements(Array("de", "en", "es", "fr", "zh")))
    val total = df.collect().map(r => langCols.indices.map(i => r.getLong(i + 1)).sum).sum
    assert(total == Tables.documents(spark, sf).count())
  }

  test("unpivot inverts pivot: every wide cell comes back as one long row") {
    val wide = operators.Relational.pivotLangCounts(spark, sf).collect()
    val long = operators.Relational.unpivotLangCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val langs = Seq("de", "en", "es", "fr", "zh")
    assert(long.size == wide.length * langs.size, "melt must preserve the dense grid")
    wide.foreach { r =>
      langs.zipWithIndex.foreach { case (l, i) =>
        assert(long((r.getString(0), l)) == r.getLong(i + 1),
          s"cell (${r.getString(0)}, $l) changed across the melt")
      }
    }
  }

  test("range frame: trailing-7d window matches a brute-force recomputation") {
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS t", "CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val sevenDays = 7L * 86400L * 1000000L
    val brute = rows.filter(_._1 % 10 == 0).map { case (u, e, t, _) =>
      val frame = rows.filter(r => r._1 == u && r._3 >= t - sevenDays && r._3 <= t)
      (u, e) -> (frame.length.toLong, BigDecimal(frame.map(r => BigDecimal(r._4)).sum.toDouble))
    }.toMap
    val got = operators.Relational.rangeFrameWindow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), BigDecimal(r.getDouble(3)))).toMap
    assert(got.keySet == brute.keySet)
    got.foreach { case (k, (n, s)) =>
      assert(n == brute(k)._1, s"frame count mismatch at $k")
      assert((s - brute(k)._2).abs < BigDecimal("0.000001"), s"frame sum mismatch at $k")
    }
  }

  test("streaks: consecutive-day islands match a brute-force scan") {
    val rows = Tables.events(spark, sf)
      .selectExpr("user_id", "datediff(to_date(ts), '2024-01-01') AS day")
      .distinct().collect().map(r => (r.getLong(0), r.getInt(1)))
    val brute = rows.groupBy(_._1).toSeq.flatMap { case (u, ds) =>
      val days = ds.map(_._2).distinct.sorted
      // split into consecutive runs
      val runs = days.foldLeft(List.empty[List[Int]]) {
        case (acc, d) if acc.nonEmpty && acc.head.head == d - 1 => (d :: acc.head) :: acc.tail
        case (acc, d) => List(d) :: acc
      }.map(_.reverse).reverse
      runs.filter(_.size >= 3).map(r => (u, r.head.toLong, r.last.toLong, r.size.toLong))
    }.toSet
    val got = operators.Relational.activityStreaks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == brute)
    assert(got.nonEmpty, "testdata should contain at least one 3-day streak")
    got.foreach { case (_, s, e, l) => assert(e - s + 1 == l, "streak length consistent") }
  }

  test("equi-depth: buckets cover every row with near-equal mass, ordered ranges") {
    val rows = operators.Relational.equiDepthHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_._2).sum == total, "buckets must partition all rows")
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong), "buckets dense 0..B-1")
    // equal depth up to boundary ties: each bucket within 2x of ideal
    val ideal = total.toDouble / rows.length
    rows.foreach { case (b, n, lo, hi) =>
      assert(n > ideal / 2 && n < ideal * 2, s"bucket $b mass $n far from ideal $ideal")
      assert(lo <= hi)
    }
    // ranges ascend across buckets
    rows.sliding(2).foreach { case Array((_, _, _, hi1), (_, _, lo2, _)) =>
      assert(hi1 <= lo2, "bucket ranges must not overlap")
    }
  }

  test("profile: per-column stats match direct queries, plan has no Expand") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    val df = operators.Relational.profileColumns(li, Seq("l_quantity", "l_returnflag"))
    val got = df.collect().map(r => r.getString(0) -> r).toMap
    val n = li.count()
    val q = got("l_quantity")
    assert(q.getLong(1) == n && q.getLong(2) == 0)
    assert(q.getDouble(3) ==
      li.agg(min(col("l_quantity")).cast("double")).collect()(0).getDouble(0))
    assert(q.getLong(5) == li.select("l_quantity").distinct().count())
    val f = got("l_returnflag")
    assert(f.getLong(5) == li.select("l_returnflag").distinct().count())
    assert(f.isNullAt(3) && f.isNullAt(4), "string min/max cast to double as null")
    assert(!df.queryExecution.executedPlan.toString.contains("Expand"),
      "exact distincts must not plan an Expand")
  }

  test("per-group corr matches the hand-computed Pearson formula") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      ("a", 1.0, 2.0), ("a", 2.0, 4.5), ("a", 3.0, 5.5), ("a", 4.0, 8.0),
      ("b", 1.0, 9.0), ("b", 2.0, 7.0), ("b", 3.0, 2.0)
    ).toDF("g", "x", "y")
    val got = df.groupBy(col("g"))
      .agg(round(corr(col("x"), col("y")), 4).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def pearson(xs: Seq[Double], ys: Seq[Double]): Double = {
      val n = xs.length
      val mx = xs.sum / n; val my = ys.sum / n
      val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val sx = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum)
      val sy = math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
      cov / (sx * sy)
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got("a") - r4(pearson(Seq(1, 2, 3, 4), Seq(2, 4.5, 5.5, 8)))) < 1e-9)
    assert(math.abs(got("b") - r4(pearson(Seq(1, 2, 3), Seq(9, 7, 2)))) < 1e-9)
    assert(got("a") > 0 && got("b") < 0)
  }

  test("upsert: batch wins on matches, inserts append, base carries over") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val batch = Seq((2L, "b2", 99.0), (9L, "z", 1.0)).toDF("k", "name", "bal")
    val got = operators.Relational.upsert(base, batch, "k").collect()
      .map(r => r.getLong(0) ->
        ((r.getStruct(1).getString(0), r.getStruct(1).getDouble(1), r.getString(2)))).toMap
    assert(got(1L) == (("a", 10.0, "kept")))
    assert(got(2L) == (("b2", 99.0, "updated")), "matched key must take the batch row")
    assert(got(3L) == (("c", 30.0, "kept")))
    assert(got(9L) == (("z", 1.0, "inserted")))
    assert(got.size == 4)
  }

  /** `exactQuantiles` must return, group for group, exactly what
    * Spark's `percentile(v, array(fractions))` returns next to
    * count(*): the same doubles, and NULL where it gives NULL. */
  private def assertMatchesPercentile(df: DataFrame, fracs: Seq[Double]): Unit = {
    import org.apache.spark.sql.functions.{count, expr, lit}
    def keyed(rows: Array[Row]) = rows.map(r =>
      Option(r.get(0)) -> ((r.getLong(1), Option(r.getSeq[Double](2))))).toMap
    val want = keyed(df.groupBy("g").agg(count(lit(1)).as("n"),
      expr(s"percentile(v, array(${fracs.mkString(", ")}))").as("qs")).collect())
    val got = keyed(operators.Relational.exactQuantiles(df, "g", "v", fracs).collect())
    assert(got == want)
  }

  private val someFracs = Seq(0.0, 0.1, 0.25, 1.0 / 3, 0.5, 0.9, 0.95, 1.0)

  test("exact quantiles equal percentile on skewed groups, heavy ties and NULL values") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 19:1 skew between two groups, 40 distinct values, every 13th value
    // NULL, and a group made of two tied runs
    val mixed = (0 until 4000).map { i =>
      (if (i % 20 == 0) "small" else "big",
        if (i % 13 == 0) None else Some(rnd.nextInt(40) * 0.25))
    } ++ (0 until 500).map(i => ("ties", Some(if (i < 400) 5.0 else 7.5)))
    assertMatchesPercentile(mixed.toDF("g", "v").repartition(7), someFracs)
  }

  test("exact quantiles keep a NULL group key, a one-row group and an all-NULL group") {
    import spark.implicits._
    val df = Seq[(Option[String], Option[Double])](
      (None, Some(3.0)), (None, Some(1.0)), (None, None), (None, Some(2.0)),
      (Some("one"), Some(42.5)),
      (Some("empty"), None), (Some("empty"), None),
      (Some("pair"), Some(-1.0)), (Some("pair"), Some(1.0))).toDF("g", "v").repartition(3)
    assertMatchesPercentile(df, someFracs)
    val got = operators.Relational.exactQuantiles(df, "g", "v", Seq(0.5)).collect()
      .map(r => Option(r.getString(0)) -> ((r.getLong(1), Option(r.getSeq[Double](2))))).toMap
    assert(got(None) == ((4L, Some(Seq(2.0)))), "the NULL group ranks its non-NULL values")
    assert(got(Some("one")) == ((1L, Some(Seq(42.5)))))
    assert(got(Some("empty")) == ((2L, None)), "an all-NULL group keeps its row with NULL quantiles")
    assert(got(Some("pair")) == ((2L, Some(Seq(0.0)))))
  }

  test("exact quantiles: q = 0 is the group minimum, q = 1 its maximum; the entry equals percentile") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, expr, lit, max, min}
    val rnd = new scala.util.Random(11)
    val df = (0 until 3000).map(i => (s"g${i % 5}", rnd.nextGaussian() * 1000)).toDF("g", "v")
      .repartition(5)
    assertMatchesPercentile(df, Seq(0.0, 1.0))
    val ends = operators.Relational.exactQuantiles(df, "g", "v", Seq(0.0, 1.0)).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](2)).toMap
    val minMax = df.groupBy("g").agg(min("v"), max("v")).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2))).toMap
    assert(ends == minMax)
    // the q_quantiles entry: rounded percentile over lineitem, count(*) as n
    val want = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(expr("transform(percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95)), " +
        "q -> round(q, 4))").as("qs"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getSeq[Double](1), r.getLong(2)))).toMap
    val got = operators.Relational.quantiles(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)), r.getLong(5)))).toMap
    assert(got == want)
  }

  test("grouped top-k: heap aggregate matches a window row_number, no per-group sort of all rows") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = operators.Relational.groupedTopK(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expect = o.join(c, o("o_custkey") === c("c_custkey"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn").cast("long"), col("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect && got.nonEmpty)
    // the aggregate plan must not contain a window sort over all rows
    val plan = operators.Relational.groupedTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"grouped top-k must not plan a window:\n$plan")
  }

  test("histogram: bins are multiples of the width and cover every row") {
    val rows = operators.Relational.histogram(spark, sf).collect()
    rows.foreach(r => assert(r.getLong(0) % 5000 == 0))
    assert(rows.map(_.getLong(1)).sum == Tables.lineitem(spark, sf).count())
  }

  test("EXISTS decorrelates to a left-semi join; scalar subquery evaluates once") {
    val ex = operators.Relational.existsSubquery(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(ex.contains("LeftSemi"), s"EXISTS should plan as LeftSemi:\n$ex")
    val sc = operators.Relational.scalarSubquery(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(sc.contains("scalar-subquery"), s"expected scalar-subquery:\n$sc")
    // one-row result: both subquery sites see the same max
    val rows = operators.Relational.scalarSubquery(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall { r =>
      val ratio = r.getDouble(1); ratio > 0.9 && ratio <= 1.0
    })
  }

  test("full outer join surfaces both null directions, coalesced to zero") {
    val rows = operators.Relational.fullOuter(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.exists(r => r._2 == 0L && r._3 > 0L), "supplier-only side missing")
    assert(rows.exists(r => r._2 > 0L && r._3 == 0L), "customer-only side missing")
    assert(rows.exists(r => r._2 > 0L && r._3 > 0L))
  }

  test("scd2: versions tile each customer's timeline and count every order") {
    val rows = operators.Relational.scdType2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.map(_._6).sum == Tables.orders(spark, sf).count(),
      "every order lands in exactly one version")
    rows.groupBy(_._1).foreach { case (cust, vs) =>
      val ordered = vs.sortBy(_._2)
      assert(ordered.map(_._2).sameElements(1L to ordered.length),
        s"customer $cust versions not contiguous")
      // successor versions open exactly where the predecessor closes,
      // carry a DIFFERENT status, and only the last stays open
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 == b._4, s"customer $cust: gap between versions")
          assert(a._3 != b._3, s"customer $cust: version break without a status change")
        case _ => ()
      }
      assert(ordered.last._5 == "9999-12-31")
      assert(ordered.init.forall(_._5 != "9999-12-31"))
    }
  }

  test("scd2 point-in-time join: every order picks the version covering its date") {
    val hist = operators.Relational.scdType2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4)))
    val got = operators.Relational.scd2PointInTime(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getString(4)))
    assert(got.length == Tables.orders(spark, sf).count(),
      "point-in-time join must keep exactly one row per order")
    got.foreach { case (ok, cust, date, version, status) =>
      // the covering interval valid_from <= date < valid_to is unique:
      // empty same-date intervals fail the right-open bound (ISO
      // strings compare like the dates they encode)
      val v = hist.filter(h => h._1 == cust && h._4 <= date && date < h._5)
      assert(v.length == 1, s"order $ok: expected exactly one covering version")
      assert((v.head._2, v.head._3) == (version, status),
        s"order $ok picked version $version, covering is ${v.head._2}")
    }
  }

  test("mode: the per-group winner is the max-count, min-value quantity") {
    val got = operators.Relational.modePerGroup(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    import org.apache.spark.sql.functions.{col, count, lit}
    val counts = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    got.foreach { case (flag, qty, n) =>
      val grp = counts.filter(_._1 == flag)
      assert(n == grp.map(_._3).max, s"$flag: not the max count")
      val winners = grp.filter(_._3 == n).map(_._2)
      assert(qty == winners.min, s"$flag: tie not broken by smallest value")
    }
    assert(got.nonEmpty)
  }

  test("distribution windows: ntile/percent_rank/cume_dist are pure position arithmetic") {
    val rows = operators.Relational.distributionWindows(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (seg, rs) =>
      val n = rs.length
      // the (acctbal, custkey) tiebreak makes the order total, so each
      // function is a closed form of the row's position alone
      val ordered = rs.sortBy(r => (r._3, r._2))
      // ntile: first n%4 buckets get ceil(n/4) rows, the rest floor
      val big = n % 4; val small = n / 4
      ordered.zipWithIndex.foreach { case (r, i) =>
        val expTile =
          if (i < big * (small + 1)) i / (small + 1) + 1
          else big + (i - big * (small + 1)) / small + 1
        assert(r._4 == expTile, s"$seg row $i: ntile ${r._4} != $expTile")
        assert(math.abs(r._5 - i.toDouble / (n - 1)) < 1e-6,
          s"$seg row $i: percent_rank")
        assert(math.abs(r._6 - (i + 1).toDouble / n) < 1e-6,
          s"$seg row $i: cume_dist")
      }
    }
  }

  test("lateral: per-customer top order matches the window form") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q_lateral")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expect = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (c, os) =>
        val best = os.minBy(o => (-o._3, o._2))
        (c, best._2, math.rint(best._3 * 100) / 100)
      }.toSeq.sortBy(_._1)
    assert(got.nonEmpty && got == expect)
  }

  test("recursive CTE: tree levels are exactly the binary-tree id ranges") {
    val ids = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val got = SparkEntry.queries("q_recursive_depth")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    // level d of the parent = id DIV 2 tree is [2^d, 2^(d+1)) ∩ ids
    got.foreach { case (d, (n, lo, hi)) =>
      if (d == 0) assert((n, lo, hi) == ((1L, 0L, 0L)))
      else {
        val level = ids.filter(i => i >= (1L << (d - 1).toInt) &&
          i < (1L << d.toInt))
        assert(n == level.size && lo == level.min && hi == level.max,
          s"level $d")
      }
    }
    // every document is reachable: levels partition the id set
    assert(got.map(_._2._1).sum == ids.size + (if (ids(0L)) 0 else 1))
  }

  test("KS distance: every pair matches the textbook two-sample statistic") {
    import org.apache.spark.sql.functions.col
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("value").cast("double")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
      .map { case (t, vs) => t -> vs.map(_._2).sorted }
    def ks(a: Seq[Double], b: Seq[Double]): Double = {
      // evaluate both empirical CDFs at every pooled value
      (a ++ b).distinct.map { x =>
        math.abs(a.count(_ <= x).toDouble / a.length -
          b.count(_ <= x).toDouble / b.length)
      }.max
    }
    val got = operators.Relational.ksTest(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val types = byType.keys.toSeq.sorted
    val pairs = for (i <- types.indices; j <- i + 1 until types.length)
      yield (types(i), types(j))
    assert(got.keySet == pairs.toSet)
    pairs.foreach { case (ta, tb) =>
      val (na, nb, d) = got((ta, tb))
      assert(na == byType(ta).length && nb == byType(tb).length)
      assert(math.abs(d - ks(byType(ta), byType(tb))) < 1e-6,
        s"($ta,$tb) KS distance")
    }
  }

  test("MAD outliers: median/MAD/outlier count match the brute force") {
    import org.apache.spark.sql.functions.col
    def interp(xs: Seq[Double]): Double = {
      val s = xs.sorted; val idx = 0.5 * (s.length - 1)
      val lo = s(idx.floor.toInt); val hi = s(idx.ceil.toInt)
      lo + (hi - lo) * (idx - idx.floor)
    }
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("value").cast("double")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    val got = operators.Relational.madOutliers(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got.keySet == byType.keySet)
    byType.foreach { case (t, vs) =>
      val xs = vs.map(_._2).toSeq
      val med = interp(xs)
      val adev = xs.map(v => math.abs(v - med))
      val mad = interp(adev)
      val (n, gm, gmad, nOut) = got(t)
      assert(n == xs.length)
      assert(math.abs(gm - med) < 1e-4, s"$t median $gm != $med")
      assert(math.abs(gmad - mad) < 1e-4, s"$t MAD $gmad != $mad")
      assert(nOut == adev.count(_ > 3.0 * mad), s"$t outlier count")
    }
  }

  test("trimmed mean: matches the brute-force [p10, p90] filtered average") {
    import org.apache.spark.sql.functions.col
    def interp(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted; val idx = q * (s.length - 1)
      val lo = s(idx.floor.toInt); val hi = s(idx.ceil.toInt)
      lo + (hi - lo) * (idx - idx.floor)
    }
    val byFlag = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    val got = operators.Relational.trimmedMeanPerGroup(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == byFlag.keySet)
    byFlag.foreach { case (f, vs) =>
      val xs = vs.map(_._2).toSeq
      val (lo, hi) = (interp(xs, 0.1), interp(xs, 0.9))
      val kept = xs.filter(v => v >= lo && v <= hi)
      val (n, m) = got(f)
      assert(n == kept.length, s"$f kept count $n != ${kept.length}")
      assert(math.abs(m - kept.sum / kept.length) < 1e-3, s"$f mean")
      // the trim must actually trim (tails exist at every SF)
      assert(kept.length < xs.length)
    }
  }

  test("code ratio: crafted code row flagged, prose row not, fractions exact") {
    import spark.implicits._
    val code = "def f(x) { return g[x] <= 3; }"
    val prose = "the quick brown fox jumps over the lazy dog again"
    val rows = Seq((1L, code), (2L, prose)).toDF("doc_id", "text")
    val got = operators.TextStats.codeRatio(rows).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    val symbols = code.count(c => !c.isLetterOrDigit && !c.isWhitespace)
    assert(math.abs(got(1L)._1 - symbols.toDouble / code.length) < 1e-3)
    assert(got(1L)._4, "code row must flag is_code")
    assert(!got(2L)._4, "prose row must not flag is_code")
    assert(got(2L)._1 == 0.0 && got(2L)._3 == 0.0)
  }
}
