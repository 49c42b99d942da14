package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TimeSeries

class TimeSeriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("twap: holding-duration weighting matches an exact rational brute force") {
    val got = TimeSeries.twapPerUser(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) AS t", "event_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expect = ev.groupBy(_._1).flatMap { case (u, es) =>
      val ordered = es.sortBy(e => (e._2, e._3))
      // cents × micros in BigDecimal — the same exact arithmetic the
      // DECIMAL sum performs, independent of this spec's fold order
      val (wsum, span) = ordered.sliding(2).foldLeft((BigDecimal(0), 0L)) {
        case ((ws, sp), Array(a, b)) =>
          val dur = b._2 - a._2
          val v2 = BigDecimal(a._4).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          (ws + v2 * BigDecimal(dur), sp + dur)
        case (acc, _) => acc
      }
      if (span > 0) Some(u -> (wsum / BigDecimal(span)).toDouble) else None
    }
    assert(got.nonEmpty && got.length == expect.size)
    got.foreach { case (u, twap, span) =>
      assert(span > 0)
      assert(math.abs(twap - expect(u)) < 2e-6, s"user $u: $twap vs ${expect(u)}")
    }
  }

  test("resample: dense per-type calendar, gaps forward-filled") {
    val rows = TimeSeries.resampleDaily(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    val byType = rows.groupBy(_._1)
    byType.foreach { case (t, rs) =>
      val days = rs.map(_._2).sorted
      // dense grid: every day between min and max present exactly once
      assert(days.sameElements(days.head to days.last),
        s"$t grid has holes: ${days.mkString(",")}")
      // forward fill: after the first observed day, avg_filled never null,
      // and a zero-count day carries the previous day's value
      val ordered = rs.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Array((_, _, _, Some(prev)), (_, d, n, cur)) =>
          assert(cur.nonEmpty, s"$t day $d unfilled after an observation")
          if (n == 0) assert(cur.get == prev, s"$t day $d: gap must carry last value")
        case _ => ()
      }
    }
    assert(rows.nonEmpty)
  }

  test("rolling anomalies: flags reproduce the trailing-frame z-score") {
    val flagged = TimeSeries.rollingAnomalies(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(flagged.nonEmpty, "expected at least one anomaly at sf0.001")
    // brute-force recompute per type from the same (ts, event_id) order
    val events = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("tus"),
        col("value").cast("decimal(18,2)").cast("double").as("y"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // .iterator: a Map.flatMap over (type, id) tuples would rebuild a
    // Map keyed on type and silently keep ONE flag per type
    val expected = events.groupBy(_._1).iterator.flatMap { case (t, rs) =>
      val ordered = rs.sortBy(r => (r._3, r._2))
      ordered.indices.flatMap { i =>
        val frame = ordered.slice(math.max(0, i - 19), i + 1)
        val c = frame.length
        if (c >= 15) {
          val m = frame.map(_._4).sum / c
          val q = frame.map(v => v._4 * v._4).sum / c
          val z = (ordered(i)._4 - m) / math.sqrt(q - m * m)
          if (math.abs(z) > 2.5) Some((t, ordered(i)._2)) else None
        } else None
      }
    }.toSet
    // flag SETS agree (exact z values differ in the last ulps because the
    // brute force re-sums doubles in a different order than the engine's
    // running DECIMAL frame — membership at |z|>2.5 is the stable contract)
    val missing = expected -- flagged.keySet
    val extra = flagged.keySet -- expected
    assert(missing.size + extra.size <= math.max(1, expected.size / 20),
      s"flag sets diverge: missing=$missing extra=$extra")
  }

  test("rolling anomalies: the rank-bucketed scale route is bit-identical") {
    // bucketRows=40 forces many buckets per type even at sf0.001, so
    // carry rows cross bucket boundaries constantly — the exact case
    // the count-based carry must survive
    val plain = TimeSeries.rollingAnomalies(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val routed = TimeSeries.rollingAnomaliesPartitioned(spark, sf, bucketRows = 40)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(plain.nonEmpty && routed == plain,
      "bucketed window + frame-1 carry must reproduce the global trailing frame exactly")
  }

  test("rolling anomalies: zero-variance runs are unscored, not a crash") {
    // a run of identical values makes the trailing frame's variance
    // exactly 0 — never in the testdata, routine at corpus scale
    // (heartbeats, quantized metrics). z is undefined there: the row
    // must be silently unscored, not an ANSI DIVIDE_BY_ZERO, and a
    // genuine spike after the run must still surface.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ts-flat").toString
    val rows = (0 until 30).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), 1L,
        "a", 5.0, "{}")) :+
      (30L, java.sql.Timestamp.valueOf("2024-01-01 00:59:00"), 1L, "a", 50.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val plain = TimeSeries.rollingAnomalies(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(plain.map(_._2) == Seq(30L),
      s"only the spike is scoreable and anomalous, got $plain")
    val routed = TimeSeries.rollingAnomaliesPartitioned(spark, tmp, bucketRows = 25)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(routed == plain, "guard must keep the two routes bit-identical")
  }

  test("sequence count: greedy non-overlapping automaton matches brute force") {
    val got = TimeSeries.sequenceCount(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val events = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val stepOf = Map("view" -> 1, "click" -> 2, "purchase" -> 3)
    val hist = events.groupBy(_._1).view.mapValues { rs =>
      var stage = 0; var cnt = 0L
      rs.sortBy(r => (r._2, r._3)).foreach { r =>
        if (stepOf.getOrElse(r._4, 0) == stage + 1) {
          stage += 1
          if (stage == 3) { cnt += 1; stage = 0 }
        }
      }
      cnt
    }.values.groupBy(identity).map { case (c, us) => c -> us.size.toLong }
    assert(got == hist, s"got $got expected $hist")
    assert(got.values.sum == events.map(_._1).distinct.length.toLong)
  }

  test("funnel: stage counts are the ordered first-touch survivors") {
    val out = TimeSeries.funnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.map(_._1).sameElements(Array(1L, 2L, 3L)))
    val Array(u1, u2, u3) = out.map(_._3)
    assert(u1 >= u2 && u2 >= u3, "funnel must be monotone")
    // brute force on the collected events
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    def first(rs: Array[(Long, String, Long)], tp: String): Option[Long] = {
      val ts = rs.filter(_._2 == tp).map(_._3)
      if (ts.isEmpty) None else Some(ts.min)
    }
    val firsts = byUser.values.map { rs =>
      (first(rs.toArray, "view"), first(rs.toArray, "click"), first(rs.toArray, "purchase"))
    }
    assert(u1 == firsts.count(_._1.nonEmpty))
    assert(u2 == firsts.count { case (a, b, _) =>
      a.nonEmpty && b.nonEmpty && a.get <= b.get })
    assert(u3 == firsts.count { case (a, b, c) =>
      a.nonEmpty && b.nonEmpty && c.nonEmpty && a.get <= b.get && b.get <= c.get })
  }

  /** Shared brute force: per-type daily counts, day-indexed. */
  private def dailyCounts(): Map[String, Seq[(Long, Long)]] =
    Tables.events(spark, sf)
      .selectExpr("event_type", "datediff(to_date(ts), '2024-01-01') AS day")
      .collect().map(r => (r.getString(0), r.getInt(1).toLong))
      .groupBy(_._1).map { case (t, rs) =>
        t -> rs.groupBy(_._2).map { case (d, xs) => (d, xs.size.toLong) }
          .toSeq.sortBy(_._1)
      }

  test("X190 ewma: matches a double-precision adjusted EWMA brute force") {
    val got = TimeSeries.ewmaDaily(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val daily = dailyCounts()
    assert(got.nonEmpty && got.size == daily.values.map(_.size).sum)
    daily.foreach { case (t, series) =>
      series.indices.foreach { i =>
        val trail = series.slice(math.max(0, i - 15), i + 1).map(_._2).reverse
        val ws = trail.indices.map(j => math.pow(0.7, j))
        val expect = trail.zip(ws).map { case (x, w) => x * w }.sum / ws.sum
        val (cnt, ewma) = got((t, series(i)._1))
        assert(cnt == series(i)._2)
        assert(math.abs(ewma - expect) < 2e-4,
          s"$t day ${series(i)._1}: $ewma vs $expect")
      }
    }
  }

  test("X191 autocorr: matches the lag-k Pearson numerators over the count series") {
    val got = TimeSeries.autocorrDaily(spark, sf).collect()
      .map(r => r.getString(0) -> (1 to 7).map(k => r.getDouble(k)))
      .toMap
    val daily = dailyCounts()
    assert(got.size == daily.size)
    daily.foreach { case (t, series) =>
      val xs = series.map(_._2.toDouble)
      val mean = xs.sum / xs.size
      val den = xs.map(x => (x - mean) * (x - mean)).sum
      (1 to 7).foreach { k =>
        val num = (k until xs.size).map(i => (xs(i) - mean) * (xs(i - k) - mean)).sum
        assert(math.abs(got(t)(k - 1) - num / den) < 1e-4,
          s"$t lag $k: ${got(t)(k - 1)} vs ${num / den}")
      }
    }
  }

  test("X192 ohlc: bars equal the per-month sorted series endpoints and extremes") {
    val got = TimeSeries.ohlcMonthly(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6))))
      .toMap
    val rows = Tables.orders(spark, sf)
      .selectExpr("date_format(o_orderdate, 'yyyy-MM') AS m",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS d",
        "o_orderkey", "CAST(o_totalprice AS DECIMAL(18,2)) AS p")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))
    val byMonth = rows.groupBy(_._1)
    assert(got.size == byMonth.size)
    byMonth.foreach { case (m, os) =>
      val sorted = os.sortBy(o => (o._2, o._3)).map(_._4.doubleValue)
      val (open, high, low, close, n, avg) = got(m)
      assert(open == sorted.head && close == sorted.last)
      assert(high == sorted.max && low == sorted.min)
      assert(n == sorted.length)
      val exact = os.map(o => BigDecimal(o._4)).sum / os.length
      assert(math.abs(avg - exact.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"$m avg: $avg vs $exact")
    }
  }
}
