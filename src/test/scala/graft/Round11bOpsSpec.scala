package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Clustering, Dedup, Inference, TimeSeries}

/** Driver-side brute-force replays for the round-11 second batch
  * (X226–X228): the distributed pipelines against plain Scala
  * collections over the collected sf0.001 tables. */
class Round11bOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("X226 dbscan: roles and clusters match a union-find replay " +
    "of the same candidate graph") {
    val emb = Tables.embeddings(spark, sf)
    val pairs = Dedup.embeddingPairs(emb).select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = emb.select(col("vec_id").cast("long")).collect()
      .map(_.getLong(0)).sorted
    val nbrs = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    pairs.foreach { case (a, b) =>
      nbrs(a) = nbrs(a) + b; nbrs(b) = nbrs(b) + a
    }
    val core = ids.filter(nbrs(_).size >= 3).toSet
    // union-find over core-core edges
    val parent = scala.collection.mutable.Map(core.toSeq.map(c => c -> c): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      if (core(a) && core(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val coreCluster = core.map(c => c -> find(c)).toMap
    val expected = ids.map { id =>
      if (core(id)) (id, "core", coreCluster(id))
      else {
        val coreNbrs = nbrs(id).filter(core)
        if (coreNbrs.nonEmpty) (id, "border", coreNbrs.map(coreCluster).min)
        else (id, "noise", -1L)
      }
    }
    onBothCcRoutes {
      val got = Clustering.dbscan(emb).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.length == expected.length)
      got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g vs $e") }
      // the data actually exercises every role
      val roles = got.map(_._2).toSet
      assert(roles == Set("core", "border", "noise"),
        s"degenerate test data: only $roles present")
    }
  }

  test("X227 woe/iv: bins match the textbook formula on collected orders") {
    val prices = Tables.orders(spark, sf)
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val byBin = prices.groupBy(_._1).map { case (p, xs) =>
      p -> (xs.count(_._2 >= 250000.0).toLong,
        xs.count(_._2 < 250000.0).toLong)
    }.filter { case (_, (pos, neg)) => pos > 0 && neg > 0 }
    val tp = byBin.values.map(_._1).sum.toDouble
    val tn = byBin.values.map(_._2).sum.toDouble
    val got = Inference.woeIv(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == byBin.keySet)
    byBin.foreach { case (p, (pos, neg)) =>
      val (gp, gn, woe, iv) = got(p)
      assert((gp, gn) == (pos, neg), p)
      val rp = pos / tp
      val rn = neg / tn
      assert(math.abs(woe - math.log(rp / rn)) < 1e-6, s"$p woe")
      assert(math.abs(iv - (rp - rn) * math.log(rp / rn)) < 1e-6, s"$p iv")
    }
  }

  test("X228 interp resample: rollup matches the half-up spine walk") {
    val minuteOf = (ts: java.sql.Timestamp) =>
      (ts.getTime - java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
        .getTime) / 1000 / 60
    val byType = Tables.events(spark, sf)
      .select("event_type", "ts", "value").collect()
      // NULL values are gaps, mirroring the engine's IGNORE-NULLS
      // filter (and getDouble would NPE on them)
      .filter(r => !r.isNullAt(2))
      .map(r => (r.getString(0), minuteOf(r.getTimestamp(1)),
        java.math.BigDecimal.valueOf(r.getDouble(2) * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()))
      .groupBy(_._1)
    val got = TimeSeries.interpResampleSummary(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == byType.keySet)
    byType.foreach { case (t, rows) =>
      val perMin = rows.groupBy(_._2).map { case (m, xs) =>
        m -> xs.map(_._3).max
      }
      val present = perMin.keys.toArray.sorted
      var (nA, nI, sA, sI) = (0L, 0L, 0L, 0L)
      // INDEPENDENT oracle shape: walk the dense m0..m1 spine and
      // bracket each missing minute by binary search — deliberately
      // NOT the engine's lead()-pairing algorithm, so a bug shared by
      // both pairing implementations cannot cancel out here (O(spine)
      // is fine in local Scala)
      val m0 = present.head; val m1 = present.last
      var m = m0
      while (m <= m1) {
        perMin.get(m) match {
          case Some(v) => nA += 1; sA += v
          case None =>
            val ins = -java.util.Arrays.binarySearch(present, m) - 1
            val (pm, nm) = (present(ins - 1), present(ins))
            val (pv, nv) = (perMin(pm), perMin(nm))
            val num = pv * (nm - m) + nv * (m - pm)
            val den = nm - pm
            val x = num * 2 + den
            nI += 1; sI += (x - x % (den * 2)) / (den * 2)
        }
        m += 1
      }
      assert(got(t) == ((nA, nI, sA, sI)), s"$t: ${got(t)} vs ($nA,$nI,$sA,$sI)")
      assert(nI > 0, s"$t has no gaps — the interp path is untested")
    }
  }

  test("X229 nearest resample: rollup matches the nearest-bracket " +
    "spine walk (previous wins ties)") {
    val minuteOf = (ts: java.sql.Timestamp) =>
      (ts.getTime - java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
        .getTime) / 1000 / 60
    val byType = Tables.events(spark, sf)
      .select("event_type", "ts", "value").collect()
      .filter(r => !r.isNullAt(2))
      .map(r => (r.getString(0), minuteOf(r.getTimestamp(1)),
        java.math.BigDecimal.valueOf(r.getDouble(2) * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()))
      .groupBy(_._1)
    val got = TimeSeries.nearestResampleSummary(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == byType.keySet)
    var tieSeen = false
    byType.foreach { case (t, rows) =>
      val perMin = rows.groupBy(_._2).map { case (m, xs) =>
        m -> xs.map(_._3).max
      }
      val present = perMin.keys.toArray.sorted
      var (nA, nF, sA, sF) = (0L, 0L, 0L, 0L)
      // INDEPENDENT oracle shape (the X228 discipline): walk the dense
      // m0..m1 spine, bracket each missing minute by binary search,
      // pick the nearer bracket, previous on the exact midpoint
      val m0 = present.head; val m1 = present.last
      var m = m0
      while (m <= m1) {
        perMin.get(m) match {
          case Some(v) => nA += 1; sA += v
          case None =>
            val ins = -java.util.Arrays.binarySearch(present, m) - 1
            val (pm, nm) = (present(ins - 1), present(ins))
            if (m - pm == nm - m) tieSeen = true
            nF += 1
            sF += (if (m - pm <= nm - m) perMin(pm) else perMin(nm))
        }
        m += 1
      }
      assert(got(t) == ((nA, nF, sA, sF)), s"$t: ${got(t)} vs ($nA,$nF,$sA,$sF)")
      assert(nF > 0, s"$t has no gaps — the nearest path is untested")
    }
    // informational only: whether the tie branch fired here is a
    // property of the generated dataset, not of the code — the
    // deterministic fixture test below is what PINS the tie rule, so
    // a testdata regeneration can never fail this suite by coincidence
    if (!tieSeen) info("fixed dataset had no exact-midpoint gap; " +
      "tie rule covered by the constructed-fixture test")
  }

  test("X229 nearest resample: constructed even/odd gaps pin the " +
    "tie rule (previous wins) and both bracket branches") {
    import spark.implicits._
    // synthetic events table with the driver schema: type "tie" has
    // ONE gap minute exactly midway (minute 1 between observed 0 and
    // 2 — previous must win); type "odd" has two gap minutes (1, 2
    // between observed 0 and 3 — one nearer previous, one nearer next)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(minute: Long) = new java.sql.Timestamp(t0 + minute * 60000L)
    val rows = Seq(
      (1L, ts(0), 1L, "tie", 1.0, "{}"),
      (2L, ts(2), 1L, "tie", 3.0, "{}"),
      (3L, ts(0), 1L, "odd", 1.0, "{}"),
      (4L, ts(3), 1L, "odd", 3.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft_x229_fix")
      .toFile.getAbsolutePath
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = TimeSeries.nearestResampleSummary(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // tie: gap minute 1 is equidistant from 0 and 2 — previous (100
    // cents) must fill it, NOT next (300) and NOT any blend
    assert(got("tie") == ((2L, 1L, 400L, 100L)),
      s"tie rule broken: ${got("tie")} (nearest_cents must be the " +
        "PREVIOUS bracket's 100)")
    // odd: minute 1 nearer previous (100), minute 2 nearer next (300)
    assert(got("odd") == ((2L, 2L, 400L, 400L)),
      s"bracket branches broken: ${got("odd")}")
  }
}
