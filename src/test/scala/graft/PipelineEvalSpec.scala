package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{EmbeddingStats, EventAnalytics, Graph, TextStats}

/** Brute-force driver-side oracles for the round-11 batch-2 family
  * (X204-X210): classification/cluster-quality evals, vocabulary
  * shape, hashing-trick featurization, text ingest, k-core, decay. */
class PipelineEvalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("knn classify: majority-then-smallest vote over a hand-built graph") {
    import spark.implicits._
    // q=1 sees labels [7,7,9]; q=2 sees [5,9] (tie -> 5); q=3 sees [9]
    val knn = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
      (2L, 1, 10L), (2L, 2, 12L), (3L, 1, 12L))
      .toDF("q_id", "rank", "c_id")
    val labels = Seq((1L, 7L), (2L, 5L), (3L, 9L),
      (10L, 7L), (11L, 7L), (12L, 9L)).toDF("vec_id", "label")
    // c_id 10,11 -> 7; 12 -> 9
    val got = EmbeddingStats.knnClassify(knn, labels).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 7L, 7L, 1L), (2L, 5L, 7L, 0L),
      (3L, 9L, 9L, 1L)))
  }

  test("silhouette: separated clusters score positive and match pairwise means") {
    import spark.implicits._
    // two orthogonal-ish clouds in 4 dims
    val rows = Seq(
      (0L, 0, Array(1f, 0f, 0.1f, 0f)), (1L, 0, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, 0, Array(1f, 0.05f, 0f, 0.05f)),
      (10L, 1, Array(0f, 1f, 0f, 0.1f)), (11L, 1, Array(0.1f, 0.9f, 0f, 0f)),
      (12L, 1, Array(0f, 1f, 0.05f, 0f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val got = EmbeddingStats.silhouette(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.length == 6)
    got.foreach { case (_, _, a, b, _, s) =>
      assert(a < b && s > 0, s"separated clusters must score positive: $a $b $s")
    }
    // brute-force pairwise mean cosine distance (tolerance covers the
    // 6dp-rounded label sums)
    def cos(u: Array[Float], v: Array[Float]): Double = {
      val du = u.map(_.toDouble); val dv = v.map(_.toDouble)
      val dot = du.zip(dv).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(du.map(x => x * x).sum) * math.sqrt(dv.map(x => x * x).sum))
    }
    got.foreach { case (id, lab, a, b, _, _) =>
      val me = rows.find(_._1 == id).get._3
      val own = rows.filter(r => r._2 == lab && r._1 != id).map(_._3)
      val aExp = 1.0 - own.map(cos(me, _)).sum / own.size
      assert(math.abs(a - aExp) < 1e-3, s"vec $id a=$a vs $aExp")
      val others = rows.filter(_._2 != lab).map(_._3)
      val bExp = 1.0 - others.map(cos(me, _)).sum / others.size
      assert(math.abs(b - bExp) < 1e-3, s"vec $id b=$b vs $bExp")
    }
  }

  test("zipf fit: slope/intercept/r2 replay OLS on the collected top-64") {
    val row = TextStats.zipfFit(Tables.documents(spark, sf)).collect().head
    val (k, slope, intercept, r2) =
      (row.getLong(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))
    val counts = Tables.documents(spark, sf)
      .select(explode(filter(split(lower(col("text")), "\\s+"),
        t => length(t) > 0)).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, n) => (-n, t) }.take(64)
    assert(k == counts.length)
    val pts = counts.zipWithIndex.map { case ((_, n), i) =>
      (math.log(i + 1.0), math.log(n.toDouble)) }
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val slopeExp = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert(math.abs(slope - slopeExp) < 1e-3, s"slope $slope vs $slopeExp")
    assert(slope < 0, "token frequencies must decay with rank")
    assert(math.abs(intercept - (sy - slopeExp * sx) / k) < 1e-3)
    val r2Exp = (k * sxy - sx * sy) * (k * sxy - sx * sy) /
      ((k * sxx - sx * sx) * (k * syy - sy * sy))
    assert(math.abs(r2 - r2Exp) < 1e-3 && r2 > 0 && r2 <= 1)
  }

  test("feature hashing: per-doc bucket counts match a JVM md5 replay") {
    val got = TextStats.featureHashing(Tables.documents(spark, sf)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(t: String): Long = {
      val hex = md.digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      "0123456789abcdef".indexOf(hex(7)).toLong % 16
    }
    val expect = docs.flatMap { case (id, text) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .groupBy(bucket).map { case (b, ts) => ((id, b), ts.length.toLong) }
    }.toMap
    assert(got == expect && got.nonEmpty)
  }

  test("text ingest: the tab round trip reproduces the source rollup") {
    val got = graft.sources.TextIngest.ingestEntry(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val exp = Tables.documents(spark, sf)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("c"),
        sum(size(filter(split(col("text"), "\\s+"), t => length(t) > 0))).as("t"),
        min(col("doc_id")), max(col("doc_id")))
      .orderBy(col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == exp && got.nonEmpty)
  }

  test("k-core: a clique survives peeling, pendant structure peels away") {
    import spark.implicits._
    // 4-clique (each degree 3) + a chain hanging off node 0
    val clique = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val chain = Seq((0L, 10L), (10L, 11L), (11L, 12L))
    val e = (clique ++ chain).toDF("a", "b")
    val got = Graph.kCoreEdges(e, k = 3, rounds = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L), s"3-core must be the clique: $got")
    assert(got.values.forall(_ == 3L))
  }

  test("decay score: the weighted sum replays with exact BigInt weights") {
    val got = EventAnalytics.decayScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "datediff(to_date(ts), date '2024-01-01') AS day",
        "cast(cast(value as decimal(18,2)) * 100 as long) AS cents")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val ref = ev.map(_._2).max
    val w = (0 to 16).map(k => BigInt(5).pow(k) * BigInt(10).pow(16 - k))
    val expect = ev.groupBy(_._1).map { case (u, es) =>
      val s = es.map { case (_, d, c) =>
        BigInt(c) * w(math.min((ref - d) / 7, 16))
      }.sum
      u -> (es.length.toLong,
        (BigDecimal(s) / BigDecimal(10).pow(16)).toDouble)
    }
    assert(got.nonEmpty && got.length == expect.size)
    got.foreach { case (u, n, sc) =>
      val (nExp, scExp) = expect(u)
      assert(n == nExp)
      assert(math.abs(sc - scExp) < 1e-5, s"user $u: $sc vs $scExp")
    }
  }
}
