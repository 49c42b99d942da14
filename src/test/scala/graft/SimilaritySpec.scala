package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.tagobjects.Slow
import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  private def emb = Tables.embeddings(spark, sf)

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("L6: brute-force top-k equals an independent exact computation") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val queries = vecs.keys.filter(_ < 8).toSeq.sorted
    val got = Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 8), emb, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    queries.foreach { q =>
      val expected = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(vecs(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(10)
      val actual = got(q)
      assert(actual.map(_._1) == expected.map(_._1),
        s"query $q: ids ${actual.map(_._1)} != ${expected.map(_._1)}")
      actual.zip(expected).foreach { case ((_, sa), (_, se)) =>
        assert(math.abs(sa - se) < 1e-9)
      }
    }
  }

  test("L6 plan shape: queries broadcast, top-k partially aggregated map-side") {
    val df = Similarity.bruteForceTopK(emb.where(col("vec_id") < 8), emb, 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), "query side must broadcast")
    assert(plan.contains("graft_topk"), "top-k must be the bounded-heap aggregate")
    assert(plan.toLowerCase.contains("partial_graft_topk"),
      s"top-k must run a partial (map-side) phase:\n$plan")
  }

  test("L7: LSH ANN achieves high recall on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 10 well-separated centers, 30 members each with small jitter
    val centers = Seq.fill(10)(Array.fill(64)(rnd.nextGaussian()))
    val members = for {
      c <- centers.indices
      m <- 0 until 30
    } yield ((c * 100 + m).toLong,
      centers(c).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
    val df = members.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") % 100 === 0)  // one per cluster
    val exact = Similarity.bruteForceTopK(queries, df, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.lshTopK(queries, df, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      (approx.getOrElse(q, Set.empty) & exact(q)).size.toDouble / exact(q).size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.8,
      s"mean recall@5 $meanRecall below 0.8 on clustered vectors")
  }

  test("L7 IVF: achieves high recall on clustered data and exact scores") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val centers = Seq.fill(8)(Array.fill(64)(rnd.nextGaussian()))
    val members = for {
      c <- centers.indices
      m <- 0 until 25
    } yield ((c * 100 + m).toLong,
      centers(c).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
    val df = members.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") % 100 === 0)
    val exact = Similarity.bruteForceTopK(queries, df, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Similarity.ivfTopK(queries, df, 5, numCells = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      (ivf.getOrElse(q, Set.empty) & exact(q)).size.toDouble / exact(q).size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.8, s"IVF mean recall@5 $meanRecall below 0.8")
  }

  test("L7 IVF: plan size is independent of numCells (256-cell index)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0L until 1000L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 5)
    val out = Similarity.ivfTopK(queries, df, 5, numCells = 256, nProbe = 32, iters = 1)
    val plan = out.queryExecution.optimizedPlan.toString
    // the centroids must live in a broadcast table, not in the plan:
    // a literal-embedded formulation would put 256 cosine calls (each
    // with a 64-double array literal) into the expression tree
    val nCosine = "graft_cosine".r.findAllIn(plan).length
    assert(nCosine <= 6, s"cell assignment must not expand per-cell literals: $nCosine cosines")
    assert(plan.length < 100000, s"plan must stay small with 256 cells: ${plan.length} chars")
    val got = out.collect()
    assert(got.length == 25, s"5 queries x top-5 expected, got ${got.length}")
    // scores are exact cosines for whatever candidates IVF probed
    val vecs = rows.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = cosine(a, b)
    got.foreach { r =>
      assert(math.abs(r.getDouble(3) - cos(vecs(r.getLong(0)), vecs(r.getLong(2)))) < 1e-9)
    }
  }

  test("MMR: selection matches a driver-side greedy over the same pool") {
    val queries = emb.where(col("vec_id") < 8)
    val lambda = 0.7
    val pool = Similarity.bruteForceTopK(queries, emb, 20).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = pool.map { case (q, cands) =>
      var remaining = cands
      var selected = Seq.empty[(Long, Double)]
      while (selected.size < 8 && remaining.nonEmpty) {
        val scored = remaining.map { case (id, rel) =>
          // true max (may be negative); only the EMPTY set contributes 0
          val sims = selected.map(s => cos(vecs(id), vecs(s._1)))
          val ms = if (sims.isEmpty) 0.0 else sims.max
          (id, lambda * rel - (1 - lambda) * ms)
        }
        val best = scored.minBy { case (id, s) => (-s, id) }
        selected :+= best
        remaining = remaining.filterNot(_._1 == best._1)
      }
      q -> selected
    }
    val got = Similarity.mmrTopK(queries, emb, k = 8, m = 20, lambda = lambda).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    expect.foreach { case (q, exp) =>
      val g = got(q)
      assert(g.map(_._1) == exp.map(_._1), s"selection order differs for query $q")
      g.zip(exp).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9, s"score differs for query $q") }
    }
  }

  test("MMR: a near-duplicate of the top hit is deferred, pure top-k keeps it") {
    import spark.implicits._
    // query q; candidate 1 ≈ candidate 2 (near-dups, both highly
    // relevant); candidate 3 distinct but decently relevant
    val q = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val df = Seq(
      (100L, q.toSeq, 0),
      (1L, Seq(0.99f, 0.10f, 0.0f, 0.0f), 0),
      (2L, Seq(0.99f, 0.11f, 0.0f, 0.0f), 0),
      (3L, Seq(0.70f, 0.0f, 0.70f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val topk = Similarity.bruteForceTopK(df.where(col("vec_id") === 100), df, 3)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    assert(topk.take(2) == Seq(1L, 2L), "pure relevance keeps the near-dup adjacent")
    val mmr = Similarity.mmrTopK(df.where(col("vec_id") === 100), df, k = 3, m = 3,
        lambda = 0.5)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    assert(mmr == Seq(1L, 3L, 2L), "MMR defers the near-duplicate behind the diverse hit")
  }

  test("L6b: range search returns exactly the ε-neighborhood") {
    val tau = 0.2
    val got = Similarity.rangeSearch(emb.where(col("vec_id") < 4), emb, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val expected = (for {
      q <- vecs.keys if q < 4
      c <- vecs.keys if c != q && cosine(vecs(q), vecs(c)) >= tau
    } yield (q, c)).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.nonEmpty, "tau too high for the test corpus")
  }

  test("L7: LSH scores are exact cosines for the candidates it returns") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    Similarity.lshTopK(emb.where(col("vec_id") < 4), emb, 5)
      .collect().foreach { r =>
        val (q, c, s) = (r.getLong(0), r.getLong(2), r.getDouble(3))
        assert(math.abs(s - cosine(vecs(q), vecs(c))) < 1e-9)
      }
  }

  test("X152: triangle counts and clustering coefficients match the brute force") {
    // exact edge substrate isolates the triangle computation itself
    val got = operators.Graph.triangleStatsEdges(
      operators.Graph.undirectedMutual(Similarity.knnGraphExact(emb, 5))).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val topk = vecs.keys.map { q =>
      q -> vecs.keys.filter(_ != q).map(c => (c, cosine(vecs(q), vecs(c))))
        .toSeq.sortBy { case (c, s) => (-s, c) }.take(5).map(_._1).toSet
    }.toMap
    val edges = (for {
      a <- vecs.keys; b <- topk(a) if a < b && topk(b).contains(a)
    } yield (a, b)).toSet
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = adj.map { case (v, ns) =>
      val t = ns.toSeq.combinations(2).count { case Seq(x, y) => adj(x).contains(y) }
      val cc = if (ns.size >= 2)
        BigDecimal(2.0 * t / (ns.size.toLong * (ns.size - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      v -> ((ns.size.toLong, t.toLong, cc))
    }
    assert(got == expect && got.nonEmpty)
    assert(got.values.exists(_._2 > 0), "test graph should contain triangles")
  }

  test("X153: pagerank matches a driver-side power iteration; mass is conserved") {
    val got = operators.Graph.pageRankEdges(
      operators.Graph.undirectedMutual(Similarity.knnGraphExact(emb, 5)),
      iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val topk = vecs.keys.map { q =>
      q -> vecs.keys.filter(_ != q).map(c => (c, cosine(vecs(q), vecs(c))))
        .toSeq.sortBy { case (c, s) => (-s, c) }.take(5).map(_._1).toSet
    }.toMap
    val und = (for {
      a <- vecs.keys; b <- topk(a) if a < b && topk(b).contains(a)
    } yield (a, b)).toSet
    val sym = (und ++ und.map(e => (e._2, e._1))).toSeq
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = adj.size
    def rnd(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    var r = adj.keys.map(_ -> rnd(1.0 / n)).toMap
    (1 to 5).foreach { _ =>
      r = adj.keys.map { v =>
        val in = sym.collect { case (u, t) if t == v => r(u) / adj(u).size }
        v -> rnd((1.0 - 0.85) / n + 0.85 * in.sum)
      }.toMap
    }
    assert(got.keySet == r.keySet && got.nonEmpty)
    r.foreach { case (v, x) => assert(math.abs(got(v) - x) < 1e-8, s"node $v") }
    assert(math.abs(got.values.sum - 1.0) < 1e-3, "rank mass approximately conserved")
  }

  test("X154: link prediction scores non-edges by common-neighbor Jaccard") {
    val got = operators.Graph.linkPredictionEdges(
      operators.Graph.undirectedMutual(Similarity.knnGraphExact(emb, 5)),
      topN = 20).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getDouble(3)))
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val topk = vecs.keys.map { q =>
      q -> vecs.keys.filter(_ != q).map(c => (c, cosine(vecs(q), vecs(c))))
        .toSeq.sortBy { case (c, s) => (-s, c) }.take(5).map(_._1).toSet
    }.toMap
    val und = (for {
      a <- vecs.keys; b <- topk(a) if a < b && topk(b).contains(a)
    } yield (a, b)).toSet
    val adj = (und ++ und.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case ((x, y), common, j) =>
      assert(!und.contains((x, y)), s"($x,$y) is already an edge")
      val inter = adj(x).intersect(adj(y)).size
      assert(common == inter)
      assert(math.abs(j - inter.toDouble /
        (adj(x).size + adj(y).size - inter)) < 1e-6)
    }
    assert(got.nonEmpty && got.map(_._3).toSeq == got.map(_._3).toSeq.sorted.reverse)
  }

  test("X132: knn graph edges equal per-query brute force; mutual = reverse edge present") {
    val k = 5
    // knnGraphExact is the recall-1 baseline this test pins against
    // brute force
    val got = Similarity.knnGraphExact(emb, k).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getBoolean(4)))
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val expectEdges = vecs.keys.flatMap { q =>
      vecs.keys.filter(_ != q).map(c => (q, c, cosine(vecs(q), vecs(c))))
        .toSeq.sortBy { case (_, c, s) => (-s, c) }.take(k).zipWithIndex
        .map { case ((_, c, _), i) => (q, (i + 1).toLong, c) }
    }.toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == expectEdges && got.nonEmpty)
    val edgeSet = got.map(t => (t._1, t._3)).toSet
    got.foreach { case (q, _, c, m) =>
      assert(m == edgeSet.contains((c, q)), s"mutual flag wrong for ($q,$c)")
    }
    assert(got.exists(_._4) && got.exists(!_._4),
      "test corpus should have both mutual and one-way edges")
  }

  test("X132 banded route: DEFAULT SRP candidates, exact scores, bounded recall loss") {
    val k = 5
    val exact = Similarity.knnGraphExact(emb, k).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val banded = Similarity.knnGraphBanded(emb, k) // default band geometry
    val rows = banded.collect()
    assert(banded.columns.toSeq ==
      Seq("q_id", "rank", "c_id", "score", "mutual"), "route must keep the schema")
    // every banded edge's score is the TRUE cosine (rerank is exact)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3) - cosine(vecs(r.getLong(0)), vecs(r.getLong(2)))) < 1e-9)
    }
    // mutual flag is internally consistent on the banded edge set
    val edgeSet = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    rows.foreach { r =>
      assert(r.getBoolean(4) == edgeSet.contains((r.getLong(2), r.getLong(0))))
    }
    // recall vs the exact graph: missed edges are pairs agreeing on no
    // band — bounded, not catastrophic, on the real test embeddings
    val hit = exact.count(e => edgeSet.contains(e))
    val recall = hit.toDouble / exact.length
    assert(recall >= 0.5, s"banded kNN recall $recall collapsed (< 0.5)")
    // and within each query's list ranks are 1..m contiguous
    rows.groupBy(_.getLong(0)).foreach { case (q, es) =>
      assert(es.map(_.getInt(1)).sorted.toSeq == (1 to es.length).toSeq, s"ranks broken for $q")
    }
  }

  /** Deterministic clustered corpus for the width-lift specs: n/size
    * clusters, center ~ N(0,1)^dim from a per-cluster seed, member =
    * center + 0.05·N(0,1) noise — within-cluster cosine ≈ 0.995, so a
    * member's true nearest neighbors are its cluster mates. */
  private def clusteredVectors(n: Int, dim: Int, clusterSize: Int) = {
    val rows = (0 until n).map { i =>
      val c = i / clusterSize
      val crnd = new java.util.Random(0x9e3779b97f4a7c15L * (c + 1))
      val center = Array.fill(dim)(crnd.nextGaussian())
      val mrnd = new java.util.Random(0xc0ffeeL * (i + 1) + 17)
      (i.toLong, center.map(x => (x + 0.05 * mrnd.nextGaussian()).toFloat))
    }
    import spark.implicits._
    (rows, spark.sparkContext.parallelize(rows, 8).toDF("vec_id", "embedding"))
  }

  test("X132 autoBandBits: clamp top derives from the signature-bit budget") {
    // budget: bands × bits ≤ 64 (one-Long SRP mask), ceiling 12
    assert(Similarity.autoBandBits(Long.MaxValue, 4) == 12)
    assert(Similarity.autoBandBits(Long.MaxValue, 5) == 12)
    assert(Similarity.autoBandBits(Long.MaxValue, 8) == 8)
    assert(Similarity.autoBandBits(Long.MaxValue, 16) == 4)
    // the ⌊log₂(n DIV 100)⌋ ladder between the clamps
    assert(Similarity.autoBandBits(500, 4) == 2)
    assert(Similarity.autoBandBits(25600, 4) == 8)   // the old hard top
    assert(Similarity.autoBandBits(51200, 4) == 9)   // now past it
    assert(Similarity.autoBandBits(131072, 4) == 10)
    assert(Similarity.autoBandBits(1L << 22, 4) == 12)
    // bands = 8 keeps the old behavior exactly (budget top = 8)
    (1L to 20L).map(1L << _).foreach { n =>
      val top8 = math.max(2, math.min(8,
        63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n / 100))))
      assert(Similarity.autoBandBits(n, 8) == top8, s"n=$n")
    }
  }

  // Slow-tagged (131,072 vectors): excluded from the default gate so
  // `sbt test` stays runnable per-commit; run with GRAFT_SLOW_TESTS=1.
  test("X132 width lift at 131k vectors: pinned 8-bit banding sheds " +
    "~90% of the index (the recall-collapse disease); the lifted auto " +
    "width keeps it alive", Slow) {
    val n = 131072
    // dim 64 (the real embedding width) and UNclustered vectors:
    // bucket survival is a property of the occupancy distribution, and
    // at 64 dims the ±1 planes are near-orthogonal so sign patterns
    // are close to uniform — at toy dims (16) plane correlations fatten
    // the tails enough to blur the cap contrast this test pins
    val (_, df) = clusteredVectors(n, 64, 1)
    val dfc = df.persist()
    try {
      val maxBucket = 256
      def survivingMembers(planes: Int): Long = {
        val counts = Similarity.srpBanded(dfc, "embedding", "vec_id", planes, 4)
          .groupBy(col("band"), col("bhash")).count()
        val kept = counts.where(col("count") >= 2 && col("count") <= maxBucket)
          .agg(coalesce(sum(col("count")), lit(0L))).head().getLong(0)
        kept
      }
      // OLD top: 8 bits/band → 256 buckets/band, expected occupancy
      // 131072/256 = 512 ≫ maxBucket — the guard sheds the bulk of the
      // index (measured ~90% of member slots on this fixture; SRP sign
      // patterns of Gaussian centers aren't uniform, so a minority of
      // systematically-small buckets still squeak under the cap — the
      // index is crippled, not empty)
      val pinned = survivingMembers(32)
      // NEW: the ladder selects 10 bits → 1024 buckets/band, expected
      // occupancy 128 — comfortably under the cap
      assert(Similarity.autoBandBits(n, 4) == 10)
      val auto = survivingMembers(40)
      val slots = 4L * n // (band, member) slots
      // measured on this fixture: pinned keeps ~10% of slots, auto
      // ~80% (the remaining ~20% is the occupancy distribution's
      // genuine upper tail above the cap — skew shedding, by design)
      assert(pinned <= slots / 4,
        s"pinned 8-bit width should shed most of the index " +
          s"(survivors $pinned of $slots)")
      assert(auto >= slots * 3 / 4,
        s"auto width must keep the index alive (survivors $auto of $slots)")
    } finally dfc.unpersist()
  }

  // Slow-tagged (51,200 vectors + a driver-side exact ground truth)
  test("X132 width lift end-to-end: banded kNN recall survives past the " +
    "old 8-bit ceiling (n = 51200 → 9 bits), bounded loss vs exact", Slow) {
    val n = 51200
    assert(Similarity.autoBandBits(n, 4) == 9, "fixture must sit past the old top")
    val (rows, df) = clusteredVectors(n, 16, 8)
    val k = 3
    val banded = Similarity.bandedSelfTopK(df, k, numPlanes = 0, bands = 4,
        maxBucket = 500)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact ground truth for a deterministic query sample, computed
    // independently on the driver from the same arrays
    val vecs = rows.toMap
    val queries = (0 until 64).map(_ * (n / 64) + 3L)
    val recalls = queries.map { q =>
      val qv = vecs(q)
      val top = vecs.iterator.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(qv, v)) }
        .toSeq.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
      val got = banded.getOrElse(q, Set.empty)
      top.count(got).toDouble / k
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8,
      s"banded recall@$k $mean collapsed past the old clamp top (< 0.8)")
  }
}
