package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, Decontaminate, Sampling, TextStats}

/** Round-4 pipeline operators: dedup clustering, decontamination,
  * deterministic sampling, n-gram repetition stats. */
class PipelineOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  // ---- connected components -------------------------------------------

  /** Brute-force union-find twin for the components oracle. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("components matches union-find on a mixed graph (chain, triangle, singles)") {
    import spark.implicits._
    def check(edges: Seq[(Long, Long)]) =
      assert(bothRoutes(edges.toDF("id1", "id2")) == ufComponents(edges.filter { case (a, b) => a != b }))
    // a 6-node path (worst case for plain propagation), a triangle,
    // an isolated pair, ids deliberately out of order
    check(Seq((10L, 9L), (9L, 8L), (8L, 7L), (7L, 6L), (6L, 5L),
      (20L, 22L), (22L, 21L), (21L, 20L), (30L, 31L)))
    check(Seq((4L, 3L), (2L, 3L), (1L, 2L), (5L, 4L)))                      // path, ids out of order
    check((1L to 9L).map(i => (100L, 100L + i)))                            // star, hub is the min
    check((1L to 9L).map(i => (200L - i, 200L)))                            // star, hub is the max
    check(for (i <- 300L to 305L; j <- 300L to 305L if i < j) yield (i, j)) // clique
    check((0L until 63L).map(i => (1063L - i, 1062L - i)))                  // 64-node chain
    check(Seq((5L, 5L), (6L, 6L)))                                          // self-loops only
    check(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L), (8L, 7L), (8L, 7L), (9L, 9L)))
    check(Seq.empty)                                                        // same schema, zero rows
  }

  test("components loop converges within 10 rounds on a 64-node ascending-id path") {
    import spark.implicits._
    // 64-node path: plain 1-hop propagation needs 63 rounds; pointer
    // jumping must finish well inside maxRounds=10 (a graph this small
    // would take the driver finish, which has no rounds)
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = onCcLoop(ConnectedComponents.components(edges.toDF("id1", "id2"), maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(got.size == 64 && got.values.forall(_ == 0L),
      s"path must collapse to component 0: ${got.toSeq.sortBy(_._1).take(8)}...")
  }

  test("the components loop never returns unconverged labels (256-node path, scrambled ids)") {
    import spark.implicits._
    // a prime-modulus scramble: ids neither grow nor shrink along the
    // path, so the min-label loop needs far more than its 25-round cap;
    // labels at the cap are not component minima
    val ids = (0L until 256L).map(i => (i * 2654435761L) % 1000003L)
    val edges = ids.zip(ids.tail)
    scala.util.Try(onCcLoop(ConnectedComponents.components(edges.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)) match {
      case scala.util.Success(got) =>
        val want = ufComponents(edges)
        val wrong = want.count { case (id, comp) => !got.get(id).contains(comp) }
        assert(got.size == want.size && wrong == 0, s"$wrong of ${want.size} labels are not component minima")
      case scala.util.Failure(e: IllegalStateException) =>
        assert(e.getMessage.contains("did not converge in 25 rounds"), e.getMessage)
      case scala.util.Failure(e) => throw e
    }
  }

  /** `components` and `clusters` through the driver finish (default
    * threshold) and through the distributed loop (threshold -1): same
    * routes taken as asked, same schema (names, types, nullability),
    * same rows, and the clusters are the labels grouped with their
    * members ascending. Returns the labels. */
  private def bothRoutes(edges: DataFrame): Map[Long, Long] = {
    def run(df: => DataFrame) = {
      val d = df
      (d.queryExecution.logical, d.schema, d.collect().toSet)
    }
    val (driverPlan, driverSchema, driver) = run(ConnectedComponents.components(edges))
    val (loopPlan, loopSchema, loop) = onCcLoop(run(ConnectedComponents.components(edges)))
    assert(driverPlan.isInstanceOf[LocalRelation], driverPlan.nodeName)
    assert(loopPlan.isInstanceOf[LogicalRDD], loopPlan.nodeName)
    assert(driverSchema == loopSchema)
    assert(driver == loop)
    val (clDriverPlan, clDriverSchema, clDriver) = run(ConnectedComponents.clusters(edges))
    val (clLoopPlan, clLoopSchema, clLoop) = onCcLoop(run(ConnectedComponents.clusters(edges)))
    assert(clDriverPlan.isInstanceOf[LocalRelation], clDriverPlan.nodeName)
    assert(!clLoopPlan.isInstanceOf[LocalRelation], clLoopPlan.nodeName)
    assert(clDriverSchema == clLoopSchema)
    assert(clDriver == clLoop)
    val labels = driver.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clDriver == labels.groupBy(_._2).map { case (comp, members) =>
      Row(comp, members.size.toLong, members.keys.toSeq.sorted.mkString(","))
    }.toSet)
    labels
  }

  test("components and clusters: multigraph inputs agree across routes and with union-find") {
    import spark.implicits._
    // every pair repeated in both orientations, plus self-loops: the
    // raw pair count the route reads is four times the pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    val multi = pairs.flatMap { case (a, b) => Seq((a, b), (b, a), (a, b), (b, a)) } ++
      Seq((3L, 3L), (9L, 9L))
    assert(bothRoutes(multi.toDF("id1", "id2")) == ufComponents(pairs))
    // int-typed ids with NULLs, repeats and a self-loop
    val ints = Seq[(Option[Int], Option[Int])]((Some(2), Some(1)), (Some(1), Some(2)), (Some(2), Some(1)),
      (None, Some(1)), (Some(4), None), (None, None), (Some(5), Some(5)), (Some(5), Some(6)), (Some(6), Some(5)))
      .toDF("id1", "id2")
    assert(bothRoutes(ints) == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    // only one column nullable: the id column is nullable on both routes
    val oneNullable = Seq[(Long, Option[Long])]((2L, Some(1L)), (3L, None), (2L, Some(1L))).toDF("id1", "id2")
    assert(bothRoutes(oneNullable) == Map(1L -> 1L, 2L -> 1L))
    assert(bothRoutes(Seq.empty[(Int, Int)].toDF("id1", "id2")).isEmpty)
  }

  test("clusters on the driver route runs no shuffle and no query of its own") {
    import spark.implicits._
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val sc = spark.sparkContext
    val group = s"cc-driver-route-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val shuffleWrite = new AtomicLong()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && group == j.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet()
          j.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          shuffleWrite.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "clusters on the driver route")
    val (plan, rows) = try {
      val cl = ConnectedComponents.clusters(edges)
      val rows = cl.collect()
      org.apache.spark.graft.SparkInternals.waitListenerBusEmpty(sc)
      (cl.queryExecution.logical, rows)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(shuffleWrite.get == 0, s"${shuffleWrite.get} shuffle bytes written")
    assert(jobs.get <= 2, s"${jobs.get} jobs: the fence and its collect are all it needs")
    assert(plan.isInstanceOf[LocalRelation], plan.nodeName)
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq ==
      Seq((1L, 3L, "1,2,3"), (5L, 2L, "5,6")))
  }

  test("components: NULL ids and int-typed ids take both routes alike") {
    import spark.implicits._
    val withNulls = Seq[(Option[Long], Option[Long])]((Some(1L), None), (None, Some(2L)), (None, None),
      (Some(4L), Some(3L)), (Some(4L), Some(5L))).toDF("id1", "id2")
    assert(bothRoutes(withNulls) == Map(3L -> 3L, 4L -> 3L, 5L -> 3L))
    val ints = Seq((2, 1), (2, 3), (11, 10), (7, 7)).toDF("id1", "id2")
    assert(bothRoutes(ints) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components: a threshold raised above the fixed cap still sends larger graphs to the loop") {
    import ConnectedComponents.{DriverFinishMaxBytes => cap, driverFinish}
    val capRows = cap / 24
    val oneGb = 1L << 30
    assert(driverFinish(capRows, oneGb) && !driverFinish(capRows + 1, oneGb))
    assert(driverFinish(1000, 24000) && !driverFinish(1001, 24000)) // a lower threshold binds
    assert(!driverFinish(0, -1))
    // end to end at a 1 GB threshold: a small graph stays on the
    // driver, pairs one edge past the cap run the loop
    import spark.implicits._
    val small = withBroadcastThreshold(oneGb)(ConnectedComponents.components(Seq((2L, 1L)).toDF("id1", "id2")))
    assert(small.queryExecution.logical.isInstanceOf[LocalRelation])
    val pairs = capRows / 2 + 1 // 2 × pairs directed edges > capRows
    val large = withBroadcastThreshold(oneGb)(ConnectedComponents.components(
      spark.range(pairs).select((col("id") * 2).as("id1"), (col("id") * 2 + 1).as("id2"))))
    assert(large.queryExecution.logical.isInstanceOf[LogicalRDD], large.queryExecution.logical.nodeName)
    val Array(labels) = large.agg(count(lit(1)), sum(col("id") - col("comp"))).collect()
    assert(labels.getLong(0) == 2 * pairs && labels.getLong(1) == pairs)
  }

  test("clusters + dropClustered keep exactly one doc per near-dup group") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    onBothCcRoutes {
      val kept = ConnectedComponents.dropClustered(docs, edges)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(1L, 4L, 5L), s"got $kept")
      val cl = ConnectedComponents.clusters(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
      assert(cl.toSeq == Seq((1L, 3L, "1,2,3"), (5L, 2L, "5,6")))
    }
  }

  // ---- decontamination -------------------------------------------------

  test("decontaminate drops docs sharing an n-gram with the benchmark, keeps the rest") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox jumps over something"), // 5-gram overlap
      (2L, "totally unrelated text with enough tokens to shingle fine"),
      (3L, "fox jumps over the lazy dog said the announcer yesterday")    // 5-gram overlap
    ).toDF("doc_id", "text")
    val hits = Decontaminate.contaminationHits(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(1L, 3L), s"got $hits")
    assert(hits.values.forall(_ >= 1L))
    val clean = Decontaminate.decontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(clean == Seq(2L))
  }

  test("X171: skipgram counts equal the brute force over window-2 pairs") {
    import spark.implicits._
    val df = Seq((1L, "a b c a b"), (2L, "b c d")).toDF("doc_id", "text")
    val got = TextStats.skipgrams(df, window = 2, k = 100).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val brute = Seq("a b c a b", "b c d").flatMap { t =>
      val w = t.split(" ")
      w.indices.flatMap(i => (i + 1 to math.min(i + 2, w.length - 1)).map(j => (w(i), w(j))))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == brute, s"\ngot:   $got\nbrute: $brute")
  }

  test("negative sampling: md5-chain draws resolved by rank, verified, deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val got = Sampling.negativeSample(emb, k = 4, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // verification gate: every surviving draw is a TRUE negative
    assert(got.forall(_._4 < 0.5) && got.forall(t => t._1 != t._3))
    assert(got.forall(t => t._2 >= 0 && t._2 < 4))
    // brute-force the candidate chain for a few anchors
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val byRank = ids.zipWithIndex.map { case (id, r) => r.toLong -> id }.toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val gotSet = got.map(t => (t._1, t._2, t._3)).toSet
    ids.take(5).foreach { a =>
      (0 until 4).foreach { j =>
        val rank = java.lang.Long.parseLong(md5hex(s"neg:$a:$j").take(8), 16) % ids.length
        val neg = byRank(rank)
        if (neg != a && gotSet.exists(t => t._1 == a && t._2 == j))
          assert(gotSet.contains((a, j.toLong, neg)), s"anchor $a draw $j should hit $neg")
      }
    }
    // deterministic across runs
    val again = Sampling.negativeSample(emb, k = 4, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSet == again.toSet)
  }

  test("semantic decontamination: planted paraphrase vector flagged, orthogonal ones kept") {
    import spark.implicits._
    // bench = one unit vector along dim 0; train: id 1 ≈ bench
    // (cos ≈ 0.999), id 2 orthogonal, id 3 anti-parallel
    def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val bench = Seq((100L, vec(1, 0, 0, 0))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, vec(0.999, 0.04, 0, 0)),
      (2L, vec(0, 0, 1, 0)),
      (3L, vec(-1, 0, 0, 0))).toDF("vec_id", "embedding")
    val got = Decontaminate.semanticHits(train, bench, tau = 0.3)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(got(1L)._2 && got(1L)._1 > 0.99)
    assert(!got(2L)._2 && math.abs(got(2L)._1) < 1e-9)
    assert(!got(3L)._2 && got(3L)._1 == -1.0)
    // report covers EVERY train vector, contaminated or not
    assert(got.keySet == Set(1L, 2L, 3L))
  }

  test("semantic decontamination benchmark side broadcasts; train never shuffles vectors") {
    val e = Tables.embeddings(spark, sf)
    val plan = Decontaminate.semanticHits(
        e.where(col("vec_id") % 23 =!= 0), e.where(col("vec_id") % 23 === 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side must broadcast:\n$plan")
  }

  test("decontamination corpus side never shuffles document rows (broadcast probe)") {
    val docs = Tables.documents(spark, sf)
    val bench = docs.where(col("doc_id") % 17 === 0)
    val plan = Decontaminate.contaminationHits(docs, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$plan")
  }

  test("bloom-prefiltered decontamination is result-identical to the exact path") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.where(col("doc_id") % 17 =!= 0)
    val bench = docs.where(col("doc_id") % 17 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(rows(Decontaminate.contaminationHitsBloom(corpus, bench)) ==
      rows(Decontaminate.contaminationHits(corpus, bench)))
    // and the kept-corpus agrees too
    val keptBloom = Decontaminate.decontaminateBloom(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptExact = Decontaminate.decontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptBloom == keptExact)
  }

  test("bloom path probes the sketch pre-exchange and never broadcasts the exact set") {
    val docs = Tables.documents(spark, sf)
    val plan = Decontaminate.contaminationHitsBloom(
        docs.where(col("doc_id") % 17 =!= 0), docs.where(col("doc_id") % 17 === 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"Bloom probe missing:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"exact verify must stay a shuffled join (the sketch replaces the broadcast):\n$plan")
  }

  test("empty benchmark -> zero contamination, corpus passes through") {
    import spark.implicits._
    val corpus = Seq((1L, "some words here for a doc")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Decontaminate.contaminationHitsBloom(corpus, bench).count() == 0L)
    assert(Decontaminate.decontaminateBloom(corpus, bench).count() == 1L)
  }

  // ---- sampling --------------------------------------------------------

  test("hashRateSample is deterministic, rate-accurate, and partition-invariant") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val a = Sampling.hashRateSample(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashRateSample(docs.repartition(13), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must not depend on partitioning")
    val n = docs.count().toDouble
    assert(a.size > n * 0.2 && a.size < n * 0.4,
      s"rate 0.3 sample of $n rows returned ${a.size}")
    // nested sampling property of threshold sampling: a 10% sample is
    // a subset of a 30% sample
    val c = Sampling.hashRateSample(docs, "doc_id", 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(c.subsetOf(a), "samples must nest by rate")
  }

  test("mixtureSample keeps per-stratum rates, nests, and preserves rate-1.0 strata") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val sampled = Sampling.mixtureSample(docs, "source", "doc_id",
      Map("src0" -> 1.0, "src1" -> 0.5), defaultRate = 0.0)
    val got = sampled.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet.subsetOf(Set("src0", "src1")), s"rate-0 strata must vanish: $got")
    assert(got("src0") == 25L, "rate 1.0 keeps every row")
    assert(got.getOrElse("src1", 0L) > 5L && got("src1") < 20L,
      s"rate 0.5 of 25 rows should keep roughly half: $got")
    // nesting: the 0.5 sample of src1 is a subset of its full stratum
    // and equals hashRateSample at the same rate
    val direct = Sampling.hashRateSample(docs.where(col("source") === "src1"), "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaMixture = sampled.where(col("source") === "src1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(direct == viaMixture)
  }

  test("stratifiedQuota returns min(quota, stratum size) rows per stratum, deterministically") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val q = Sampling.stratifiedQuota(docs, "source", "doc_id", 20)
    val sizes = q.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == full.map { case (k, v) => k -> math.min(v, 20L) })
    val ids1 = q.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.stratifiedQuota(docs.repartition(7), "source", "doc_id", 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "quota selection must be deterministic")
  }

  test("weightedSample matches the A-Res formula brute-forced, and is partition-invariant") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val got = Sampling.weightedSample(docs, "doc_id", "n_chars", 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // brute force: same md5-prefix u, ln(u)/w ranking, top 50
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = rows.filter(_._2 > 0).map { case (id, w) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / 4294967296.0
      (math.log(u) / w, id)
    }.sortBy { case (k, id) => (-k, id) }.take(50).map(_._2).toSet
    assert(got == expect)
    val again = Sampling.weightedSample(docs.repartition(11), "doc_id", "n_chars", 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got, "weighted sample must be partition-invariant")
    // weighting matters: heavier docs are over-represented vs uniform
    val sampledAvgW = rows.toMap.view.filterKeys(got).values.sum.toDouble / got.size
    val corpusAvgW = rows.map(_._2).sum.toDouble / rows.length
    assert(sampledAvgW > corpusAvgW, "weighted sample should skew toward heavy rows")
  }

  // ---- repetition stats ------------------------------------------------

  test("ngramRepetition flags the boilerplate doc, not the clean one") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"),       // bigram 'buy now' dominates
      (2L, "each word here appears only once total")
    ).toDF("doc_id", "text")
    val got = TextStats.ngramRepetition(docs)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // doc 1: 7 bigrams, 'buy now' ×4, 'now buy' ×3 → top 4/7, dup 1 - 2/7
    assert(got(1L)._1 > 0.5 && got(1L)._2 > 0.5, s"got ${got(1L)}")
    assert(got(2L)._1 < 0.2 && got(2L)._2 == 0.0, s"got ${got(2L)}")
  }

  test("tfidfTopTerms ranks a unique term above corpus-wide terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared shared shared zebra"),
      (2L, "shared shared shared"),
      (3L, "shared shared shared")
    ).toDF("doc_id", "text")
    val got = TextStats.tfidfTopTerms(docs, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val doc1 = got.filter(_._1 == 1L).sortBy(_._2)
    // zebra: tf 1, df 1 → 1 * 4/2 = 2.0; shared: tf 3, df 3 → 3 * 4/4 = 3.0
    assert(doc1.map(_._3).toSeq == Seq("shared", "zebra"), doc1.toSeq.toString)
    assert(doc1.map(_._4).toSeq == Seq(3.0, 2.0))
    // docs 2/3 only contain 'shared' → exactly one ranked term each
    assert(got.count(_._1 == 2L) == 1 && got.count(_._1 == 3L) == 1)
  }

  test("unigramLogLoss: rare-token docs score higher than common-token docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "rare1 rare2 rare3 rare4")
    ).toDF("doc_id", "text")
    val byId = TextStats.unigramLogLoss(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus: 8 tokens; common ×4 → p=0.5, each rare ×1 → p=0.125
    assert(math.abs(byId(1L)._2 - (-math.log(0.5))) < 1e-4)
    assert(math.abs(byId(2L)._2 - (-math.log(0.125))) < 1e-4)
    assert(byId(2L)._2 > byId(1L)._2)
    assert(byId(1L)._1 == 4L && byId(2L)._1 == 4L)
  }

  test("bigramLogLoss matches the hand-computed MLE conditional NLL") {
    import spark.implicits._
    // corpus bigrams: doc1 "x y x y x z" -> xy, yx, xy, yx, xz;
    // doc2 "x y" -> xy; doc3 has no bigrams.
    // counts: c(xy)=3, c(yx)=2, c(xz)=1; contexts: x=4, y=2
    // -> p(y|x)=3/4, p(z|x)=1/4, p(x|y)=1
    val docs = Seq(
      (1L, "x y x y x z"),
      (2L, "x y"),
      (3L, "solo")
    ).toDF("doc_id", "text")
    val got = TextStats.bigramLogLoss(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = -(2 * math.log(3.0 / 4) + 2 * math.log(1.0) + math.log(1.0 / 4)) / 5
    val d2 = -math.log(3.0 / 4)
    assert(got(1L)._1 == 5L && got(2L)._1 == 1L)
    assert(math.abs(got(1L)._2 - r4(d1)) < 1e-9, s"${got(1L)} vs $d1")
    assert(math.abs(got(2L)._2 - r4(d2)) < 1e-9, s"${got(2L)} vs $d2")
    // no-bigram docs report the 0/0.0 sentinel, not a dropped row
    assert(got(3L) == ((0L, 0.0)))
    // the doc with the rare continuation (xz) scores strictly higher
    assert(got(1L)._2 > got(2L)._2)
  }

  test("collocations: a bound phrase outranks a frequent-but-independent pair") {
    import spark.implicits._
    // 'new york' always together; 'the'+'cat' frequent but independent
    val phrase = Seq.fill(6)("new york").mkString(" the cat sat ")
    val indep = "the dog the bird cat the fish cat mouse the cat horse"
    val docs = Seq((1L, phrase), (2L, indep), (3L, indep)).toDF("doc_id", "text")
    val got = TextStats.collocations(docs, minCount = 3, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.head._1 == "new york", s"got ${got.toSeq}")
    assert(got.head._3 > 0, "bound phrase must have positive PMI")
  }

  test("reservoirPerGroup: exactly k per group, deterministic, partition-invariant") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (s"g${i % 3}", i)).toDF("lang", "doc_id")
    val a = Sampling.reservoirPerGroup(df, "lang", "doc_id", 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(a.groupBy(_._1).forall(_._2.length == 7))
    val b = Sampling.reservoirPerGroup(df.repartition(13), "lang", "doc_id", 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(a.toSeq == b.toSeq, "sample must not depend on partitioning")
    // a group smaller than k yields the whole group
    val tiny = Seq(("g", 1L), ("g", 2L)).toDF("lang", "doc_id")
    assert(Sampling.reservoirPerGroup(tiny, "lang", "doc_id", 7).count() == 2)
  }

  // ---- scrubbing -------------------------------------------------------

  test("scrubText replaces urls, emails, and digit runs with typed tokens") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val df = Seq(
      "contact bob@example.com or visit https://x.io/p?q=1 room 42"
    ).toDF("text")
    val out = df.select(TextFunctions.scrubText(col("text"))).head.getString(0)
    assert(out == "contact <EMAIL> or visit <URL> room <NUM>", out)
    val counts = df.select(
      TextFunctions.countMatches(col("text"), TextFunctions.EmailPattern),
      TextFunctions.countMatches(col("text"), TextFunctions.UrlPattern)).head
    assert(counts.getInt(0) == 1 && counts.getInt(1) == 1)
  }

  test("normalizeText lowercases, collapses whitespace, trims") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val out = Seq("  Hello   WORLD\t\tfoo \n").toDF("t")
      .select(TextFunctions.normalizeText(col("t"))).head.getString(0)
    assert(out == "hello world foo", s"'$out'")
  }

  // ---- sequence packing ------------------------------------------------

  test("prefixSum equals the single-partition cumulative sum regardless of partitioning") {
    import spark.implicits._
    import graft.operators.Packing
    val docs = (0L until 500L).map(i => (i, 1L + (i * 7) % 40)).toDF("doc_id", "n_tok")
    val expected = docs.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, t)) => (id, t, cum + t) }
      .drop(1).map { case (id, t, cumIncl) => id -> (cumIncl - t) }.toMap
    for (parts <- Seq(1, 4, 13)) {
      val got = withConf("spark.sql.shuffle.partitions", parts.toString) {
        Packing.assignSequences(docs.repartition(17), "n_tok", budget = 100)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      }
      assert(got == expected, s"prefix sum wrong at $parts range partitions")
    }
  }

  test("prefixSum is consistent across its two internal consumers at sampling scale") {
    import spark.implicits._
    import graft.operators.Packing
    // regression: RangePartitioner re-samples boundaries per job, and
    // the prefix sum's totals-collect and output pass are separate jobs —
    // without materializing the ranged cumsum once, a 50k-row input
    // could pair partition totals with the wrong partitions (caught at
    // sf0.1 by the DuckDB oracle: starts off by one boundary's worth)
    val docs = spark.range(0, 50000).select(col("id").as("doc_id"),
      (col("id") % 37 + 1).as("n_tok"))
    val got = Packing.assignSequences(docs, "n_tok", budget = 100)
    val rows = got.orderBy("id").collect()
    var cum = 0L
    rows.foreach { r =>
      assert(r.getLong(2) == cum, s"start mismatch at id ${r.getLong(0)}")
      cum += r.getLong(1)
    }
  }

  test("assignSequences packs contiguous runs within the token budget") {
    import spark.implicits._
    import graft.operators.Packing
    val docs = Seq((1L, 30L), (2L, 40L), (3L, 50L), (4L, 10L), (5L, 100L), (6L, 5L))
      .toDF("doc_id", "n_tok")
    val got = Packing.assignSequences(docs, "n_tok", budget = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // starts: 0,30,70,120,130,230 → seqs 0,0,0,1,1,2
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 2L), s"$got")
    val summary = Packing.packSummary(docs, "n_tok", 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(summary == Seq((0L, 3L, 120L), (1L, 2L, 110L), (2L, 1L, 5L)))
  }

  test("prefixSum plan has no global-order window (per-partition windows only)") {
    import graft.operators.Packing
    val docs = Tables.documents(spark, sf)
    val plan = Packing.assignSequences(docs, "n_chars", budget = 100)
      .queryExecution.executedPlan.toString
    // a global-order cumsum plans Window over an empty partition spec
    // preceded by a single-partition Exchange — the 100 TB trap this
    // operator exists to avoid
    assert(!plan.contains("SinglePartition"), s"global window detected:\n$plan")
  }

  // ---- incremental dedup ----------------------------------------------

  test("embeddingPairsIncremental finds batch-vs-corpus pairs and only those") {
    import graft.operators.Dedup
    val e = Tables.embeddings(spark, sf)
    val corpus = e.where(col("vec_id") % 4 =!= 0)
    val batch = e.where(col("vec_id") % 4 === 0)
    val inc = Dedup.embeddingPairsIncremental(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pair crosses the batch/corpus boundary
    assert(inc.forall { case (n, o) => n % 4 == 0 && o % 4 != 0 })
    // and matches the full-pairs run restricted to crossing pairs
    val full = Dedup.embeddingPairs(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossing = full.collect {
      case (a, b) if a % 4 == 0 && b % 4 != 0 => (a, b)
      case (a, b) if b % 4 == 0 && a % 4 != 0 => (b, a)
    }
    assert(inc == crossing, s"inc=$inc expected=$crossing")
  }

  // ---- end-to-end pipeline --------------------------------------------

  test("pipeline_e2e composes: every packed doc survived dedup+decontam+quality") {
    val packed = SparkEntry.queries("pipeline_e2e")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(packed.nonEmpty)
    val nDocs = packed.map(_.getLong(1)).sum
    val total = Tables.documents(spark, "/root/testdata/sf0.01").count()
    assert(nDocs < total, "some docs must be filtered by the pipeline")
    // sequences are contiguous, non-overlapping id ranges
    val ranges = packed.map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, _, lastA), (_, firstB, _)) => assert(lastA < firstB)
      case _ =>
    }
  }

  // ---- fixed-centroid IVF ---------------------------------------------

  test("ivfFixedTopK is a pure dataflow with sane recall vs brute force") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf)
    val q = e.where(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(q, e, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val fixed = Similarity.ivfFixedTopK(q, e, 10, numCells = 16, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(fixed.nonEmpty)
    val recall = (exact & fixed).size.toDouble / exact.size
    assert(recall >= 0.4, f"recall vs brute force too low: $recall%.2f")
  }
}
