package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Scan}

class DedupSpec extends AnyFunSuite {
  import SparkTestSession._

  private def docs = Tables.documents(spark, sf)

  /** Brute-force word-3-gram set Jaccard, recomputed independently of
    * the library's shingle/hash machinery. */
  private def shingleSet(text: String, n: Int = 3): Set[String] = {
    val t = text.split("\\s+").filter(_.nonEmpty)
    if (t.length < n) Set(t.mkString(" "))
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  private lazy val texts: Map[Long, String] =
    docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("cross-source matrix: cells recount the verified pair stream") {
    val pairs = Dedup.minhashLshPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val src = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = pairs.map { case (a, b) =>
        val (x, y) = (src(a), src(b))
        if (x <= y) (x, y) else (y, x)
      }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Dedup.crossSourcePairs(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(expect.nonEmpty, "want near-dup pairs across sources in testdata")
    assert(got == expect)
    assert(got.values.sum == pairs.length, "every pair lands in exactly one cell")
  }

  test("substring dedup matches the brute-force span inventory + interval union") {
    val L = 6
    val got = Dedup.substringDedup(docs, spanLen = L).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap

    val toks: Map[Long, Array[String]] =
      texts.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty) }
    // corpus-wide inventory of every overlapping L-gram location
    val locs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    toks.values.foreach(t => t.sliding(L).withFilter(_.length == L)
      .foreach(g => locs(g.mkString(" ")) += 1))
    val expect = toks.map { case (id, t) =>
      val starts = t.sliding(L).zipWithIndex
        .collect { case (g, i) if g.length == L && locs(g.mkString(" ")) > 1 => i }
        .toArray
      // exact interval union of [s, s+L-1]
      val covered = starts.flatMap(s => s until (s + L)).distinct.length.toLong
      val frac = if (t.isEmpty) 0.0
        else BigDecimal(covered.toDouble / t.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      id -> ((t.length.toLong, starts.length.toLong, covered, frac))
    }
    assert(got == expect)
    assert(expect.values.exists(_._2 > 0), "planted near-dups should share spans")
    assert(expect.values.exists(v => v._2 == 0),
      "some docs should be span-clean at L=6")
  }

  test("semantic dedup matches the brute-force cluster-then-dedup rule") {
    val emb = Tables.embeddings(spark, sf)
    val got = Dedup.semanticDedup(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

    val vecs: Map[Long, Array[Double]] = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = operators.Similarity.fixedCentroids(16, 64)
    // assignment ties break to the HIGHEST cell, like assignCells
    val cell: Map[Long, Long] = vecs.map { case (id, v) =>
      id -> cents.zipWithIndex.map { case (c, i) => (cos(v, c), i) }.max._2.toLong
    }
    val expect = vecs.keys.map { id =>
      val dropped = vecs.keys.exists(o =>
        o < id && cell(o) == cell(id) && cos(vecs(o), vecs(id)) >= 0.35)
      (id, cell(id), dropped)
    }.toSet
    assert(got == expect)
    assert(got.exists(_._3), "testdata's planted near-dups should drop something")
    // the lowest id of every cell can never be dropped
    got.groupBy(_._2).values.foreach { rows =>
      assert(!rows.minBy(_._1)._3, "cell minimum must survive")
    }
  }

  private lazy val bruteForcePairs: Set[(Long, Long, Double)] = {
    val ids = texts.keys.toArray.sorted
    val sets = texts.map { case (id, t) => id -> shingleSet(t) }
    (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      s1 = sets(ids(i)); s2 = sets(ids(j))
      inter = (s1 & s2).size if inter > 0
      jac = inter.toDouble / (s1 | s2).size if jac >= 0.8
    } yield (ids(i), ids(j), jac)).toSet
  }

  test("L1: exact dedup keeps the lowest id per content group") {
    import spark.implicits._
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa"), (5L, "cc"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropExactDuplicates(df).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 5L))
    val groups = Dedup.exactGroups(df).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((3L, 1L), (1L, 2L), (1L, 5L)))
  }

  test("L2: MinHash+LSH finds the planted near-dup pairs with high recall, zero false accepts") {
    val found = Dedup.minhashLshPairs(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val foundPairs = found.map(p => (p._1, p._2)).toSet
    val truth = bruteForcePairs.map(p => (p._1, p._2))
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    // precision is exact by construction (verified Jaccard filter)
    found.foreach { case (id1, id2, jac) =>
      val expected = {
        val s1 = shingleSet(texts(id1)); val s2 = shingleSet(texts(id2))
        (s1 & s2).size.toDouble / (s1 | s2).size
      }
      assert(math.abs(jac - expected) < 1e-9, s"jaccard mismatch for ($id1,$id2)")
    }
    val recall = (foundPairs & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 (|truth|=${truth.size})")
  }

  test("L3: SimHash bands have recall 1.0 within the Hamming budget (pigeonhole)") {
    import graft.functions.TextFunctions
    val sims = docs.select(col("doc_id"),
        TextFunctions.simhash(TextFunctions.tokens(col("text"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      i <- sims.indices.iterator
      j <- (i + 1) until sims.length
      h = java.lang.Long.bitCount(sims(i)._2 ^ sims(j)._2) if h <= 3
    } yield (sims(i)._1, sims(j)._1, h)).toSet
    val found = Dedup.simhashPairs(docs, maxHamming = 3, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(found == truth,
      s"banded simhash must find exactly the Hamming<=3 pairs: got ${found.size}, want ${truth.size}")
  }

  test("L4: n-gram Jaccard verification matches set arithmetic") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"),
      (4L, "a b c d x y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id1", "id2")
    val res = Dedup.verifyJaccard(pairs, df).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(res((1L, 2L)) == 1.0)
    assert(res((1L, 3L)) == 0.0)
    // shingles(1) = {abc,bcd,cde,def}; shingles(4) = {abc,bcd,cdx,dxy}; jac = 2/6
    assert(math.abs(res((1L, 4L)) - 2.0 / 6.0) < 1e-9)
  }

  test("L5: embedding near-dup finds planted high-cosine pairs and verifies exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def perturb(v: Array[Float]): Array[Float] = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val base = Seq.fill(20)(vec())
    // ids 0..19 random, 100..104 near-dups of 0..4
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 5).map(i => (100L + i, perturb(base(i))))
    val df = rows.toDF("vec_id", "embedding")
    val found = Dedup.embeddingPairs(df, threshold = 0.95, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    assert(found == expected, s"got $found want $expected")
  }

  test("paragraph dedup: first occurrence survives, repeats drop, reassembly preserves order") {
    import spark.implicits._
    // window=3 paragraphs: doc 1 = [A][B], doc 2 = [A][C] (A repeats),
    // doc 3 = [B] exactly (whole doc is a repeated paragraph)
    val a = "p q r"; val b = "s t u"; val c = "v w x"
    val df = Seq((1L, s"$a $b"), (2L, s"$a $c"), (3L, b)).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(df, window = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((2L, 2L, h(s"$a $b"))), "doc 1 owns both its paragraphs")
    assert(got(2L) == ((2L, 1L, h(c))), "doc 2 keeps only its novel paragraph")
    assert(got(3L) == ((1L, 0L, h(""))), "doc 3 is entirely deduplicated away")
  }

  test("boilerplate removal: df >= minDf paragraphs drop EVERYWHERE, including first occurrence") {
    import spark.implicits._
    // window=3: A appears in docs 1,2,3 (df=3 -> boilerplate), B in
    // docs 1,2 (df=2 -> kept both places), C unique to doc 2
    val a = "p q r"; val b = "s t u"; val c = "v w x"
    val df = Seq((1L, s"$a $b"), (2L, s"$a $b $c"), (3L, a)).toDF("doc_id", "text")
    val got = Dedup.boilerplateRemoval(df, minDf = 3, window = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((2L, 1L, h(b))), "doc 1 loses A (even as first occurrence), keeps B")
    assert(got(2L) == ((3L, 2L, h(s"$b $c"))), "doc 2 keeps B and C in order")
    assert(got(3L) == ((1L, 0L, h(""))), "doc 3 was pure boilerplate")
    // contrast with paragraphDedup: the keep-first policy KEEPS doc 1's A
    val kf = Dedup.paragraphDedup(df, window = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kf(1L) == 2L, "keep-first retains the first occurrence boilerplate drops")
  }

  test("boilerplate removal: two-stage df aggregation, no count-distinct Expand") {
    val plan = Dedup.boilerplateRemoval(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"df must be two stacked aggs, not count(DISTINCT):\n$plan")
  }

  test("paragraph dedup: testdata contains cross-document paragraph repeats") {
    val r = Dedup.paragraphDedup(docs).agg(
      sum(col("n_total")).as("t"), sum(col("n_kept")).as("k")).collect().head
    assert(r.getLong(0) > r.getLong(1),
      "planted duplicate docs should produce dropped paragraphs")
  }

  test("null and empty texts neither crash nor pollute LSH buckets") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]),
      (5L, ""),
      (6L, "")).toDF("doc_id", "text")
    // null-text rows must not form candidate pairs; the two empty
    // strings ARE identical documents, so (5,6) is a true positive
    val mh = Dedup.minhashLshPairs(df, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((1L, 2L), (5L, 6L)), s"got $mh")
    val sh = Dedup.simhashPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // empty strings legitimately share simhash 0 (identical content);
    // null rows must not appear at all
    assert(sh.flatMap(p => Seq(p._1, p._2)).intersect(Set(3L, 4L)).isEmpty)
    assert(sh.contains((1L, 2L)))
    // exact dedup groups nulls and empties separately, keeping min ids
    val kept = Dedup.dropExactDuplicates(df).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("hot buckets are dropped with bounded state and a visible dropped-bucket count") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // 10k identical documents — the degenerate template-text case: all
    // 16 bands hash them into the same bucket, which under a plain
    // collect_list would buffer 10k ids per band before any size cap
    val hot = (0L until 10000L).map(i => (i, "lorem ipsum dolor sit amet " +
      "consectetur adipiscing elit sed do eiusmod tempor"))
    // plus one planted near-dup pair that must survive (one token of
    // twenty differs: jaccard 17/19 ≈ 0.89, band-hit prob ≈ 0.9998)
    val common = (1 to 19).map(i => s"tok$i").mkString(" ")
    val a = common + " kappa"
    val b = common + " lambda"
    val df = (hot ++ Seq((20001L, a), (20002L, b))).toDF("doc_id", "text")

    val pairs = Dedup.minhashLshPairs(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((20001L, 20002L)),
      s"hot-bucket ids must not emit pairs; planted pair must survive: $pairs")

    // the drop is reported, not silent: rebuild the banded table the
    // same way minhashLshPairs does and count overflowed buckets
    val sigs = df.where(col("text").isNotNull).select(
      col("doc_id").cast("long").as("id"),
      TextFunctions.minhashText(col("text"), 3, 128).as("sig"))
    val bandStructs = (0 until 16).map { j =>
      struct(lit(j).as("band"), xxhash64(slice(col("sig"), j * 8 + 1, 8)).as("bhash"))
    }
    val banded = sigs.select(col("id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bhash"))
    val dropped = Dedup.droppedBuckets(banded, maxBucket = 100).collect()
    assert(dropped.length == 16, s"all 16 hot bands must report a dropped bucket: ${dropped.length}")
    dropped.foreach(r => assert(r.getLong(2) == 10000L,
      s"dropped bucket must carry its TRUE size: ${r.getLong(2)}"))
  }

  test("graft_collect_capped: complete sorted list under cap, NULL + true count over it") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (if (i <= 40) "big" else "small", i))
      .toDF("g", "id")
    val out = Dedup.cappedBuckets(
      df.select(col("g").as("band"), lit(0L).as("bhash"), col("id")), 20)
      .collect()
      .map(r => r.getString(0) -> ((Option(r.getSeq[Long](2)), r.getLong(3))))
      .toMap
    val (bigIds, bigN) = out("big")
    assert(bigIds.isEmpty && bigN == 40L, "over-cap group returns NULL ids + true count")
    val (smallIds, smallN) = out("small")
    assert(smallIds.contains((41L to 50L).toSeq) && smallN == 10L,
      "under-cap group returns the complete sorted list")
  }

  test("globalRank matches a single-window row_number and survives repartitioning") {
    val order = Seq(col("n_chars").asc_nulls_last, col("doc_id").asc_nulls_last)
    val ranked = Scan.prefix(docs.select(col("doc_id"), col("n_chars")), None, order, "rank")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expect = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, nc) => (nc, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(ranked == expect)
    val again = Scan.prefix(
        docs.repartition(13).select(col("doc_id"), col("n_chars")), None, order, "rank")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == expect, "rank must be partition-invariant")
  }

  test("sorted-neighborhood pairs: planted adjacent near-dups found, verified exactly") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = Seq(
      (1L, base, base.length.toLong),
      (2L, base + " mu", (base + " mu").length.toLong), // near-dup of 1, close length
      (3L, "completely different words entirely here now yes ok fine sure",
        60L),
      (4L, (1 to 12).map(i => s"x$i").mkString(" "), 50L))
      .toDF("doc_id", "text", "n_chars")
    val pairs = Dedup.sortedNeighborhoodPairs(rows, Seq("n_chars"), window = 3,
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // window semantics: the SNM result on testdata is a subset of the
    // all-pairs Jaccard >= threshold relation (blocking never invents pairs)
    val snm = Dedup.sortedNeighborhoodPairs(docs, Seq("n_chars"), 10, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snm.nonEmpty, "testdata's planted near-dups are length-adjacent")
    val verified = Dedup.verifyJaccard(
        spark.createDataFrame(snm.toSeq).toDF("id1", "id2"), docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    snm.foreach(p => assert(verified(p) >= 0.5))
  }

  test("auto window: clamps and scales with per-key density") {
    // floor at the classic 10 for sparse keys, ceil-div 3x density in
    // the middle, hard cap at 256 — pure integers, same values the
    // oracle's SQL chain produces
    assert(Dedup.autoWindow(500, 313) == 10)     // sf0.01 shape: stays classic
    assert(Dedup.autoWindow(5000, 523) == 29)    // sf0.1 shape
    assert(Dedup.autoWindow(50000, 523) == 256)  // 10x shape: capped
    assert(Dedup.autoWindow(0, 0) == 10)
    assert(Dedup.autoWindow(1000000, 1) == 256)
  }

  test("auto window: recall survives per-key density growth that kills a fixed window") {
    import spark.implicits._
    // 60 filler docs ALL sharing one length value (density 60 >> 10)
    // wedge between two planted near-dups at the same length: a fixed
    // window=10 cannot see across them, the density-derived window can
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = a + " mu"
    val fill = (100L until 160L).map(i =>
      (i, (1 to 12).map(j => s"w${i}x$j").mkString(" "), 55L))
    val rows = (Seq((1L, a, 55L)) ++ fill ++ Seq((200L, b, 55L)))
      .toDF("doc_id", "text", "n_chars")
    val fixed = Dedup.sortedNeighborhoodPairs(rows, Seq("n_chars"), window = 10,
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!fixed.contains((1L, 200L)), "a fixed window should demonstrate the collapse")
    val auto = Dedup.sortedNeighborhoodPairs(rows, Seq("n_chars"), window = 0,
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == Set((1L, 200L)), s"auto window must recover the planted pair, got $auto")
  }

  test("edit-distance pairs: char-level drift found where shingles fail, sim exact") {
    import spark.implicits._
    // b is a single-char-noise copy of a: every 3-gram word shingle
    // differs (each word touched), but chars are ~97% shared
    val a = "alphaX betaX gammaX deltaX epsilonX zetaX etaX thetaX"
    val b = a.replace("X", "Y")
    val c = "completely different content with other words here now"
    val rows = Seq((1L, a, a.length.toLong), (2L, b, b.length.toLong),
      (3L, c, c.length.toLong)).toDF("doc_id", "text", "n_chars")
    val jac = Dedup.sortedNeighborhoodPairs(rows, Seq("n_chars"), window = 3,
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)), "shingle Jaccard must be blind to per-word noise")
    val got = Dedup.editDistancePairs(rows, Seq("n_chars"), window = 3,
        minSim = 0.8, prefixChars = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == Set((1L, 2L)))
    // 8 substituted chars over the 53-char prefix: sim = 1 - 8/53
    assert(math.abs(got((1L, 2L)) - (1.0 - 8.0 / a.length)) < 1e-9)
  }

  test("edit-distance pairs: banded DP rejects over-bound pairs the length filter admits") {
    import spark.implicits._
    val a = "alphaX betaX gammaX deltaX epsilonX zetaX etaX thetaX"
    val b = a.replace("X", "Y")                    // near-dup, sim ≈ 0.85
    val z = "q".repeat(a.length)                   // SAME length, all chars differ
    val rows = Seq((1L, a, a.length.toLong), (2L, b, b.length.toLong),
      (3L, z, z.length.toLong)).toDF("doc_id", "text", "n_chars")
    // window covers all pairs; (1,3)/(2,3) pass the |len| prefilter
    // (equal lengths) but their distance blows the banded-DP threshold
    // (levenshtein returns −1) — they must be rejected, not kept at a
    // garbage sim, and the surviving pair's sim must stay exact
    val got = Dedup.editDistancePairs(rows, Seq("n_chars"), window = 3,
        minSim = 0.8, prefixChars = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(math.abs(got((1L, 2L)) - (1.0 - 8.0 / a.length)) < 1e-9)
  }

  test("X189: multi-pass SNM recovers pairs a single pass's sort order separates") {
    import spark.implicits._
    val dup = "the quick brown fox jumps over the lazy dog again today"
    val near = dup.replace("today", "terse")   // 1 shingle differs -> J well over 0.5
    // ten same-LENGTH German interleavers push the near-dup pair 11
    // ranks apart in the (n_chars) order — past a window of 3 — but
    // under (lang, n_chars) the pair sorts adjacent again
    val fill = (2L to 11L).map(i =>
      (i, s"voellig anderes zeug nummer $i%02d haus baum fluss berg xx".take(dup.length),
        "de", dup.length.toLong))
    val rows = (Seq((1L, dup, "en", dup.length.toLong)) ++ fill ++
      Seq((12L, near, "en", near.length.toLong)))
      .toDF("doc_id", "text", "lang", "n_chars")
    val single = Dedup.sortedNeighborhoodPairs(rows, Seq("n_chars"), window = 3,
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!single.contains((1L, 12L)),
      "the planted pair must defeat the single n_chars pass for this test to mean anything")
    val multi = Dedup.sortedNeighborhoodMultiPass(rows,
        Seq(Seq("n_chars"), Seq("lang", "n_chars")), window = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi.contains((1L, 12L)), "the (lang, n_chars) pass must recover the pair")
    assert(single.subsetOf(multi), "multi-pass is a superset of every single pass")
  }

  test("SNM verifiers and the banded kNN graph keep no result across calls") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import graft.operators.Similarity
    val uniq = (1L to 40L).map(i =>
      (i, s"memo probe body alpha beta gamma delta token$i", "en", 40L + i % 7))
      .toDF("doc_id", "text", "lang", "n_chars")
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "sortedNeighborhoodPairs" -> (() => Dedup.sortedNeighborhoodPairs(uniq,
        Seq("n_chars"), window = 0, minJaccard = 0.5)),
      "containmentPairs" -> (() => Dedup.containmentPairs(uniq,
        Seq("n_chars"), window = 0, minContainment = 0.5)),
      "editDistancePairs" -> (() => Dedup.editDistancePairs(uniq,
        Seq("n_chars"), window = 0, minSim = 0.6, prefixChars = 64)),
      "knnGraphBanded" -> (() => Similarity.knnGraphBanded(vecs, 5,
        numPlanes = 0, bands = 4, maxBucket = 500)))
    // numCachedEntries is private[sql] in Scala but public in bytecode
    val cache = spark.sharedState.cacheManager
    def cachedEntries: Int =
      cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    val before = cachedEntries
    builds.foreach { case (name, build) =>
      val runs = Seq(build(), build())
      runs.foreach { df =>
        assert(df.queryExecution.withCachedData.collectFirst {
          case r: InMemoryRelation => r }.isEmpty,
          s"$name must compute from its input, not read a cached relation")
      }
      val Seq(first, second) = runs.map(_.collect().map(_.toString).sorted.toSeq)
      assert(first.nonEmpty, s"$name found nothing on the probe corpus")
      assert(first == second, s"$name differs between two calls")
    }
    assert(cachedEntries == before,
      "no operator may register a cached result")
  }

  test("NULL blocking keys: sentinel density count + NULLS LAST ranking") {
    import spark.implicits._
    // autoWindow's density input counts a NULL-field key tuple as ONE
    // distinct value (the DuckDB struct semantics), not as dropped rows
    // (Spark's raw multi-column countDistinct) — exercised through the
    // auto-window path over rows where lang is sometimes NULL.
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", 36L),
      (2L, "alpha beta gamma delta epsilon zeta", null.asInstanceOf[String], 36L),
      (3L, "one two three four five six seven", "de", 33L),
      (4L, "completely different words here now", null.asInstanceOf[String], 35L))
      .toDF("doc_id", "text", "lang", "n_chars")
    // window=0 auto-derives from density; must not throw and must rank
    // NULL langs LAST (DuckDB's default) — with window=2 (adjacent only)
    // the two null-lang rows sort after en/de, adjacent to each other,
    // so their near-dup pair is only found under nulls-last ordering.
    val auto = Dedup.sortedNeighborhoodPairs(rows, Seq("lang", "n_chars"),
      window = 0, minJaccard = 0.5).collect()
    assert(auto.nonEmpty, "auto window over NULL-keyed rows must still verify pairs")
    val ranked = Scan.prefix(
      rows.select(col("doc_id"), col("lang"), col("n_chars")), None,
      Seq("lang", "n_chars", "doc_id").map(col(_).asc_nulls_last), "rank")
      .orderBy(col("rank")).select(col("doc_id")).as[Long].collect()
    assert(ranked.take(2).toSet == Set(1L, 3L) && ranked.drop(2).toSet == Set(2L, 4L),
      s"NULL keys must rank LAST (DuckDB order), got ${ranked.mkString(",")}")
  }

  test("hybrid dedup: every pair from either modality lands in one component") {
    val emb = Tables.embeddings(spark, sf)
    val textPairs = Dedup.sortedNeighborhoodPairs(docs, Seq("n_chars"), 10, 0.5)
      .select(col("id1"), col("id2"))
    val embPairs = Dedup.embeddingPairs(emb).select(col("id1"), col("id2"))
    val allPairs = (textPairs.collect() ++ embPairs.collect())
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(allPairs.nonEmpty)
    onBothCcRoutes {
      val comp = operators.ConnectedComponents
        .components(textPairs.unionByName(embPairs))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      allPairs.foreach { case (a, b) =>
        assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
      }
    }
  }

  test("X135: keeper is the longest member (id tiebreak) of every multi-member cluster") {
    val emb = Tables.embeddings(spark, sf)
    val edges = Dedup.embeddingPairs(emb)
    val comp = operators.ConnectedComponents.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lens = docs.select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = comp.toSeq.groupBy(_._2).collect {
      case (c, ms) if ms.size > 1 =>
        val ids = ms.map(_._1)
        c -> ((ids.minBy(id => (-lens(id), id)), ids.size.toLong, ids.size - 1L))
    }.toMap
    onBothCcRoutes {
      val got = operators.ConnectedComponents.canonicalKeepers(docs, edges)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == expect && got.nonEmpty)
    }
  }

  test("L2 plan shape: one exchange on band buckets, no shingle explode before it") {
    val plan = Dedup.minhashLshPairs(docs).queryExecution.optimizedPlan.toString
    // signature computed as the custom per-row expression, not an explode of shingles
    assert(plan.contains("graft_minhash"), "minhash must be the custom expression")
  }

  test("incremental SNM: cross batch-corpus near-dups found, corpus-internal ones skipped") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = t1 + " extra"                 // near-dup of t1
    val t3 = "one two three four five six seven eight nine ten"
    val t4 = t3 + " more"                  // near-dup of t3
    // corpus: t1, t3, t4 (t3~t4 is an OLD internal pair); batch: t2
    val corpus = Seq((1L, t1, t1.length), (3L, t3, t3.length), (4L, t4, t4.length))
      .toDF("doc_id", "text", "n_chars")
    val batch = Seq((2L, t2, t2.length)).toDF("doc_id", "text", "n_chars")
    val got = Dedup.sortedNeighborhoodIncremental(corpus, batch,
        Seq("n_chars"), window = 4, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((2L, 1L)),
      s"expected only the cross pair new=2 old=1, got ${got.toSeq}")
  }

  test("containment: a doc embedded whole in a longer doc scores c≈1 one-sided") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = s"intro words here $short trailing content words again and again"
    val far = "completely different material nothing shared at all whatsoever"
    val df = Seq((1L, short, short.length), (2L, long, long.length),
        (3L, far, far.length))
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.containmentPairs(df, Seq("n_chars"), window = 3,
        minContainment = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // (1,2): every 3-gram of `short` appears in `long` → containment of
    // the short side is exactly 1; symmetric Jaccard is well below 0.8
    val hit = out.find(p => p._1 == 1L && p._2 == 2L)
    assert(hit.isDefined, s"subsumed pair not found in ${out.toSeq}")
    assert(hit.get._3 == 1.0, s"short-side containment should be 1.0: $hit")
    assert(hit.get._4 < 0.8)
    assert(!out.exists(p => p._2 == 3L || p._1 == 3L), "unrelated doc flagged")
    val jac = Dedup.sortedNeighborhoodPairs(df, Seq("n_chars"), window = 3,
        minJaccard = 0.8).count()
    assert(jac == 0, "symmetric Jaccard should NOT flag the subsumption pair")
  }

  test("X93: PPJoin is EXACT — equals the brute-force threshold join") {
    val docs = Tables.documents(spark, sf)
    val t = 0.5
    val got = Dedup.ppjoinPairs(docs, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: every (i < j) pair through the same exact verify
    val ids = docs.select(col("doc_id").cast("long")).collect().map(_.getLong(0))
    val allPairs = spark.createDataFrame(
      for (a <- ids.toSeq; b <- ids.toSeq if a < b) yield (a, b))
      .toDF("id1", "id2")
    val expected = Dedup.verifyJaccard(allPairs, docs)
      .where(col("jaccard") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    // and the prefix principle makes it a superset of windowed SNM
    val snm = Dedup.sortedNeighborhoodPairs(docs, Seq("n_chars"), window = 10,
        minJaccard = t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snm.subsetOf(got), "SNM (windowed, lossy) found a pair PPJoin missed")
  }
}
