package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{cosine, topk}
import graft.functions.expr.GraftHash

/** Similarity search over embedding columns (L6-L7).
  *
  * L6 brute force is the exactness baseline AND a scale statement:
  * scoring happens where the candidate rows live (queries broadcast,
  * never the candidates), and per-query top-k is a bounded-heap
  * `TypedImperativeAggregate` that partially aggregates map-side — the
  * only thing crossing the exchange is k rows per (partition, query),
  * not n scores. L7 trades recall for candidate count with
  * signed-random-projection buckets + multiprobe.
  */
object Similarity {

  /** Deterministic ±1 hyperplane matrix (numPlanes × dim), derived
    * from the library's splitmix64 chain — same planes on every
    * executor with zero state shipped. */
  def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (i, d) =>
      if ((GraftHash.splitmix64(GraftHash.permSeed(i) ^ (d * 0x9e3779b97f4a7c15L)) & 1L) == 1L) 1.0
      else -1.0
    }

  /** All SRP sign bits as one bitmask — the fused SrpSignBits
    * expression (one codegen'd pass computes every plane's sign;
    * planes derive from the shared splitmix64 chain, identical to
    * `hyperplanes`). */
  def srpBitmask(vecCol: Column, numPlanes: Int): Column =
    call_function("graft_srp", vecCol, lit(numPlanes))

  /** Banded SRP table (id, band, bhash): numPlanes sign bits packed
    * into `bands` integer buckets extracted from the fused bitmask.
    * Shared by L5 and L7. */
  def srpBanded(df: DataFrame, vecCol: String, idCol: String,
                numPlanes: Int, bands: Int): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    val bitsPerBand = numPlanes / bands
    val mask = (1L << bitsPerBand) - 1L
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("band"),
        shiftrightunsigned(col("__srp"), j * bitsPerBand).bitwiseAND(lit(mask)).as("bhash"))
    }
    // NOTE(r17): a spreadScan of the bitmask input was tried here and
    // REVERTED — the fused graft_srp pass is cheap enough that the
    // extra vector exchange cost more than the parallelism bought
    // (dedup_incremental 1.0→2.0 s, ann_lsh 0.3→1.1 s; no consumer
    // measurably improved).
    df.select(col(idCol).cast("long").as("id"),
        srpBitmask(col(vecCol), numPlanes).as("__srp"))
      .select(col("id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bhash"))
  }

  /** L6: exact top-k cosine neighbors for each query vector.
    * `queries` is expected to be small (it is broadcast); candidates
    * stream by without ever shuffling their vectors — only the
    * k-element heaps move. Returns (q_id, rank, c_id, score). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    val c = candidates.select(col(idCol).cast("long").as("c_id"), col(vecCol).as("c_vec"))
    c.crossJoin(broadcast(q))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("q_vec"), col("c_vec")).as("score"))
      .groupBy(col("q_id"))
      .agg(topk(col("c_id"), col("score"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("q_id"), (col("rank0") + 1).as("rank"),
        col("t.id").as("c_id"), col("t.score").as("score"))
  }

  /** X203: Matryoshka truncation evaluation (Kusupati et al. 2022) —
    * top-k overlap between cosine search on PREFIX-truncated
    * embeddings (dims ∈ `dims`) and the full-dimension answer, per
    * query. The readout that sizes how many leading dimensions a
    * cheap first-pass index needs before the full-width rerank — the
    * standard two-stage retrieval trade at 100 TB, where a 4× narrower
    * scan is a 4× cheaper one.
    *
    * Exactness: each per-dims search IS [[bruteForceTopK]] (broadcast
    * queries, bounded-heap top-k, (score desc, id) tie order); the
    * overlap join against the full-width answer is an integer count.
    * The widest entry in `dims` doubles as the self-check — its
    * overlap is k by construction. Scale: |dims| passes over the
    * candidates, each the L6 shape (no candidate shuffle, k rows per
    * query move); the slice lives inside the scan projection. */
  def matryoshkaRecall(vectors: DataFrame,
                       dims: Seq[Int] = Seq(8, 16, 32, 64), k: Int = 10,
                       nQueries: Int = 8, vecCol: String = "embedding",
                       idCol: String = "vec_id"): DataFrame = {
    val q = vectors.where(col(idCol) < nQueries)
    val fullTop = bruteForceTopK(q, vectors, k, vecCol, idCol)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    val truncated = dims.map { d =>
      val qd = q.withColumn(vecCol, slice(col(vecCol), 1, d))
      val cd = vectors.withColumn(vecCol, slice(col(vecCol), 1, d))
      bruteForceTopK(qd, cd, k, vecCol, idCol)
        .withColumn("dims", lit(d.toLong))
    }.reduce(_ unionAll _)
    truncated.join(fullTop, Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"), col("dims"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("overlap"))
      .select(col("q_id"), col("dims"), col("overlap"),
        round(col("overlap").cast("double") / k, 2).as("recall"))
      .orderBy(col("q_id"), col("dims"))
  }

  /** L6b: range (threshold) search — ALL candidates with cosine ≥ tau
    * per query, the ε-neighborhood query a top-k can't answer (k
    * either truncates a dense neighborhood or pads a sparse one).
    * Same scale shape as bruteForceTopK: queries broadcast, the
    * threshold predicate runs inside the candidate scan stage, and
    * only matches survive — no heap needed because the OUTPUT is the
    * neighborhood, so result size is data-bounded, not k-bounded.
    * Returns (q_id, c_id, score ≥ tau). */
  def rangeSearch(queries: DataFrame, candidates: DataFrame, tau: Double,
                  vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    val c = candidates.select(col(idCol).cast("long").as("c_id"), col(vecCol).as("c_vec"))
    c.crossJoin(broadcast(q))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("q_vec"), col("c_vec")).as("score"))
      .where(col("score") >= tau)
  }

  /** L7 alternative scale path: IVF (inverted-file) ANN.
    *
    * Index build: deterministic k-means-lite — seeds are the
    * lowest-id candidate vectors, refined with `iters` Lloyd passes
    * computed as DataFrame aggregations. Centroid components are
    * rounded so float-summation order cannot wobble assignments
    * between runs. The two `.collect()`s per pass move numCells rows —
    * index-BUILD cost, amortized over every query against the index.
    *
    * Cell assignment is a broadcast centroid table joined to the
    * vectors with the fused codegen cosine, argmax'd per vector —
    * plan size is independent of numCells and the scoring stays in
    * whole-stage codegen (a numCells-wide literal struct array would
    * put numCells×dim literals in the plan and evaluate an interpreted
    * HOF tree per row: fine at 16 cells, a blowup at a realistic 4k).
    * The assignment costs one shuffle of (id, vec) for the argmax;
    * at scale the output cell column is the partition key, so a probe
    * touches nProbe/numCells of the data instead of all of it.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              vecCol: String = "embedding", idCol: String = "vec_id",
              numCells: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val c = candidates.select(col(idCol).cast("long").as("c_id"), col(vecCol).as("c_vec"))

    def toDoubles(a: Any): Array[Double] = a match {
      case s: scala.collection.Seq[_] => s.map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray
    }
    // deterministic seeds: lowest-id vectors
    var centroids: Array[Array[Double]] = c.orderBy(col("c_id")).limit(numCells)
      .collect().map(r => toDoubles(r.get(1)))

    var it = 0
    while (it < iters) {
      // Lloyd pass: assign, then per-(cell, dim) mean, rounded for
      // run-to-run stability
      val means = assignCells(c, "c_vec", "c_id", centroids)
        .select(col("cell"), posexplode(col("c_vec")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("col")), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ms"))
        .select(col("cell"), transform(col("ms"), x => x.getField("m")).as("centroid"))
        .collect().map(r => r.getInt(0) -> toDoubles(r.get(1))).toMap
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
      it += 1
    }

    ivfQuery(queries, candidates, k, vecCol, idCol, centroids, nProbe)
  }

  /** Deterministic ±1 centroid matrix for the fixed-centroid IVF
    * variant — same splitmix64 chain as `hyperplanes`, offset by 4096
    * seeds so the cells never coincide with the SRP planes. */
  def fixedCentroids(numCells: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numCells, dim) { (i, d) =>
      if ((GraftHash.splitmix64(GraftHash.permSeed(4096 + i) ^ (d * 0x9e3779b97f4a7c15L)) & 1L) == 1L) 1.0
      else -1.0
    }

  /** IVF ANN with DATA-INDEPENDENT centroids (random ±1 cells, the
    * same trick as SRP hyperplanes): no Lloyd passes, no driver
    * collects — the entire pipeline is one static dataflow, at the
    * cost of cells that partition direction space uniformly instead of
    * adapting to the data. The right default when the index must be
    * reproducible from a seed alone (or built before the data exists);
    * `ivfTopK` refines these into data-adapted cells when recall per
    * probe matters more. */
  def ivfFixedTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                   vecCol: String = "embedding", idCol: String = "vec_id",
                   numCells: Int = 16, nProbe: Int = 4, dim: Int = 64): DataFrame =
    ivfQuery(queries, candidates, k, vecCol, idCol,
      fixedCentroids(numCells, dim), nProbe)

  /** (id, cell) fixed-centroid assignment — the cell half of the IVF
    * index, public so composed indexes (IVF-PQ) can attach a cell to
    * each candidate's codes without re-deriving the centroid chain. */
  def assignFixedCells(vecs: DataFrame, vecCol: String = "embedding",
                       idCol: String = "vec_id",
                       numCells: Int = 16, dim: Int = 64): DataFrame =
    assignCells(
      vecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v")),
      "__v", "id", fixedCentroids(numCells, dim))
      .select(col("id"), col("cell"))

  /** (q_id, cell): each query's nProbe best fixed cells — the probe
    * half of the IVF index, same bounded-heap shape as `ivfQuery`'s
    * probe stage (ties to the LOWEST cell, TopKBuffer order). */
  def probeFixedCells(queries: DataFrame, vecCol: String = "embedding",
                      idCol: String = "vec_id", numCells: Int = 16,
                      nProbe: Int = 4, dim: Int = 64): DataFrame = {
    require(nProbe <= numCells, "nProbe must be <= numCells")
    val q = queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    q.crossJoin(broadcast(centroidDF(queries, fixedCentroids(numCells, dim))))
      .select(col("q_id"), col("cell").cast("long").as("cell"),
        cosine(col("q_vec"), col("ctr")).as("s"))
      .groupBy(col("q_id"))
      .agg(topk(col("cell"), col("s"), nProbe).as("top"))
      .select(col("q_id"), explode(col("top")).as("p"))
      .select(col("q_id"), col("p.id").cast("int").as("cell"))
  }

  /** Nearest-centroid assignment: broadcast the centroid table, score
    * every (vector, centroid) with the fused cosine, keep the argmax —
    * ties break to the highest cell id (max over (score, cell)
    * structs). Plan size is independent of numCells. */
  private def assignCells(vecs: DataFrame, vecCol0: String, idCol0: String,
                          centroids: Array[Array[Double]]): DataFrame =
    vecs.crossJoin(broadcast(centroidDF(vecs, centroids)))
      .select(col(idCol0), col(vecCol0),
        struct(cosine(col(vecCol0), col("ctr")).as("s"), col("cell")).as("sc"))
      .groupBy(col(idCol0))
      .agg(max(col("sc")).as("m"), first(col(vecCol0)).as(vecCol0))
      .select(col(idCol0), col(vecCol0), col("m.cell").as("cell"))

  /** (cell, ctr) table for broadcast — numCells rows. */
  private def centroidDF(like: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val spark = like.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (ctr, i) => (i, ctr.toSeq) }.toSeq
      .toDF("cell", "ctr")
  }

  /** The probe-and-score stage shared by both IVF variants: assign
    * candidates to cells, pick each query's nProbe best cells with the
    * bounded-heap top-k, join on cell, verify with exact cosine. */
  private def ivfQuery(queries: DataFrame, candidates: DataFrame, k: Int,
                       vecCol: String, idCol: String,
                       centroids: Array[Array[Double]], nProbe: Int): DataFrame = {
    require(nProbe <= centroids.length, "nProbe must be <= numCells")
    val c = candidates.select(col(idCol).cast("long").as("c_id"), col(vecCol).as("c_vec"))
    val assigned = assignCells(c, "c_vec", "c_id", centroids)
    val q = queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    // nProbe nearest cells per query: same broadcast-scored shape,
    // bounded-heap top-nProbe instead of argmax
    val qProbes = q.crossJoin(broadcast(centroidDF(queries, centroids)))
      .select(col("q_id"), col("q_vec"), col("cell").cast("long").as("cell"),
        cosine(col("q_vec"), col("ctr")).as("s"))
      .groupBy(col("q_id"))
      .agg(topk(col("cell"), col("s"), nProbe).as("top"), first(col("q_vec")).as("q_vec"))
      .select(col("q_id"), col("q_vec"), explode(col("top")).as("p"))
      .select(col("q_id"), col("q_vec"), col("p.id").cast("int").as("cell"))

    broadcast(qProbes).join(assigned, "cell")
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), cosine(col("q_vec"), col("c_vec")).as("score"))
      .groupBy(col("q_id"))
      .agg(topk(col("c_id"), col("score"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("q_id"), (col("rank0") + 1).as("rank"),
        col("t.id").as("c_id"), col("t.score").as("score"))
  }

  /** Diversified retrieval: MMR re-rank of the exact top-m pool
    * (Carbonell & Goldstein SIGIR'98) — each pick maximizes
    * λ·relevance − (1−λ)·max-similarity-to-already-picked, so near
    * duplicate results collapse to one representative instead of
    * filling the page.
    *
    * Scale shape: the expensive stage is the ANN top-m (which already
    * moves only m rows per query); the pool then gathers to ONE row
    * per query — m·(dim+2) doubles, bounded by construction — and the
    * greedy runs as the per-row `graft_mmr` kernel (O(m·k·dim), zero
    * additional shuffle beyond the m-row gather). Returns
    * (q_id, rank, c_id, score) in selection order; `score` is the MMR
    * objective at pick time (rank 1 = λ·rel, the pure-relevance
    * argmax). */
  def mmrTopK(queries: DataFrame, candidates: DataFrame, k: Int, m: Int = 20,
              lambda: Double = 0.7,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(k <= m, "k must be <= the pool size m")
    val pool = bruteForceTopK(queries, candidates, m)
    val cvec = candidates.select(col(idCol).cast("long").as("c_id"),
      transform(col(vecCol), x => x.cast("double")).as("cvec"))
    pool.join(cvec, "c_id")
      .groupBy(col("q_id"))
      .agg(collect_list(struct(col("c_id").as("id"), col("score").as("rel"),
        col("cvec").as("vec"))).as("cands"))
      .select(col("q_id"),
        posexplode(call_function("graft_mmr", col("cands"), lit(k), lit(lambda)))
          .as(Seq("rank0", "t")))
      .select(col("q_id"), (col("rank0") + 1).as("rank"),
        col("t.id").as("c_id"), col("t.score").as("score"))
  }

  /** L7: SRP-bucketed ANN with flip-one-bit multiprobe. Each query
    * probes its exact bucket plus every Hamming-1 neighbor in each
    * band; candidates join on (band, bucket) — the scan of candidate
    * vectors is replaced by a bucket-keyed join whose touched rows
    * shrink with bits-per-band. Returns (q_id, rank, c_id, score). */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              vecCol: String = "embedding", idCol: String = "vec_id",
              numPlanes: Int = 16, bands: Int = 4): DataFrame = {
    val bitsPerBand = numPlanes / bands
    val cBanded = srpBanded(candidates, vecCol, idCol, numPlanes, bands)
      .withColumnRenamed("id", "c_id")
    // query probe set: own bucket + all flip-one-bit buckets per band
    val probes: Seq[Column] = col("bhash") +:
      (0 until bitsPerBand).map(b => col("bhash").bitwiseXOR(lit(1L << b)))
    val qBanded = srpBanded(queries, vecCol, idCol, numPlanes, bands)
      .withColumnRenamed("id", "q_id")
      .select(col("q_id"), col("band"), explode(array(probes: _*)).as("bhash"))
    val cand = broadcast(qBanded).join(cBanded, Seq("band", "bhash"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id")).distinct()
    val q = queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    val c = candidates.select(col(idCol).cast("long").as("c_id"), col(vecCol).as("c_vec"))
    cand.join(broadcast(q), "q_id").join(c, "c_id")
      .select(col("q_id"), col("c_id"), cosine(col("q_vec"), col("c_vec")).as("score"))
      .groupBy(col("q_id"))
      .agg(topk(col("c_id"), col("score"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("q_id"), (col("rank0") + 1).as("rank"),
        col("t.id").as("c_id"), col("t.score").as("score"))
  }

  /** X132: k-NN graph construction — EVERY vector is a query, and each
    * directed edge is marked `mutual` when its reverse edge is also in
    * the other endpoint's top-k (the mutual-kNN graph is the standard
    * substrate for agglomerative/density clustering of embeddings).
    *
    * This is the scale-safe route: `bandedSelfTopK` — SRP-banded
    * candidate generation with exact-cosine rerank, cost
    * Σ bucket² ≤ maxBucket·N per band (numPlanes ≤ 0 → auto width from
    * the corpus count). The driver-gated entries pass explicit band
    * geometry so the cross-engine oracle reproduces the banding
    * bit-for-bit. The all-pairs exact scorer is `knnGraphExact`.
    * Either way the graph step (the self-join marking mutual edges) is
    * k·N-bounded and joins on (q_id, c_id), a key both sides already
    * carry. */
  def knnGraphBanded(vectors: DataFrame, k: Int,
                     vecCol: String = "embedding", idCol: String = "vec_id",
                     numPlanes: Int = 0, bands: Int = 8,
                     maxBucket: Int = 2000): DataFrame =
    markMutual(bandedSelfTopK(vectors, k, vecCol, idCol, numPlanes, bands, maxBucket))

  /** The exact (all-pairs) kNN graph — recall-1 baseline, quadratic
    * scoring; small-corpus use only. */
  def knnGraphExact(vectors: DataFrame, k: Int,
                    vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    markMutual(bruteForceTopK(vectors, vectors, k, vecCol, idCol))

  /** The kNN graph's 100 TB candidate generator: top-k per vector
    * restricted to SRP-band collisions. Unlike `lshTopK` (which
    * broadcasts its query probes — right when queries are FEW), here
    * every vector is a query, so candidates come from a SYMMETRIC
    * bucket self-join: band once, count buckets, drop boilerplate
    * buckets hotter than `maxBucket` (the same capped-bucket policy as
    * the LSH dedup family — one degenerate bucket cannot go
    * quadratic), pair within buckets, exact-cosine rerank, bounded
    * heap per query. Cost is Σ bucket² ≤ maxBucket·N per band instead
    * of N²; recall < 1 is the documented trade (missed neighbors are
    * pairs agreeing on NO band), recovered by raising numPlanes/bands
    * like any SRP pipeline.
    *
    * numPlanes ≤ 0 selects AUTO banding: bits-per-band =
    * ⌊log₂(n DIV 100)⌋ clamped to [2, min(12, 64/bands)] from one
    * count() (bounded metadata job), holding the EXPECTED bucket size
    * in [100, 200) as the corpus grows — candidate volume stays
    * ≈ maxBucket·n per band instead of (n/buckets)²·buckets, which is
    * what makes the route scale near-linearly (a FIXED band width
    * re-grows buckets, and with them Σ bucket², linearly with n — and
    * past the bucket cap it silently drops EVERY bucket, recall 0;
    * the 10× sweep caught exactly that on a pinned 4-bit width; a
    * hard-8 clamp top was the same disease one decade out, capping
    * out near n ≈ 128k). The width is INTEGER arithmetic (highest set
    * bit of n DIV 100), so a SQL oracle can reproduce the selection
    * with a threshold CASE per candidate width — no float-log
    * rounding to disagree on. Returns (q_id, rank, c_id, score). */
  def bandedSelfTopK(vectors: DataFrame, k: Int,
                     vecCol: String = "embedding", idCol: String = "vec_id",
                     numPlanes: Int = 0, bands: Int = 8,
                     maxBucket: Int = 2000): DataFrame = {
    val planes =
      if (numPlanes > 0) numPlanes
      else bands * autoBandBits(vectors.count(), bands)
    val banded = srpBanded(vectors, vecCol, idCol, planes, bands)
    val ok = banded.groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("bn"))
      .where(col("bn") >= 2 && col("bn") <= maxBucket)
      .select(col("band"), col("bhash"))
    val inB = banded.join(ok, Seq("band", "bhash"))
    val pairs = inB.as("l").join(inB.as("r"),
        col("l.band") === col("r.band") && col("l.bhash") === col("r.bhash") &&
          col("l.id") =!= col("r.id"))
      .select(col("l.id").as("q_id"), col("r.id").as("c_id"))
      .distinct()
    val v = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    pairs
      .join(v.select(col("id").as("q_id"), col("vec").as("q_vec")), "q_id")
      .join(v.select(col("id").as("c_id"), col("vec").as("c_vec")), "c_id")
      .select(col("q_id"), col("c_id"), cosine(col("q_vec"), col("c_vec")).as("score"))
      .groupBy(col("q_id"))
      .agg(topk(col("c_id"), col("score"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("q_id"), (col("rank0") + 1).as("rank"),
        col("t.id").as("c_id"), col("t.score").as("score"))
  }

  /** AUTO band width: ⌊log₂(n DIV 100)⌋ clamped to [2, top] — pure
    * integer arithmetic (highest set bit), engine-exact.
    *
    * The clamp TOP derives from the signature-bit budget, not a
    * literal: the fused SRP bitmask is one Long, so bands × bits ≤ 64,
    * and past 12 bits each extra bit halves a moderate-cosine pair's
    * per-band agreement for little occupancy relief — top =
    * min(12, 64 / bands). At the gated bands = 4 geometry that lifts
    * the old hard-8 ceiling to 12: expected bucket occupancy n/2^bits
    * stays ≤ ~500 out to n ≈ 2M vectors per shard instead of capping
    * out at n ≈ 128k, where the maxBucket guard would otherwise start
    * silently shedding recall (the disease the 10× sweep caught at a
    * pinned 4-bit width). At bands = 8 the budget keeps top = 8 —
    * unchanged behavior. maxBucket stays the backstop against skewed
    * buckets, never the recall policy. */
  def autoBandBits(n: Long, bands: Int = 4): Int = {
    require(bands >= 1 && bands <= 32, "bands in [1,32]")
    val top = math.min(12, 64 / bands)
    val m = math.max(1L, n / 100)
    math.max(2, math.min(top, 63 - java.lang.Long.numberOfLeadingZeros(m)))
  }

  /** Mark each directed (q_id, c_id) edge `mutual` iff its reverse is
    * also an edge — one (q_id, c_id)-keyed self-join, k·N rows. */
  private def markMutual(edges: DataFrame): DataFrame = {
    val reverse = edges.select(col("q_id").as("c_id"), col("c_id").as("q_id"))
      .withColumn("mutual", lit(true))
    edges.join(reverse, Seq("q_id", "c_id"), "left")
      .select(col("q_id"), col("rank"), col("c_id"), col("score"),
        coalesce(col("mutual"), lit(false)).as("mutual"))
      .orderBy(col("q_id"), col("rank"))
  }
}
