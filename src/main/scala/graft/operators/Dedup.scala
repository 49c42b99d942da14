package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.DatasetBridge
import graft.functions.TextFunctions._
import graft.functions.expr.SetIntersectSize

/** Deduplication family (L1-L5) for training-data pipelines.
  *
  * Scale shape shared by every near-dup variant (SURVEY §5.1):
  *   1. signatures are per-row Catalyst expressions computed inside
  *      the scan stage — zero shuffle, nothing explodes;
  *   2. one exchange keyed on (band, bucket-hash) — cardinality
  *      rows × bands, NOT rows × shingles;
  *   3. candidate pairs are generated inside buckets (bounded by
  *      `maxBucket`, the standard giant-bucket guard: a bucket of b
  *      docs yields b²/2 pairs, so unbounded buckets are the one
  *      quadratic hazard in the pipeline);
  *   4. only candidate pairs — a vanishing fraction of n² — are
  *      verified against exact Jaccard / Hamming / cosine.
  */
object Dedup {

  /** L1: per-content-hash group summary (hash, multiplicity, keeper =
    * min id). One map-side-combined shuffle on the 128-bit content
    * hash; group state is O(1). */
  def exactGroups(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))

  /** L1: drop exact duplicates, keeping the lowest id per content
    * hash. Same single shuffle (window on the hash). */
  def dropExactDuplicates(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol)))
    docs.withColumn("__keeper", min(col(idCol)).over(w))
      .where(col(idCol) === col("__keeper"))
      .drop("__keeper")
  }

  /** Bucketed id lists for a banded table (id, band, bhash) with a
    * HARD state cap: `graft_collect_capped` bounds every aggregation
    * buffer at `maxBucket` ids during collection (map-side partials
    * and merges included), so a degenerate hot bucket — boilerplate or
    * template text hashing thousands of docs into one (band, bhash) —
    * cannot OOM the aggregation; it comes back with `ids = NULL` and
    * its true size in `n`. A plain `collect_list` + size filter would
    * materialize the whole bucket BEFORE the filter discards it. */
  def cappedBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    banded.groupBy(col("band"), col("bhash"))
      .agg(call_function("graft_collect_capped", col("id"), lit(maxBucket)).as("cc"))
      .select(col("band"), col("bhash"),
        col("cc.ids").as("ids"), col("cc.n").as("bucket_size"))

  /** Candidate (id1, id2) pairs from a banded table (id, band, bhash):
    * bucket by (band, bhash) with bounded state (see cappedBuckets),
    * emit in-bucket pairs, dedup across bands. Ids come out sorted
    * (id1 < id2). Buckets larger than `maxBucket` are dropped — a
    * recall/robustness trade every banded-LSH pipeline makes; use
    * droppedBuckets to make the loss visible, and run exact dedup
    * (L1) first so identical documents never reach the bucketing. */
  def bucketPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val ids = col("ids")
    cappedBuckets(banded, maxBucket)
      .where(ids.isNotNull && size(ids) >= 2)
      .select(explode(flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), size(ids)),
          y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()
  }

  /** The buckets bucketPairs dropped for exceeding `maxBucket`, with
    * their true sizes — emit/count this next to any banded-LSH run so
    * the recall loss from hot buckets is a reported number, not a
    * silent omission. */
  def droppedBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    cappedBuckets(banded, maxBucket)
      .where(col("ids").isNull)
      .select(col("band"), col("bhash"), col("bucket_size"))

  /** L2: MinHash + LSH near-duplicate pairs, verified with exact
    * n-gram Jaccard (L4). `numHashes` must divide into `bands`;
    * rows-per-band r = numHashes/bands sets the S-curve:
    * P(candidate) = 1 - (1 - j^r)^bands. Defaults (128, 16 bands,
    * r=8) put the knee near j ≈ 0.77. */
  /** Banded LSH table (id, band, bhash) from a (id, sig) MinHash
    * signature table: band j's bucket key is the hash of signature
    * components j*r .. j*r+r-1. Shared by the batch and streaming
    * near-dup paths. */
  def bandSignatures(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("band"), xxhash64(slice(col("sig"), j * r + 1, r)).as("bhash"))
    }
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bhash"))
  }

  def minhashLshPairs(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", threshold: Double = 0.8,
                      numHashes: Int = 128, bands: Int = 16,
                      shingleSize: Int = 3, maxBucket: Int = 100): DataFrame = {
    val sigs = docs.where(col(textCol).isNotNull).select(
      col(idCol).cast("long").as("id"),
      minhashText(col(textCol), shingleSize, numHashes).as("sig"))
    val banded = bandSignatures(sigs, numHashes, bands)
    val candidates = bucketPairs(banded, maxBucket)
    verifyJaccard(candidates, docs, textCol, idCol, shingleSize)
      .where(col("jaccard") >= threshold)
  }

  /** X179: cross-source near-dup contamination matrix — the L2 pair
    * stream rolled up by the (source, source) pair it connects: the
    * question corpus-merge dedup actually asks ("how much of source A
    * already sits in source B?"). The pair stream joins back to the
    * documents' source labels with two id-keyed hash joins — the pair
    * side is bounded by the banded candidate cap and the corpus side
    * never broadcasts — then a (least, greatest)-normalized rollup
    * makes the matrix triangular so (a,b) and (b,a) accumulate into
    * one cell. |sources|²-bounded output. */
  def crossSourcePairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(docs, threshold = threshold)
      .select(col("id1"), col("id2"))
    val src = docs.select(col("doc_id").cast("long"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id1"), col("source").as("__sa")), "id1")
      .join(src.select(col("doc_id").as("id2"), col("source").as("__sb")), "id2")
      .groupBy(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** MinHash-estimated Jaccard of two signature columns: the fraction
    * of agreeing components. Unbiased, rsd ≈ 1/√numHashes (≈0.09 at
    * 128) — the standard estimator when the raw text is no longer
    * around to verify exactly (e.g. a streaming state store that
    * keeps signatures, not documents). */
  def estimatedJaccard(a: Column, b: Column, numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  /** AUTO window for the sorted-neighborhood family: the window must
    * cover the per-key DENSITY of the blocking key — rows sharing one
    * key value sort adjacent, and a same-key partner can sit up to
    * that many rows away — or recall silently decays to zero as the
    * corpus grows while the key's value range stays put (10× rows over
    * the same ~500 distinct lengths ⇒ density ~100 ≫ any fixed
    * window). window = clamp(10, 256, ⌈3·n / distinct(key)⌉): 3×
    * average density absorbs key skew plus near-key drift (near-dups
    * rarely have EXACTLY equal lengths), the floor keeps small corpora
    * at the classic setting, and the cap bounds candidate count at
    * 256·n — still linear; past the cap, the standard remedy is the
    * multi-pass variant (different keys per pass), not a wider window.
    * Pure integer arithmetic (ceil-div), engine-exact — the same
    * auto-parameter contract as Similarity.autoBandBits. */
  def autoWindow(n: Long, distinctKeys: Long): Int = {
    val dk = math.max(1L, distinctKeys)
    val w = (3L * n + dk - 1L) / dk
    math.min(256L, math.max(10L, w)).toInt
  }

  /** window ≤ 0 means auto: one small two-scalar aggregation (count +
    * exact distinct of the blocking key — driver sees two longs, the
    * same bounded-metadata shape as the IVF centroid collects).
    *
    * NULL blocking keys are coalesced to a sentinel BEFORE the
    * distinct count: Spark's multi-column `countDistinct` drops any
    * row with a NULL column, while the DuckDB twins' struct
    * `count(DISTINCT (a, b))` counts NULL-field tuples — the
    * sentinel-concat form below is what the twins mirror, so the
    * derived window agrees between engine and oracle even when a key
    * is NULL (the \u0001 separator / \u0002 sentinel can't appear in
    * a cast value, keeping the concat injective). */
  /** The NULL-safe blocking-key expression [[resolveWindow]] counts
    * distinct values of — shared with the driver-side recall tooling
    * (graft.SnmRecall) so the REPORTED auto-window context uses the
    * exact keying the scored SNM runs resolved their window with. */
  private[graft] def blockingKey(sortCols: Seq[String]): Column =
    concat_ws("\u0001",
      sortCols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)

  private[graft] def resolveWindow(docs: DataFrame, sortCols: Seq[String],
                                   window: Int): Int = {
    require(window <= 0 || window >= 2, "an explicit window must cover at least one neighbor")
    if (window > 0) window
    else {
      val r = docs.agg(count(lit(1)), countDistinct(blockingKey(sortCols))).head()
      autoWindow(r.getLong(0), r.getLong(1))
    }
  }

  /** The sorted-neighborhood CANDIDATE stage, shared by every SNM
    * verifier ([[sortedNeighborhoodPairs]], [[containmentPairs]],
    * [[editDistancePairs]] and the hybrid dedup's text leg): resolve
    * the window from blocking-key density, compute the global
    * (sortCols, id) rank (two-phase — only partition counts reach the
    * driver), and explode each row against its `window − 1` rank
    * successors. Returns the undirected pair set (id1 < id2). The
    * pair table is bytes-tiny, so its layout is left to the verifier,
    * which spreads it ahead of the CPU-dense per-pair stage. */
  def snmCandidates(docs: DataFrame, sortCols: Seq[String],
                    window: Int = 0,
                    idCol: String = "doc_id"): DataFrame = {
    val win = resolveWindow(docs, sortCols, window)
    // only (key cols, id) travel through the rank shuffle — never text.
    // NULLs sort last, as in DuckDB (the oracle), not first as Spark's
    // asc has it: ranks must agree even on NULL blocking keys.
    val ranked = Scan.prefix(
      docs.select(col(idCol).cast("long").as("__id") +: sortCols.map(col): _*),
      None, (sortCols :+ "__id").map(col(_).asc_nulls_last), "rank")
      .select(col("__id"), col("rank"))
    val probes = ranked
      .withColumn("__d", explode(sequence(lit(1), lit(win - 1))))
      .select(col("__id").as("idA"), (col("rank") + col("__d")).as("rank"))
    probes.join(ranked, "rank")
      .select(least(col("idA"), col("__id")).as("id1"),
        greatest(col("idA"), col("__id")).as("id2"))
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo's
    * merge/purge method): sort the corpus by a cheap blocking key
    * (near-dups sort near each other), compare each row only to its
    * `window − 1` successors, verify candidates with exact n-gram
    * Jaccard. Candidate count is rows × (window−1) — linear, not
    * quadratic — and the only shuffles are the range sort and the
    * rank equi-join. The classic multi-pass variant (different keys
    * per pass, union of pairs) is this operator called repeatedly.
    * `window ≤ 0` derives the window from blocking-key density
    * ([[autoWindow]]) — the scale-safe default. */
  def sortedNeighborhoodPairs(docs: DataFrame, sortCols: Seq[String],
                              window: Int = 0,
                              minJaccard: Double = 0.8,
                              textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame = {
    val pairs = snmCandidates(docs, sortCols, window, idCol)
    verifyJaccard(pairs, docs, textCol, idCol)
      .where(col("jaccard") >= minJaccard)
  }

  /** X189: MULTI-PASS sorted-neighborhood near-dup pairs (Hernández &
    * Stolfo's full merge/purge recipe) — one SNM pass per blocking-key
    * set, union of candidate windows, ONE shared verification. This is
    * the documented escape hatch for the single-pass window cap: past
    * clamp-256, a wider window buys recall linearly in cost, while a
    * SECOND pass under a different key recovers the pairs the first
    * key's sort order separates (same-length docs in different
    * languages, same-language docs of drifting length) at the same
    * rows × window cost per pass. Candidates dedup BEFORE the shingle
    * verify, so a pair found by both passes is verified once. */
  def sortedNeighborhoodMultiPass(docs: DataFrame, keySets: Seq[Seq[String]],
                                  window: Int = 0, minJaccard: Double = 0.8,
                                  textCol: String = "text",
                                  idCol: String = "doc_id"): DataFrame = {
    require(keySets.nonEmpty, "at least one blocking-key set")
    val cand = keySets.map(ks => snmCandidates(docs, ks, window, idCol))
      .reduce(_ unionByName _).distinct()
    verifyJaccard(cand, docs, textCol, idCol)
      .where(col("jaccard") >= minJaccard)
  }

  /** Prefix-filtering set-similarity join (the PPJoin family, Xiao et
    * al. WWW'08 §3 prefix principle): EXACT Jaccard-threshold pairs
    * without LSH's false negatives and without SNM's sort-key
    * locality assumption. Each document's shingle set is ordered by
    * GLOBAL ascending document frequency (rarest first; ties on the
    * shingle itself), and only the first |S| − ⌈t·|S|⌉ + 1 shingles —
    * the prefix — are indexed: two sets with J ≥ t MUST share a
    * prefix element under a common global order, so joining on prefix
    * shingles alone loses nothing. Candidates then verify with exact
    * Jaccard.
    *
    * Scale shape: one df aggregation (map-side combined) + one
    * shingle-keyed join to rank + one prefix-keyed self-join. The
    * prefix inverted index is what bounds the work: rare shingles
    * head every prefix, so posting lists on the join key are short —
    * the frequency order IS the hot-key defense (a hot shingle sorts
    * to the suffix and never gets indexed). Candidate pairs, not n²,
    * reach verification. */
  def ppjoinPairs(docs: DataFrame, threshold: Double = 0.5,
                  textCol: String = "text", idCol: String = "doc_id",
                  shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col(idCol).cast("long").as("id"),
      distinctWordShingles(col(textCol), shingleSize).as("s"))
    // Set size rides the explode (4 bytes/row) instead of a second
    // count() window — its frame spec differs from row_number's, so
    // Spark would plan a SECOND WindowExec sort for it. Shingles are
    // xxhash64'd to 8-byte keys before the df join/sort/self-join:
    // the prefix principle only needs SOME consistent global order,
    // (df, hash) is one, and a hash collision merely merges two
    // shingles' postings — extra candidates that exact-Jaccard
    // verification (which re-shingles from text) discards.
    val tok = sh.select(col("id"), size(col("s")).as("sz"),
      explode(col("s")).as("t0"))
      .select(col("id"), col("sz"), xxhash64(col("t0")).as("tok"))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val byId = Window.partitionBy(col("id"))
    val ranked = tok.join(freq, "tok")
      .withColumn("r", row_number().over(byId.orderBy(col("df"), col("tok"))))
    // Two further LOSSLESS prunes on the index (candidates only shrink,
    // never below the prefix-principle superset):
    //  - df >= 2: a singleton posting list can never form a pair, and
    //    rarest-first ordering packs exactly those tokens into every
    //    prefix — dropping them empties most of the index (measured
    //    8.9s -> ~3s at sf0.1);
    //  - length filter: J >= t forces min(|x|,|y|) >= t * max(|x|,|y|)
    //    (i <= min and i >= t(|x|+|y|-i) combine to min >= t*max), so
    //    size-incompatible pairs die inside the join, before the
    //    distinct and the verify shuffle ever see them.
    val prefix = ranked
      .where(col("r") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1 &&
        col("df") >= 2)
      .select(col("tok"), col("id"), col("sz"), col("r"))
    // Positional filter (the "PP" in PPJoin): a match at prefix ranks
    // (r1, r2) caps the overlap at 1 + min(sz1−r1, sz2−r2) — the first
    // shared token in the global order has nothing shared before it,
    // so only the suffixes after the match can contribute. J ≥ t needs
    // overlap ≥ t/(1+t)·(sz1+sz2); a pair whose BEST match (max over
    // shared prefix tokens — the first match is among them, so the
    // filter stays lossless) can't reach that dies here. The groupBy
    // replaces the pair-dedup distinct — same shuffle, no extra stage.
    val cand = prefix.join(
        prefix.select(col("tok"), col("id").as("id2"), col("sz").as("sz2"),
          col("r").as("r2")), "tok")
      .where(col("id") < col("id2") &&
        least(col("sz"), col("sz2")) >=
          lit(threshold) * greatest(col("sz"), col("sz2")))
      .select(col("id").as("id1"), col("id2"), col("sz"), col("sz2"),
        (lit(1) + least(col("sz") - col("r"), col("sz2") - col("r2"))).as("ub"))
      .groupBy(col("id1"), col("id2"))
      .agg(max(col("ub")).as("ub"), first(col("sz")).as("sz"),
        first(col("sz2")).as("sz2"))
      .where(col("ub") >=
        lit(threshold) / (1.0 + threshold) * (col("sz") + col("sz2")))
      .select(col("id1"), col("id2"))
    verifyJaccard(cand, docs, textCol, idCol, shingleSize)
      .where(col("jaccard") >= threshold)
  }

  /** L4: exact n-gram Jaccard on candidate pairs — joins raw text to
    * the pairs FIRST, then shingles only the matched rows (shingling
    * above the join means the n² -> candidates reduction also applies
    * to the shingle compute, not just the set arithmetic). */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", shingleSize: Int = 3): DataFrame = {
    // Shingle once per DOCUMENT, below the join — a doc in k candidate
    // pairs would otherwise pay the shingle pass k times (Catalyst
    // does not push non-trivial expressions through a join on its own;
    // measured 9x on a window-10 SNM pass where every doc sits in ~18
    // pairs). The distinct shingle array rides the pair-join shuffle in
    // place of the raw text — comparable bytes, and the per-pair work
    // drops to one array_intersect.
    val sh = docs.select(col(idCol).cast("long").as("__sid"),
      distinctWordShingles(col(textCol), shingleSize).as("__s"))
    val d1 = sh.select(col("__sid").as("id1"), col("__s").as("__s1"))
    val d2 = sh.select(col("__sid").as("id2"), col("__s").as("__s2"))
    // pin verify parallelism: the pair table is bytes-tiny and its
    // partitioning may have collapsed (AQE coalesce);
    // broadcast joins would carry that collapse into the CPU-dense
    // intersect stage — see Parallelize.spreadPairs
    // SetIntersectSize: one fused counting pass per pair (no
    // intermediate intersection array), and single-eval — the callers'
    // jaccard threshold would otherwise be pushed into the join
    // condition and the intersect computed twice per pair (guide §4.4)
    Parallelize.spreadPairs(pairs).join(d1, "id1").join(d2, "id2")
      .withColumn("__inter",
        DatasetBridge.column(col("__s1"), col("__s2"))(SetIntersectSize(_, _)).cast("double"))
      .select(col("id1"), col("id2"),
        (col("__inter") /
          (size(col("__s1")) + size(col("__s2")) - col("__inter"))).as("jaccard"))
  }

  /** Incremental sorted-neighborhood text dedup: the batch-vs-corpus
    * twin of embeddingPairsIncremental for the TEXT modality. The
    * union is ranked once (new docs interleave into the corpus order
    * by the blocking key — they must, or a new doc adjacent to an old
    * near-dup would be missed), but only CROSS pairs (one new, one
    * old) reach Jaccard verification: corpus×corpus was settled in
    * previous runs and is never recomputed, so per-batch cost is
    * O(batch × window), not O(corpus × window). */
  def sortedNeighborhoodIncremental(corpus: DataFrame, batch: DataFrame,
                                    sortCols: Seq[String], window: Int = 0,
                                    minJaccard: Double = 0.8,
                                    textCol: String = "text",
                                    idCol: String = "doc_id"): DataFrame = {
    val all = corpus.withColumn("__new", lit(false))
      .unionByName(batch.withColumn("__new", lit(true)))
    // auto window keys on the UNION — the ranked order both sides
    // share; corpus density alone would under-window once the batch
    // interleaves
    val win = resolveWindow(all, sortCols, window)
    val ranked = Scan.prefix(
      all.select(col(idCol).cast("long").as("__id") +: col("__new") +: sortCols.map(col): _*),
      None, (sortCols :+ "__id").map(col(_).asc_nulls_last), "rank")
      .select(col("__id"), col("__new"), col("rank"))
    val probes = ranked
      .withColumn("__d", explode(sequence(lit(1), lit(win - 1))))
      .select(col("__id").as("idA"), col("__new").as("newA"),
        (col("rank") + col("__d")).as("rank"))
    val pairs = probes.join(ranked, "rank")
      .where(col("newA") =!= col("__new"))
      .select(when(col("newA"), col("idA")).otherwise(col("__id")).as("id1"),
        when(col("newA"), col("__id")).otherwise(col("idA")).as("id2"))
    verifyJaccard(pairs, all, textCol, idCol)
      .where(col("jaccard") >= minJaccard)
      .select(col("id1").as("new_id"), col("id2").as("old_id"), col("jaccard"))
  }

  /** Containment verification — the ONE-SIDED Jaccard |A∩B|/|A| (and
    * its mirror /|B|) over candidate pairs. Symmetric Jaccard misses
    * subsumption: a paragraph quoted whole inside a much longer doc
    * has tiny |∩|/|∪| but containment ≈ 1, and training-data dedup
    * wants exactly that case (boilerplate embedded in pages, docs
    * that are prefixes of re-crawls). Same per-document shingling and
    * join shape as verifyJaccard. */
  def verifyContainment(pairs: DataFrame, docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", shingleSize: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).cast("long").as("__sid"),
      distinctWordShingles(col(textCol), shingleSize).as("__s"))
    val d1 = sh.select(col("__sid").as("id1"), col("__s").as("__s1"))
    val d2 = sh.select(col("__sid").as("id2"), col("__s").as("__s2"))
    Parallelize.spreadPairs(pairs).join(d1, "id1").join(d2, "id2")
      .withColumn("__inter",
        DatasetBridge.column(col("__s1"), col("__s2"))(SetIntersectSize(_, _)).cast("double"))
      .select(col("id1"), col("id2"),
        (col("__inter") / size(col("__s1"))).as("c1"),
        (col("__inter") / size(col("__s2"))).as("c2"))
  }

  /** Containment near-dup pairs over the sorted-neighborhood candidate
    * window: flags pairs where EITHER side is mostly inside the other
    * (max-direction containment ≥ `minContainment`). */
  def containmentPairs(docs: DataFrame, sortCols: Seq[String], window: Int = 0,
                       minContainment: Double = 0.5,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val pairs = snmCandidates(docs, sortCols, window, idCol)
    verifyContainment(pairs, docs, textCol, idCol)
      .where(greatest(col("c1"), col("c2")) >= minContainment)
  }

  /** X182: edit-distance near-dup pairs over the sorted-neighborhood
    * candidate window — CHARACTER-level verification for corpora
    * where shingle Jaccard is blind: OCR noise, small in-place
    * template edits, and punctuation drift shred word shingles while
    * leaving most characters in place. Similarity is
    * 1 − lev(a,b) / max(|a|,|b|) over the first `prefixChars` chars:
    * the Levenshtein DP is O(|a|·|b|) PER PAIR, so the prefix bound
    * is what makes the verify cost a constant per candidate (the
    * window cap bounds the candidate count — the same two-bound
    * contract as every verifier here). `levenshtein` is Spark's
    * native codegen'd expression; ranks and candidates reuse the SNM
    * machinery, so text never rides the rank shuffle. */
  def editDistancePairs(docs: DataFrame, sortCols: Seq[String],
                        window: Int = 0, minSim: Double = 0.8,
                        prefixChars: Int = 256,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val pairs = snmCandidates(docs, sortCols, window, idCol)
    val t = docs.select(col(idCol).cast("long").as("__tid"),
      substring(col(textCol), 1, prefixChars).as("__t"))
    val d1 = t.select(col("__tid").as("id1"), col("__t").as("__t1"))
    val d2 = t.select(col("__tid").as("id2"), col("__t").as("__t2"))
    val spread = Parallelize.spreadPairs(pairs)
    // acceptance needs lev ≤ (1−minSim)·mx ≤ (1−minSim)·prefixChars, so
    // the DP can run BANDED: Spark's 3-arg levenshtein early-exits past
    // `maxDist` and returns −1 — every −1 pair is over the acceptance
    // bound (⌊x⌋+1 > x), i.e. rejected, so the threshold is lossless.
    val maxDist = math.floor((1.0 - minSim) * prefixChars).toInt
    spread.join(d1, "id1").join(d2, "id2")
      .withColumn("__mx", greatest(length(col("__t1")), length(col("__t2"))))
      // lev ≥ |len₁ − len₂|: a length gap past the acceptance bound
      // kills the candidate before the O(|a|·|b|) DP ever runs. The
      // +0.5 slack keeps the prefilter a strict SUPERSET of the exact
      // sim gate under float rounding (lengths are integers, so half a
      // unit of slack admits no new integer gap).
      .where(abs(length(col("__t1")) - length(col("__t2"))).cast("double") <=
        lit(1.0 - minSim) * col("__mx") + lit(0.5))
      .withColumn("__lev", levenshtein(col("__t1"), col("__t2"), maxDist))
      .withColumn("sim",
        when(col("__mx") === 0, lit(1.0))
          .when(col("__lev") === -1, lit(0.0)) // over the bound ⇒ rejected below
          .otherwise(lit(1.0) - col("__lev").cast("double") / col("__mx")))
      .where(col("sim") >= minSim)
      .select(col("id1"), col("id2"), col("sim"))
  }

  /** L3: SimHash near-duplicate pairs. 64-bit signature split into
    * `maxHamming + 1` bands — pigeonhole: any pair within Hamming
    * distance maxHamming agrees exactly on ≥1 band, so band-bucketing
    * has recall 1.0; verification is exact popcount of the XOR. */
  def simhashPairs(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", maxHamming: Int = 3,
                   maxBucket: Int = 200): DataFrame = {
    val bands = maxHamming + 1
    val bits = 64 / bands
    val sims = docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        simhashText(col(textCol)).as("sim"))
    val bandStructs = (0 until bands).map { j =>
      val lo = j * bits
      val width = if (j == bands - 1) 64 - lo else bits
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(j).as("band"),
        shiftrightunsigned(col("sim"), lo).bitwiseAND(lit(mask)).as("bhash"))
    }
    val banded = sims.select(col("id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bhash"))
    val candidates = bucketPairs(banded, maxBucket)
    val s1 = sims.select(col("id").as("id1"), col("sim").as("sim1"))
    val s2 = sims.select(col("id").as("id2"), col("sim").as("sim2"))
    candidates.join(s1, "id1").join(s2, "id2")
      .select(col("id1"), col("id2"),
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Incremental near-dup: pairs between a NEW batch and an existing
    * corpus ONLY — the daily-snapshot shape, where corpus×corpus was
    * already deduped in previous runs and must not be recomputed. The
    * corpus side is banded once (at scale: persisted as the dedup
    * index, exactly the streaming signature store's layout) and the
    * batch probes it with a (band, bhash)-keyed join; buckets hotter
    * than `maxBucket` on the corpus side are excluded the same
    * count-first way as the batch path, so one boilerplate bucket
    * cannot go quadratic. Verified with exact cosine. Returns
    * (new_id, old_id, cos). */
  def embeddingPairsIncremental(corpus: DataFrame, batch: DataFrame,
                                vecCol: String = "embedding", idCol: String = "vec_id",
                                threshold: Double = 0.35, numPlanes: Int = 0,
                                bands: Int = 4, maxBucket: Int = 200): DataFrame = {
    // AUTO width keys on the CORPUS count — the persistent index side
    // whose buckets must stay under the cap as it grows; the batch
    // bands at whatever width the index it probes was built with
    val planes =
      if (numPlanes > 0) numPlanes
      else bands * Similarity.autoBandBits(corpus.count(), bands)
    val cBanded = Similarity.srpBanded(corpus, vecCol, idCol, planes, bands)
    val bBanded = Similarity.srpBanded(batch, vecCol, idCol, planes, bands)
    val okBuckets = cBanded.groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBucket)
      .select(col("band"), col("bhash"))
    // hot buckets are excluded BEFORE the probe join — filtering after
    // it would still materialize the quadratic bucket blow-up
    val cSafe = cBanded.join(okBuckets, Seq("band", "bhash"), "left_semi")
    val cand = bBanded.withColumnRenamed("id", "new_id")
      .join(cSafe.withColumnRenamed("id", "old_id"), Seq("band", "bhash"))
      .where(col("new_id") =!= col("old_id"))
      .select(col("new_id"), col("old_id")).distinct()
    val bv = batch.select(col(idCol).cast("long").as("new_id"), col(vecCol).as("__nv"))
    val cv = corpus.select(col(idCol).cast("long").as("old_id"), col(vecCol).as("__ov"))
    cand.join(bv, "new_id").join(cv, "old_id")
      .select(col("new_id"), col("old_id"), cosine(col("__nv"), col("__ov")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** L5: embedding cosine near-duplicate pairs via signed-random-
    * projection buckets (same banded-LSH shape; bit signs come from
    * the fused-pass cosine expression), verified with exact cosine. */
  /** Paragraph-granularity exact dedup — the sub-document pass of a
    * web-corpus pipeline (boilerplate and quoted blocks repeat across
    * documents that are NOT whole-document duplicates): cut each doc
    * into fixed `window`-token paragraphs (this synthetic corpus has
    * no newline structure, so the boundary is a token grid; a real
    * corpus would split on '\n\n' upstream), keep the corpus-wide
    * FIRST occurrence of each distinct paragraph ((doc_id, chunk_idx)
    * order), and reassemble what survives per document.
    *
    * Scale shape: chunking rides the scan (Chunking.chunkTokens, zero
    * shuffle); the keeper table is one map-side-combined aggregation
    * keyed on the paragraph hash with O(1) state per key (min pair);
    * the keeper join is hash-co-partitioned with that aggregation; and
    * reassembly is one doc-keyed shuffle whose payload is only the
    * SURVIVING paragraphs. Nothing is quadratic and no driver loop.
    *
    * Returns (doc_id, n_total, n_kept, h_dedup) where h_dedup hashes
    * the deduplicated text (kept paragraphs joined in chunk order;
    * empty string when everything was dropped). */
  def paragraphDedup(docs: DataFrame, window: Int = 12,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val p = Chunking.chunkTokens(docs, window, window, textCol, idCol)
      .withColumn("h", md5(col("chunk")))
    val keeper = p.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keep"))
      .select(col("h"), col("keep.doc_id").as("kdoc"), col("keep.chunk_idx").as("kidx"))
    val kept = col("doc_id") === col("kdoc") && col("chunk_idx") === col("kidx")
    p.join(keeper, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the nulls from the unmatched `when`, so
        // only surviving paragraphs are gathered; sort restores the
        // original chunk order before reassembly
        array_sort(collect_list(when(kept, struct(col("chunk_idx"), col("chunk"))))).as("ks"))
      .select(col("doc_id"), col("n_total"), col("n_kept"),
        md5(concat_ws(" ", transform(col("ks"), x => x.getField("chunk")))).as("h_dedup"))
  }

  /** CCNet-style boilerplate removal (Wenzek et al. 2020,
    * arXiv:1911.00359 — the pass that strips navigation chrome,
    * cookie banners and footers): a paragraph appearing in `minDf`
    * OR MORE distinct documents is boilerplate and is dropped from
    * EVERY document — including the first occurrence, which is what
    * separates this from `paragraphDedup`'s keep-first policy (a
    * quoted block survives once there; a cookie banner survives
    * nowhere here). Same token-grid paragraph boundary as
    * paragraphDedup (the synthetic corpus has no newline structure).
    *
    * Scale shape: chunking rides the scan; the document-frequency
    * table is two stacked hash aggregations — (paragraph, doc)
    * dedup, then a paragraph-keyed count — both map-side combined
    * with O(1) state per key (no count(DISTINCT) Expand); the df
    * join is hash-co-partitioned with reassembly's doc-keyed
    * shuffle. Nothing quadratic, no driver loop.
    *
    * Returns (doc_id, n_total, n_kept, h_clean) — h_clean hashes the
    * surviving paragraphs joined in chunk order. */
  def boilerplateRemoval(docs: DataFrame, minDf: Int = 3, window: Int = 12,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val p = Chunking.chunkTokens(docs, window, window, textCol, idCol)
      .withColumn("h", md5(col("chunk")))
    val dfreq = p.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val kept = col("df") < minDf
    p.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(kept, struct(col("chunk_idx"), col("chunk"))))).as("ks"))
      .select(col("doc_id"), col("n_total"), col("n_kept"),
        md5(concat_ws(" ", transform(col("ks"), x => x.getField("chunk")))).as("h_clean"))
  }

  /** Semantic dedup over EMBEDDINGS, the SemDeDup shape (Abbas et al.
    * 2023, arXiv:2303.09540 — cluster, then dedup within clusters):
    * assign every vector to its nearest fixed centroid (the
    * data-independent ±1 cells of the IVF index — no Lloyd pass, no
    * driver collect), compare pairs ONLY within a cell, and drop every
    * vector that has a LOWER-id neighbor at cosine ≥ threshold — one
    * canonical survivor per near-dup neighborhood without a
    * connected-components pass (the keep-one-per-cluster rule the
    * paper uses). Returns (vec_id, cell, dropped) for every vector.
    *
    * Scale shape: assignment is a broadcast-centroid argmax inside the
    * scan; the only shuffle keys on cell; the within-cell self-join is
    * SemDeDup's standard cost trade — pick numCells ≈ n / target cell
    * size so (cell size)² stays bounded, the same hot-bucket guard as
    * LSH's maxBucket. */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.35, numCells: Int = 16,
                    dim: Int = 64, vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    val cells = Similarity.assignFixedCells(emb, vecCol, idCol, numCells, dim)
    val v = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("__v"))
      .join(cells, "id")
    val dropped = v.select(col("cell"), col("id"), col("__v"))
      .join(v.select(col("cell"), col("id").as("__id2"), col("__v").as("__v2")), Seq("cell"))
      .where(col("__id2") < col("id") && cosine(col("__v"), col("__v2")) >= threshold)
      .select(col("id")).distinct()
    v.join(dropped.withColumn("__d", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cell").cast("long").as("cell"),
        coalesce(col("__d"), lit(false)).as("dropped"))
  }

  /** Exact-substring duplication signal (Lee et al. 2022,
    * arXiv:2107.06499 — "Deduplicating Training Data Makes Language
    * Models Better", the ExactSubstr pass): a token span of `spanLen`
    * tokens is DUPLICATED when the identical span occurs at more than
    * one (doc, position) location corpus-wide — the sub-sentence
    * boilerplate whole-doc and paragraph dedup both miss. The paper
    * builds a corpus suffix array; the distributed equivalent is an
    * inventory of every overlapping spanLen-gram: same duplicated-span
    * verdicts, expressed as one gram-keyed exchange instead of a
    * single-machine suffix sort. Reports, per document, how many of
    * its spans are duplicated and what fraction of its tokens any
    * duplicated span covers (exact interval union — overlapping spans
    * don't double-count), the removal-decision signal.
    *
    * Scale shape: span hashes ride the scan (posexplode of a per-row
    * transform; the shuffle key is the 8-byte xxhash64 of the gram,
    * never the gram text); the location count is one map-side-combined
    * aggregation on that hash, and the duplicated-hash join back to the
    * span table is hash-co-partitioned with it; coverage is a
    * doc-keyed lead window whose partitioning the following per-doc
    * aggregation reuses — state per doc is O(1), not O(spans). Docs
    * shorter than spanLen have no spans and report zero coverage. */
  def substringDedup(docs: DataFrame, spanLen: Int = 6,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // ~n_tokens span hashes per doc are generated in the scan stage —
    // spread a single-split scan (Parallelize.spreadScan, no-op at scale)
    val t = Parallelize.spreadScan(docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("__t")))
      .select(col("doc_id"), col("__t"), size(col("__t")).cast("long").as("n_tokens"))
    val spans = t.where(col("n_tokens") >= spanLen)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("__t")) - (spanLen - 1)),
          i => xxhash64(concat_ws(" ", slice(col("__t"), i, lit(spanLen)))))))
      .select(col("doc_id"), col("pos").as("st"), col("col").as("h"))
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("locs"))
      .where(col("locs") > 1).select("h")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("st"))
    val cov = spans.join(dup, "h")
      .select(col("doc_id"), least(lit(spanLen.toLong),
        coalesce(lead(col("st"), 1).over(w) - col("st"), lit(spanLen.toLong))).as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("c")).cast("long").as("dup_tokens"))
    t.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 4))
          .otherwise(0.0).as("dup_frac"))
  }

  def embeddingPairs(emb: DataFrame, vecCol: String = "embedding",
                     idCol: String = "vec_id", threshold: Double = 0.35,
                     numPlanes: Int = 0, bands: Int = 4,
                     maxBucket: Int = 200): DataFrame = {
    // numPlanes <= 0: AUTO band width from the corpus count — a width
    // pinned at tuning time caps out as the corpus grows and the
    // bucket guard then drops EVERY bucket (recall 0; the 10x sweep
    // caught exactly that on this operator's old 4-bit default)
    val planes =
      if (numPlanes > 0) numPlanes
      else bands * Similarity.autoBandBits(emb.count(), bands)
    val banded = Similarity.srpBanded(emb, vecCol, idCol, planes, bands)
    val candidates = bucketPairs(banded, maxBucket)
    val e1 = emb.select(col(idCol).cast("long").as("id1"), col(vecCol).as("v1"))
    val e2 = emb.select(col(idCol).cast("long").as("id2"), col(vecCol).as("v2"))
    // the cosine verify is a dim-length fold per pair and AQE coalesces
    // it to 1-3 tasks at 32 cores (profiled: 0.5 s single-task job on
    // embed_dbscan) — but spreadPairs here was MEASURED NET-NEGATIVE
    // (r18: family isolated 15.1 s → 22.7 s): every CC consumer fences
    // the verified pairs and then runs ~13 tiny-frame label rounds over
    // them, and the spread's 32-partition layout survives the fence,
    // multiplying per-round task-scheduling cost past what the verify
    // stage saves. The r17 spread rule holds: spread pays only when
    // the kernel dominates one exchange AND the result feeds ONE
    // consumer, not an iterative loop.
    candidates.join(e1, "id1").join(e2, "id2")
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("cos"))
      .where(col("cos") >= threshold)
  }
}
