package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness: amplifies the documents table N× and times
  * the paths whose scale behavior is not proven by sf0.1 alone —
  * chunked posting lists, MinHash-LSH dedup, pair clustering,
  * sequence packing, and decontamination — at 1× and N×, printing the
  * wall-time ratio.
  *
  * Amplification prefixes every token with the replica index, so a
  * replica shares NO shingles with its siblings (replicas are fully
  * distinct documents) while planted near-dup PAIRS stay near-dups
  * within each replica (both members get identical prefixes, so their
  * Jaccard is unchanged) — N× data with the same duplicate DENSITY,
  * which is what real growth looks like. (A first cut rotated tokens
  * instead; rotation preserves almost every interior shingle, so each
  * doc gained 9 true near-dups and the PAIR OUTPUT grew 9000×, not
  * 10× — pair verification cost is inherently linear in true pairs,
  * so density must be held constant to measure data scaling.) Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_STRESS_FACTOR=10 \
  *     sbt "runMain graft.StressBench"
  */
object StressBench {

  /** factor replicas per doc: ids remapped to doc_id*factor+rep, every
    * token prefixed with the replica index (replica 0 keeps the
    * original text verbatim). */
  def amplify(docs: DataFrame, factor: Int): DataFrame = {
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    docs
      .withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .select(
        (col("doc_id") * factor + col("rep")).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          array_join(transform(toks,
            t => concat(lit("r"), col("rep"), lit("_"), t)), " ")).as("text"),
        col("lang"), col("source"), col("n_chars"))
  }

  /** VERBATIM amplification for the search family: same id remap, text
    * unchanged — every term's posting list (and df) must grow with the
    * factor, which is exactly the hot-term scaling the prefixed
    * variant hides (prefixed replicas never match the query terms, so
    * only the scan would grow). */
  def amplifyVerbatim(docs: DataFrame, factor: Int): DataFrame =
    docs.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("doc_id") * factor + col("rep")).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))

  /** Embedding amplification: replica r's vector is the original
    * ROTATED by r components — a genuinely different direction (so
    * SRP/IVF cells stay diverse instead of one cell going N× hot)
    * at constant norm, with replica 0 verbatim. */
  def amplifyEmbeddings(emb: DataFrame, factor: Int): DataFrame =
    emb.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("vec_id") * factor + col("rep")).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), col("rep") + 1, lit(1 << 20)),
            slice(col("embedding"), lit(1), col("rep")))).as("embedding"))

  /** Event-log amplification: factor replicas with user_id and
    * event_id remapped per replica — N× users, each with the ORIGINAL
    * series (constant per-user length, constant time span). That is
    * what event growth looks like (more users, not longer histories),
    * and it is the shape that separates the key-sharded operators
    * (rank-bucketed rolling window, per-user automata) from anything
    * leaning on a low-cardinality window key. */
  def amplifyEvents(ev: DataFrame, factor: Int): DataFrame =
    ev.withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("event_id") * factor + col("rep")).as("event_id"),
        (col("user_id") * factor + col("rep")).as("user_id"),
        col("event_type"), col("value"), col("ts"))

  /** Times CONSTRUCTION + execution: operators with an eager driver
    * loop (connected components) do their work while the DataFrame is
    * being built, so the thunk must run inside the timer. */
  private def timeNoop(f: () => DataFrame): Double = {
    val t0 = System.nanoTime()
    f().write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The timed ops over one corpus copy (`v` = the verbatim documents);
    * building the list runs nothing. */
  private def ops(spark: SparkSession, docs: DataFrame, v: DataFrame, emb: DataFrame,
                  evDir: String): Seq[(String, () => DataFrame)] = Seq(
      // ---- search family (verbatim amplification: postings and df
      // grow with the factor; must stay scan/shuffle-linear) ----
      "ii_search_boolean" -> (() =>
        operators.Search.booleanSearch(v, Seq("spark", "vector"), Seq("slow"))),
      "ii_phrase_search" -> (() =>
        operators.Search.phraseSearch(v, Seq("fast", "table"))),
      "search_fuzzy" -> (() =>
        operators.Search.fuzzySearch(v, Seq("spak", "strem", "jion"), maxDist = 2)),
      "search_prefix" -> (() =>
        operators.Search.prefixSearch(v, "s")),
      "ii_search_or" -> (() =>
        operators.Search.orSearch(v, Seq("spark", "vector", "slow"), minMatch = 2)),
      // index BUILD: full token explode re-keyed by term — the one
      // legitimately token-linear op; chunking must bound hot terms
      "ii_positional_index" -> (() =>
        operators.Search.positionalIndexChunked(v, chunkSize = 100)),
      // boolean search FROM the index through the custom exec node:
      // build + one chunk-keyed exchange of term-pruned postings
      "ii_posting_intersect" -> (() =>
        plans.PostingListIntersect.search(
          operators.Search.positionalIndexChunked(v, chunkSize = 100),
          Seq("spark", "fast"), Seq("batch"))),
      // phrase FROM the index through the custom node: positional
      // adjacency evaluated per chunk — verbatim replicas grow every
      // matched term's postings ×N, so build + the chunk-keyed
      // exchange of term-pruned postings must both stay linear
      "ii_posting_phrase" -> (() =>
        plans.PostingListIntersect.phrase(
          operators.Search.positionalIndexChunked(v, chunkSize = 100),
          Seq("merge", "group"))),
      // sloppy phrase: per-doc chain DP over the same pruned postings
      // — DP state is positions-per-doc-bounded (constant under
      // verbatim amplification), so the curve must track the posting
      // exchange like the exact-adjacency node
      "ii_posting_phrase_slop" -> (() =>
        plans.PostingListIntersect.phraseSlop(
          operators.Search.positionalIndexChunked(v, chunkSize = 100),
          Seq("merge", "group", "join"), slop = 2)),
      // ---- quantization / ANN family (rotated-replica embeddings;
      // fixed 8-query probe set, so growth must track the corpus) ----
      "embed_quantize" -> (() =>
        operators.Quantization.quantizeSummary(emb)),
      "ann_int8" -> (() =>
        operators.Similarity.bruteForceTopK(
          operators.Quantization.dequantized(emb.where(col("vec_id") < 8)),
          operators.Quantization.dequantized(emb), 10)),
      "ann_pq" -> (() =>
        operators.ProductQuantization.adcTopK(emb.where(col("vec_id") < 8), emb, 10)),
      "ann_ivf_pq" -> (() =>
        operators.ProductQuantization.ivfPqTopK(emb.where(col("vec_id") < 8), emb, 10)),
      // two-stage rerank: stage 2 cost is pool-bounded, so the curve
      // must track stage 1 (the IVF-PQ candidate generation) alone
      "ann_rerank" -> (() =>
        operators.ProductQuantization.rerankTopK(emb.where(col("vec_id") < 8), emb, 10)),
      "ii_field_values_chunked" -> (() =>
        operators.InvertedIndex.fieldValuesChunked(docs, "source", chunkSize = 1000)),
      "dedup_minhash_lsh" -> (() =>
        operators.Dedup.minhashLshPairs(docs)),
      // pairs → clusters: constant duplicate density means ~N× pairs
      // and constant cluster diameter, so rounds must not grow with N
      "dedup_clusters" -> (() =>
        operators.ConnectedComponents.clusters(operators.Dedup.minhashLshPairs(docs))),
      // two-phase prefix sum: must scale with the range shuffle, not
      // with a single-partition window
      "pack_sequences" -> (() =>
        operators.Packing.packSummary(docs, "n_chars", budget = 4096)),
      // broadcast-probe decontamination: the corpus side is the only
      // thing growing; the benchmark shingle set stays broadcast-sized
      "decontaminate" -> (() =>
        operators.Decontaminate.contaminationHits(
          docs.where(col("doc_id") % 17 =!= 0), docs.where(col("doc_id") % 17 === 0))),
      // per-row slicer: must scale with the scan, nothing else
      "chunk_docs" -> (() =>
        operators.Chunking.chunkSummary(docs, window = 64, stride = 32)),
      // BM25: corpus stats + df stay broadcast-sized; the tf explode
      // is bounded by |query terms| per doc, so growth is scan-linear
      "search_bm25" -> (() =>
        operators.Search.bm25TopK(docs, Seq("spark", "vector", "slow"), 20)),
      // TF-IDF: tf/df exchanges grow with the token stream (linear);
      // the per-doc ranking window stays doc-bounded
      "text_tfidf" -> (() =>
        operators.TextStats.tfidfTopTerms(docs, k = 5)),
      // PMI: replica-prefixed tokens mean ~N× vocabulary — unigram
      // and bigram count exchanges must stay map-side combined
      "text_collocations" -> (() =>
        operators.TextStats.collocations(docs, minCount = 5, k = 20)),
      // paragraph dedup: keeper aggregation + hash join + doc re-agg,
      // all keyed shuffles — must track the token stream linearly
      "dedup_paragraph" -> (() =>
        operators.Dedup.paragraphDedup(docs)),
      // substring dedup: span-hash inventory is token-linear (the one
      // honest cost of ExactSubstr); dup join-back co-partitioned, so
      // growth must track the token stream, never spans²
      "dedup_substring" -> (() =>
        operators.Dedup.substringDedup(docs)),
      // two chained two-phase ranks (grouped then global): the driver
      // offset tables grow with partitions × strata, never with rows
      "order_interleave" -> (() =>
        operators.TrainingOrder.interleaved(docs,
          Map("en" -> 3.0, "zh" -> 1.5, "fr" -> 0.5), "ep0", stratumCol = "lang")),
      // fused scan kernel: pure per-row pass, must scale with the scan
      "text_entropy" -> (() =>
        operators.TextStats.tokenEntropy(docs)),
      // two chained BM25 passes + expansion selection; stage 2's
      // dynamic-term explode must stay a scan-stage generate+filter
      "search_bm25_prf" -> (() =>
        operators.Search.bm25PrfTopK(docs, Seq("spark", "vector"), 20)),
      // PPJoin: prefixed replicas share no shingles, so the prefix
      // index and candidate set must both grow ~linearly (constant
      // duplicate density — same argument as the LSH family)
      "dedup_ppjoin" -> (() =>
        operators.Dedup.ppjoinPairs(docs)),
      // the low-cardinality-key window, BOTH routes: the plain form's
      // per-type sort is the known skew (its ratio documents the
      // problem), the rank-bucketed route must track rows/bucketRows
      "rolling_anomaly_plain" -> (() =>
        operators.TimeSeries.rollingAnomalies(spark, evDir)),
      "rolling_anomaly_part" -> (() =>
        operators.TimeSeries.rollingAnomaliesPartitioned(spark, evDir)),
      // per-user automaton: N x users with constant series length —
      // one keyed aggregation, must be scan-linear
      "q_sequence_count" -> (() =>
        operators.TimeSeries.sequenceCount(spark, evDir)),
      // incremental MV refresh: delta scan + |groups| merge — growth
      // must track the events scan alone
      "q_mv_merge" -> (() =>
        operators.MaterializedView.mvMerge(spark, evDir)),
      // three chained running-min windows + a same-key reduce on ONE
      // (user_id, ts) sort: N× users at constant series length must be
      // scan-linear (per-user work is constant)
      "q_funnel_seq" -> (() =>
        operators.EventAnalytics.funnel(spark, evDir)),
      // per-user lag window + |types|²-bounded count aggregate
      "q_markov" -> (() =>
        operators.EventAnalytics.markovTransitions(spark, evDir)),
      // two user-keyed stages + (cohort, offset, user) distinct — the
      // distinct's partial dedup must keep the exchange row-linear
      "q_retention" -> (() =>
        operators.EventAnalytics.retention(spark, evDir)),
      // posting-list join against one query doc: verbatim replicas
      // grow every df (and the candidate set) ×N — must stay linear;
      // doc 0 keeps id 0 under the id remap at every factor
      "search_mlt" -> (() =>
        operators.Search.moreLikeThis(v, 0L, 10)),
      // two-phase distributed rank + batch-keyed reduce — same scale
      // shape as order_interleave, plus the batch tiling
      "order_batches" -> (() =>
        operators.TrainingOrder.lengthBatches(docs, 32)),
      // banded kNN graph (the 100 TB route): SRP bucket self-join is
      // Σ bucket² ≤ maxBucket·N per band + exact rerank of candidates
      // — must stay near-linear where the exact all-pairs scorer is
      // inherently quadratic (which is why exact is NOT in this table)
      "knn_graph_banded" -> (() =>
        // auto band geometry
        operators.Similarity.knnGraphBanded(emb, 10)),
      // boilerplate strip: two stacked df aggs + doc reassembly, all
      // keyed shuffles — token-linear like dedup_paragraph
      "text_boilerplate" -> (() =>
        operators.Dedup.boilerplateRemoval(docs)),
      // BPE training: prefixed replicas grow the VOCAB ~N×; per-merge
      // cost must track the distinct-word table, never the corpus
      "text_bpe_train" -> (() =>
        operators.Bpe.trainMerges(docs, numMerges = 5)),
      // hybrid RRF: each leg keeps its own scale shape; fusion is
      // k-bounded — growth must track the slower leg's scan
      "search_hybrid_rrf" -> (() =>
        operators.Search.hybridRrf(v, emb, Seq("spark", "vector", "slow"), 0L, 20)),
      // semantic decontamination: broadcast bench, train-side scan +
      // (id, max) aggregation. The BENCHMARK is constant-size at both
      // scales (id < 500 selects the same vector COUNT under the
      // replica id remap) — eval suites don't grow with the corpus;
      // letting bench scale with N made the cross join honestly
      // quadratic (first run printed 33x) and models nothing real
      "decontaminate_semantic" -> (() =>
        operators.Decontaminate.semanticHits(
          emb.where(col("vec_id") >= 500), emb.where(col("vec_id") < 500))),
      // covariance: the d²-per-row generate is scan CPU, the exchange
      // carries ≤ partitions × d(d+1)/2 rows — must be scan-linear
      "embed_cov" -> (() =>
        operators.EmbeddingStats.covarianceMatrix(emb)),
      // PCA: driver iteration on bounded metadata + one per-row dot
      // pass — must track the two scans (cov + project) linearly
      "embed_pca" -> (() =>
        operators.EmbeddingStats.pcaProjection(emb)),
      // negative mining: rank map + k-per-anchor joins, all keyed —
      // must be row-linear
      "sample_negative" -> (() =>
        operators.Sampling.negativeSample(emb)),
      // nearest as-of: one (user, ts) sort with two direction frames —
      // N× users at constant series length must be scan-linear
      "q_asof_nearest" -> (() => {
        val ev = Tables.events(spark, evDir)
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        operators.AsOfJoin.nearestValueAsOf(
          ev, purchases, "user_id", "ts", "value", "np")
      }),
      // skip-grams: window·tokens pair generate in the scan + one
      // pair-keyed count. NOTE the prefixed amplification inflates
      // token BYTES ~1.7× (r{rep}_ on ~4-char tokens), so the pair
      // shuffle carries ~17× bytes at 10× rows — the measured ~11.4×
      // wall is sub-linear in byte volume, the honest unit for a
      // string-pair-keyed exchange
      "text_skipgrams" -> (() =>
        operators.TextStats.skipgrams(docs, window = 2, k = 20)))

  private def run(spark: SparkSession, path: String, verbatimPath: String,
                  embPath: String, evDir: String, label: String,
                  only: Option[Set[String]]): Map[String, Double] = {
    ops(spark, spark.read.parquet(path), spark.read.parquet(verbatimPath),
        spark.read.parquet(embPath), evDir)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, f) =>
      timeNoop(f) // warm-up
      val secs = timeNoop(f)
      println(f"[stress] $label $name%-24s ${secs}%8.2fs")
      name -> secs
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_STRESS_FACTOR", "10").toInt
    val spark = GraftSession.get()
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_stress"

    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    // dev affordance: SPARK_GRAFT_STRESS_ONLY=a,b,c restricts the run;
    // an unknown name throws here, before any table is written
    val only = SparkEntry.filterNames(sys.env.get("SPARK_GRAFT_STRESS_ONLY"),
      ops(spark, docs, docs, emb, sfDir).map(_._1).toSet)
    val base = docs.count()
    docs.write.mode("overwrite").parquet(s"$tmp/x1")
    docs.write.mode("overwrite").parquet(s"$tmp/x1t")
    emb.write.mode("overwrite").parquet(s"$tmp/e1")
    ev.write.mode("overwrite").parquet(s"$tmp/ev1/events.parquet")
    amplify(docs, factor).write.mode("overwrite").parquet(s"$tmp/x$factor")
    amplifyVerbatim(docs, factor).write.mode("overwrite").parquet(s"$tmp/x${factor}t")
    amplifyEmbeddings(emb, factor).write.mode("overwrite").parquet(s"$tmp/e$factor")
    amplifyEvents(ev, factor).write.mode("overwrite")
      .parquet(s"$tmp/ev$factor/events.parquet")
    println(s"[stress] rows: ${base} -> ${base * factor} (${factor}x)")

    val t1 = run(spark, s"$tmp/x1", s"$tmp/x1t", s"$tmp/e1", s"$tmp/ev1", "1x ", only)
    val tN = run(spark, s"$tmp/x$factor", s"$tmp/x${factor}t", s"$tmp/e$factor",
      s"$tmp/ev$factor", s"${factor}x", only)
    t1.keys.foreach { k =>
      val ratio = tN(k) / t1(k)
      println(f"[stress] ratio $k%-24s ${ratio}%5.2fx time for ${factor}x data " +
        (if (ratio <= factor) "(sub-linear: OK)" else "(SUPER-LINEAR: investigate)"))
    }
    spark.stop()
  }
}
