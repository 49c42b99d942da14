package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.plans.LargeInListToJoin

/** Inverted-index query family — the reference engine's namesake
  * surface (reference src/main.rs:260-689):
  *
  *  - `fieldValues` (R1, src/main.rs:398-499): full inverted index for
  *    a field — every distinct value mapped to the sorted posting list
  *    of doc_ids holding it.
  *  - `fieldValuesByDocIds` (R2, src/main.rs:271-395): the same index
  *    restricted to a caller-supplied doc-id set.
  *  - `numericStats` (R3, src/main.rs:611-689): {min, max, avg} of a
  *    numeric field over all docs.
  *  - `numericStatsByDocIds` (R4, src/main.rs:510-608): the same over
  *    a doc-id set.
  *  - `fieldNameToColumn` (R5, src/main.rs:260-262): dotted field paths
  *    resolve to flattened `_` columns (`user.metrics.clicks` →
  *    `user_metrics_clicks`), matching graft.operators.NestedIngest's
  *    flattening.
  *
  * Spark-first design, NOT a port: the reference collects (column,
  * doc_id) pairs to the driver and builds a HashMap single-threaded
  * (src/main.rs:432-491). Here the grouping IS the plan —
  * `groupBy(value).agg(sort_array(collect_list(doc_id)))` runs a
  * partial (map-side) aggregation per partition and shuffles once on
  * the field value; posting lists never pass through the driver.
  *
  * Scale notes (100 TB):
  *  - one shuffle keyed on the field value; per-key state is one
  *    posting list, skew absorbed by AQE. For web-scale cardinality a
  *    caller can pre-bucket by value range — the plan shape is
  *    unchanged.
  *  - doc-id restricted variants NEVER shuffle the fact table: small
  *    sets (≤ `LargeInListToJoin.Threshold`) become an `isin` literal
  *    predicate that Catalyst pushes into the parquet scan, where
  *    row-group min/max stats on a doc_id-clustered layout
  *    (graft.sources.ClusteredParquet) prune all non-matching row
  *    groups — the reference's point-lookup perf contract (README "100
  *    doc_ids in ~1s on 10M rows"). Larger sets take
  *    `LargeInListToJoin`'s plan: a pushed id-range predicate (same
  *    pruning) over a semi-join against the id relation.
  */
object InvertedIndex {

  /** R5: dotted field path → flattened physical column name. */
  def fieldNameToColumn(fieldName: String): String = fieldName.replace('.', '_')

  /** R1: full inverted index — one row per distinct field value with
    * its sorted doc_id posting list.
    *
    * `dropNullValues = false` skips the null-value filter. Use it when
    * the value column is derived from an expensive expression
    * (`from_json`, regex) that the pipeline already guarantees
    * non-null: Catalyst pushes an `isNotNull(value)` predicate below
    * the deriving projection, re-evaluating the expensive expression a
    * second time inside the scan filter — a measured 2× on JSON-backed
    * indexes (PLANS.md `ii_nested_field_values`, round 2). */
  def fieldValues(df: DataFrame, fieldName: String, docIdCol: String = "doc_id",
                  dropNullValues: Boolean = true): DataFrame = {
    val c = fieldNameToColumn(fieldName)
    val projected = df.select(col(c).as("value"), col(docIdCol).cast("long").as("doc_id"))
    (if (dropNullValues) projected.where(col("value").isNotNull) else projected)
      .groupBy(col("value"))
      // graft_sorted_ids ≡ sort_array(collect_list(id)) with a
      // primitive-long buffer: a hot value (one language ≈ 40% of a
      // corpus) puts millions of ids in ONE group, and the boxed
      // collect_list path turns that group into GC churn — measured
      // 3–69 s swings at 10M rows vs ~1 s steady on this aggregate
      .agg(call_function("graft_sorted_ids", col("doc_id")).as("doc_ids"),
           count(lit(1)).as("n_docs"))
  }

  /** Restrict `df` to a doc-id set without shuffling `df`, keeping its
    * columns and each matching row once: literal `isin` pushdown for at
    * most `LargeInListToJoin.Threshold` distinct ids, above that
    * `LargeInListToJoin.semiJoin`'s plan. For such sets the doc-id
    * column must be a long or an int; ids outside an int column's range
    * match nothing. */
  def restrictToDocIds(df: DataFrame, docIds: Seq[Long], docIdCol: String = "doc_id"): DataFrame = {
    val ids = docIds.distinct
    if (ids.isEmpty) df.where(lit(false))
    else if (ids.size <= LargeInListToJoin.Threshold) df.where(col(docIdCol).isin(ids: _*))
    else {
      val spark = df.sparkSession
      val plan = df.queryExecution.analyzed
      val attr = plan.resolveQuoted(docIdCol, spark.sessionState.conf.resolver) match {
        case Some(a: Attribute) => a
        case _ => throw new IllegalArgumentException(s"no top-level column $docIdCol in ${plan.output}")
      }
      val values: Seq[Any] = attr.dataType match {
        case LongType => ids
        case IntegerType => ids.filter(_.isValidInt).map(_.toInt)
        case t => throw new IllegalArgumentException(
          s"doc-id column $docIdCol must be long or int for a large id set, not $t")
      }
      if (values.isEmpty) df.where(lit(false))
      else DatasetBridge.ofRows(spark, LargeInListToJoin.semiJoin(plan, attr, values))
    }
  }

  /** R2: inverted index restricted by doc-id set. */
  def fieldValuesByDocIds(df: DataFrame, fieldName: String, docIds: Seq[Long],
                          docIdCol: String = "doc_id"): DataFrame =
    fieldValues(restrictToDocIds(df, docIds, docIdCol), fieldName, docIdCol)

  /** R1 at scale: chunked posting lists. A single `collect_list` row
    * per value is the one unbounded-state hazard in `fieldValues` — at
    * 100 TB a hot value's posting list is billions of ids in one
    * aggregation buffer. Chunking by doc-id range caps every row at
    * `chunkSize` ids while keeping lists sorted (chunks are ordered by
    * `chunk`, ids sorted within); consumers stream chunks instead of
    * materializing the full list, and the doc-id-clustered layout
    * (graft.sources.ClusteredParquet) means a chunk maps to a
    * contiguous file range. */
  def fieldValuesChunked(df: DataFrame, fieldName: String, chunkSize: Long = 1 << 20,
                         docIdCol: String = "doc_id"): DataFrame = {
    val c = fieldNameToColumn(fieldName)
    // floorDiv via integral ops: `/` is a double divide, so ids above
    // 2^53 silently land in the wrong chunk; `pmod` keeps negative ids
    // floor-consistent (chunk -1 stays distinct from chunk 0), matching
    // DuckDB's `//` semantics.
    val chunk = expr(s"(doc_id - pmod(doc_id, ${chunkSize}L)) DIV ${chunkSize}L")
    df.select(col(c).as("value"), col(docIdCol).cast("long").as("doc_id"))
      .where(col("value").isNotNull)
      .groupBy(col("value"), chunk.as("chunk"))
      .agg(call_function("graft_sorted_ids", col("doc_id")).as("doc_ids"),
           count(lit(1)).as("n_docs"))
  }

  /** Index maintenance: merge a delta index (from newly appended docs)
    * into a base index, chunk by chunk — the compaction step that
    * keeps an inverted index current without re-scanning the corpus.
    *
    * Both sides carry the `fieldValuesChunked` schema
    * (value, chunk, doc_ids, n_docs). The merge is a full-outer join
    * on (value, chunk): chunks present on one side only pass through
    * untouched; chunks present on both concatenate + re-sort their
    * (bounded, ≤ chunkSize) posting lists. At scale the base is stored
    * bucketed on (value, chunk), so the join shuffles ONLY the delta —
    * merge cost is O(delta + touched chunks), never O(corpus).
    * Precondition (append-only log): delta doc ids are disjoint from
    * the base's.
    *
    * Invariant (the spec + driver oracle): merge(index(A), index(B))
    * == index(A ∪ B). */
  def mergeChunked(base: DataFrame, delta: DataFrame): DataFrame = {
    val emptyIds = array().cast("array<bigint>")
    base.as("b").join(delta.as("d"), Seq("value", "chunk"), "full_outer")
      .select(col("value"), col("chunk"),
        sort_array(concat(
          coalesce(col("b.doc_ids"), emptyIds),
          coalesce(col("d.doc_ids"), emptyIds))).as("doc_ids"),
        (coalesce(col("b.n_docs"), lit(0L)) + coalesce(col("d.n_docs"), lit(0L))).as("n_docs"))
  }

  /** Index maintenance: DELETE a set of doc ids from a chunked index
    * (the tombstone-application step of the add → merge → delete
    * lifecycle). Deleted ids are grouped into per-chunk lists first,
    * so the join touches ONLY chunks whose id range contains a
    * deletion — cost is O(deletes + touched chunks), never O(index);
    * untouched chunks pass through without rewriting their posting
    * lists. array_except preserves the left list's sorted order, and
    * emptied chunks drop out of the index entirely.
    *
    * Invariant (the driver oracle): delete(index(A), D) ==
    * index(A \ D). `chunkSize` must match the index's. */
  def deleteFromChunked(index: DataFrame, deletes: DataFrame,
                        chunkSize: Long = 1 << 20,
                        docIdCol: String = "doc_id"): DataFrame = {
    val dchunks = deletes
      .select(col(docIdCol).cast("long").as("__del"))
      .select(col("__del"),
        expr(s"(__del - pmod(__del, ${chunkSize}L)) DIV ${chunkSize}L").as("chunk"))
      .groupBy(col("chunk")).agg(collect_list(col("__del")).as("__dels"))
    index.join(dchunks, Seq("chunk"), "left")
      .select(col("value"), col("chunk"),
        when(col("__dels").isNull, col("doc_ids"))
          .otherwise(array_except(col("doc_ids"), col("__dels"))).as("doc_ids"))
      .withColumn("n_docs", size(col("doc_ids")).cast("long"))
      .where(col("n_docs") > 0)
  }

  /** Index maintenance: COMPACT a chunked index onto a coarser doc-id
    * grid — the final step of the build → merge → delete → compact
    * lifecycle. After heavy deletion, posting chunks shrink far below
    * `chunkSize` and per-chunk overhead (row metadata, one seek per
    * chunk) starts to dominate reads; compaction re-chunks every value
    * onto spans of `factor` × the original width.
    *
    * Because chunk spans NEST (the new width is an exact multiple),
    * every old chunk maps wholly into floorDiv(chunk, factor): the
    * whole operation is one (value, new_chunk) aggregation whose
    * inputs are already-sorted bounded lists — concatenate ≤ factor of
    * them, re-sort, sum counts. No id is ever re-derived from the
    * corpus, so compaction cost is O(index), never O(data).
    *
    * Invariant (the driver oracle): compact(index(A, s), f) ==
    * index(A, f·s) — including after deletions, since emptied chunks
    * were already dropped. */
  def compactChunked(index: DataFrame, factor: Long = 4): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    // floorDiv on the chunk ordinal (spans nest): integral ops so
    // negative chunk ids stay floor-consistent
    val newChunk = expr(s"(chunk - pmod(chunk, ${factor}L)) DIV ${factor}L")
    index.groupBy(col("value"), newChunk.as("chunk"))
      .agg(sort_array(flatten(collect_list(col("doc_ids")))).as("doc_ids"),
        sum(col("n_docs")).as("n_docs"))
  }

  /** R3: {min, max, avg} of a numeric field over all docs — a single
    * partial-aggregate pass, one-row result. Doubles match the
    * reference's Float64 casts (src/main.rs:562-573). */
  def numericStats(df: DataFrame, fieldName: String): DataFrame = {
    val c = fieldNameToColumn(fieldName)
    df.agg(
      min(col(c)).cast("double").as("min_v"),
      max(col(c)).cast("double").as("max_v"),
      avg(col(c).cast("double")).as("avg_v"))
      .select(lit(fieldName).as("field"), col("min_v"), col("max_v"), col("avg_v"))
  }

  /** R4: numeric stats restricted by doc-id set. */
  def numericStatsByDocIds(df: DataFrame, fieldName: String, docIds: Seq[Long],
                           docIdCol: String = "doc_id"): DataFrame =
    numericStats(restrictToDocIds(df, docIds, docIdCol), fieldName)
}
