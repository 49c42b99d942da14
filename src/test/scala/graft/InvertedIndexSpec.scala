package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.InvertedIndex
import graft.plans.LargeInListToJoin

class InvertedIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private def docs = Tables.documents(spark, sf)

  test("delta merge equals a full rebuild, and passthrough chunks are untouched") {
    import org.apache.spark.sql.functions._
    val base = operators.InvertedIndex.fieldValuesChunked(
      docs.where(col("doc_id") % 10 =!= 0), "source", chunkSize = 100)
    val delta = operators.InvertedIndex.fieldValuesChunked(
      docs.where(col("doc_id") % 10 === 0), "source", chunkSize = 100)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getSeq[Long](2), r.getLong(3))).toMap
    val merged = canon(operators.InvertedIndex.mergeChunked(base, delta))
    val rebuilt = canon(operators.InvertedIndex.fieldValuesChunked(docs, "source", chunkSize = 100))
    assert(merged == rebuilt)
    // a chunk with no delta docs must come through bit-identical
    val baseOnly = canon(base).keySet -- canon(delta).keySet
    assert(baseOnly.nonEmpty, "need at least one untouched chunk for the passthrough case")
    baseOnly.foreach(k => assert(merged(k) == canon(base)(k)))
    // and a delta-only chunk appears verbatim
    val deltaOnly = canon(delta).keySet -- canon(base).keySet
    deltaOnly.foreach(k => assert(merged(k) == canon(delta)(k)))
  }

  test("R5: dotted field paths resolve to flattened columns") {
    assert(InvertedIndex.fieldNameToColumn("user.metrics.clicks") == "user_metrics_clicks")
    assert(InvertedIndex.fieldNameToColumn("level") == "level")
  }

  test("R1: posting lists are sorted and partition all doc_ids exactly once") {
    val rows = InvertedIndex.fieldValues(docs, "lang").collect()
    assert(rows.nonEmpty)
    val all = rows.flatMap(_.getSeq[Long](1))
    rows.foreach { r =>
      val ids = r.getSeq[Long](1)
      assert(ids.sameElements(ids.sorted), s"unsorted posting list for ${r.get(0)}")
      assert(r.getLong(2) == ids.length, "n_docs must equal posting list length")
    }
    val total = docs.count()
    assert(all.length == total, "every doc appears in exactly one posting list")
    assert(all.toSet.size == all.length, "no doc_id repeats across values of one field")
  }

  test("R2: restricted index contains exactly the requested ids") {
    val ids = Seq(0L, 5L, 10L, 999999L) // last one absent from the table
    val rows = InvertedIndex.fieldValuesByDocIds(docs, "lang", ids).collect()
    val got = rows.flatMap(_.getSeq[Long](1)).toSet
    assert(got == Set(0L, 5L, 10L))
  }

  test("R2: small id-set becomes a pushed In predicate, not a join") {
    val plan = InvertedIndex.restrictToDocIds(docs, Seq(1L, 2L, 3L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(doc_id"),
      s"expected In(doc_id...) pushed to the scan:\n$plan")
    assert(!plan.contains("Join"), "small sets must not plan a join")
  }

  test("R2: large id-set becomes the doc-id kernel with a pushed range predicate") {
    val big = (0L until LargeInListToJoin.Threshold + 1L)
    val df = InvertedIndex.restrictToDocIds(docs, big)
    assert(df.collect().length == docs.count())
    LargeSetPlan.assertKernelPlan(df, "doc_id")
  }

  test("R2/R4 on large id sets reuse their generated code across id sets") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // contiguous and scattered 5,000-id sets; `shift` picks a different
    // set of the same shape
    def run(shift: Long): Unit = Seq(
      (0L until 5000L).map(_ + shift), (0L until 5000L).map(i => i * 7 + shift)).foreach { ids =>
      InvertedIndex.fieldValuesByDocIds(docs, "lang", ids).collect()
      InvertedIndex.numericStatsByDocIds(docs, "n_chars", ids).collect()
    }
    run(0L)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(3L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "a new id set of the same shape must not compile new generated classes")
  }

  test("R2/R4/restrictToDocIds: duplicate ids give the distinct set's result on every route") {
    val cols = Seq("lang", "n_chars", "doc_id")
    val narrow = docs.select(cols.map(col): _*)
    def r2(ids: Seq[Long]) = InvertedIndex.fieldValuesByDocIds(docs, "lang", ids).collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    def r4(ids: Seq[Long]) = InvertedIndex.numericStatsByDocIds(docs, "n_chars", ids)
      .collect()(0).toSeq
    def rows(ids: Seq[Long]) = InvertedIndex.restrictToDocIds(narrow, ids).collect()
      .map(_.toSeq).sortBy(_(2).asInstanceOf[Long]).toSeq
    Seq(300, LargeInListToJoin.Threshold, LargeInListToJoin.Threshold + 1, 12000).foreach { n =>
      val ids = (0 until n).map(_ * 3L)
      val withDups = ids ++ ids.take(3)
      assert(r2(withDups) == r2(ids), s"R2 differs with duplicates at $n ids")
      assert(r4(withDups) == r4(ids), s"R4 differs with duplicates at $n ids")
      val got = rows(withDups)
      assert(got == rows(ids) && got.nonEmpty, s"rows differ with duplicates at $n ids")
      assert(InvertedIndex.restrictToDocIds(narrow, withDups).columns.toSeq == cols,
        s"column order changed at $n ids")
    }
  }

  test("restrictToDocIds above the threshold on an int doc-id column") {
    val intDocs = docs.withColumn("doc_id", col("doc_id").cast("int"))
    val ids = (0 until LargeInListToJoin.Threshold + 500).map(_ * 2L) :+ (Int.MaxValue + 2L)
    val got = InvertedIndex.restrictToDocIds(intDocs, ids)
    assert(got.schema("doc_id").dataType == org.apache.spark.sql.types.IntegerType)
    val want = docs.select("doc_id").collect().map(_.getLong(0)).filter(ids.toSet).toSet
    assert(got.select("doc_id").collect().map(_.getInt(0).toLong).toSet == want && want.nonEmpty)
  }

  test("R1 chunked: concatenated chunks reproduce the full posting list, bounded per row") {
    val full = InvertedIndex.fieldValues(docs, "lang").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val chunked = InvertedIndex.fieldValuesChunked(docs, "lang", chunkSize = 50)
      .orderBy(col("value"), col("chunk")).collect()
    chunked.foreach(r => assert(r.getSeq[Long](2).length <= 50,
      "no chunk may exceed chunkSize"))
    val reassembled = chunked.groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getLong(1)).flatMap(_.getSeq[Long](2)).toSeq).toMap
    assert(reassembled == full.view.mapValues(_.toSeq).toMap)
  }

  test("R3/R4: numeric stats match a direct computation") {
    val r = InvertedIndex.numericStats(docs, "n_chars").collect()(0)
    val direct = docs.agg(min("n_chars").cast("double"), max("n_chars").cast("double"),
      avg("n_chars")).collect()(0)
    assert(r.getString(0) == "n_chars")
    assert(r.getDouble(1) == direct.getDouble(0))
    assert(r.getDouble(2) == direct.getDouble(1))
    assert(math.abs(r.getDouble(3) - direct.getDouble(2)) < 1e-9)

    val ids = Seq(0L, 1L, 2L)
    val sub = InvertedIndex.numericStatsByDocIds(docs, "n_chars", ids).collect()(0)
    val subDirect = docs.where(col("doc_id").isin(ids: _*))
      .agg(min("n_chars").cast("double"), max("n_chars").cast("double"), avg("n_chars"))
      .collect()(0)
    assert(sub.getDouble(1) == subDirect.getDouble(0))
    assert(sub.getDouble(2) == subDirect.getDouble(1))
    assert(math.abs(sub.getDouble(3) - subDirect.getDouble(2)) < 1e-9)
  }

  test("R4: empty id set yields empty-input stats, not an error") {
    val r = InvertedIndex.numericStatsByDocIds(docs, "n_chars", Seq.empty).collect()(0)
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("chunked delete == rebuild without the deleted docs; untouched chunks intact") {
    import org.apache.spark.sql.functions._
    val idx = InvertedIndex.fieldValuesChunked(docs, "lang", chunkSize = 50)
    val dels = docs.where(col("doc_id") % 5 === 0)
    val afterDelete = InvertedIndex
      .deleteFromChunked(idx, dels, chunkSize = 50)
      .select(col("value"), col("chunk"), col("doc_ids"), col("n_docs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2), r.getLong(3))).toSet
    val rebuilt = InvertedIndex
      .fieldValuesChunked(docs.where(col("doc_id") % 5 =!= 0), "lang", chunkSize = 50)
      .select(col("value"), col("chunk"), col("doc_ids"), col("n_docs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2), r.getLong(3))).toSet
    assert(afterDelete == rebuilt && afterDelete.nonEmpty)
    // deleting nothing is the identity
    val noop = InvertedIndex.deleteFromChunked(idx, docs.where(lit(false)), chunkSize = 50)
    assert(noop.count() == idx.count())
  }

  test("compaction == rebuild at the coarser width, after deletion too") {
    import org.apache.spark.sql.functions._
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("value"), col("chunk"), col("doc_ids"), col("n_docs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2), r.getLong(3))).toSet
    val idx = InvertedIndex.fieldValuesChunked(docs, "lang", chunkSize = 50)
    // plain compaction: factor 4 over the full index
    assert(canon(InvertedIndex.compactChunked(idx, factor = 4)) ==
      canon(InvertedIndex.fieldValuesChunked(docs, "lang", chunkSize = 200)))
    // the lifecycle case: delete then compact == rebuild-without at 4×
    val survivors = docs.where(col("doc_id") % 5 =!= 0)
    val afterDelete = InvertedIndex.deleteFromChunked(
      idx, docs.where(col("doc_id") % 5 === 0), chunkSize = 50)
    assert(canon(InvertedIndex.compactChunked(afterDelete, factor = 4)) ==
      canon(InvertedIndex.fieldValuesChunked(survivors, "lang", chunkSize = 200)))
    // factor 1 is the identity
    assert(canon(InvertedIndex.compactChunked(idx, factor = 1)) == canon(idx))
  }

  test("graft_sorted_ids == sort_array(collect_list) across partitions, " +
    "duplicates, negatives, nulls; partial-merge path exercised") {
    import spark.implicits._
    // adversarial ids: duplicates, negatives, Long extremes; a null id
    // per group (skipped, like collect_list); spread over 8 partitions
    // so the map-side partials genuinely merge
    val rows = (0 until 4000).map { i =>
      val g = i % 7
      val id: java.lang.Long =
        if (i % 97 == 0) null
        else if (i % 13 == 0) Long.MinValue + g
        else if (i % 11 == 0) -i.toLong
        else (i % 251).toLong // duplicates within and across partitions
      (s"g$g", id)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8)).toDF("value", "doc_id")
    val got = df.groupBy($"value")
      .agg(call_function("graft_sorted_ids", $"doc_id").as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val want = df.where($"doc_id".isNotNull).groupBy($"value")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (g, ids) => assert(ids == want(g), s"group $g") }
    // the aggregate must keep a map-side partial phase (the shuffle
    // carries one buffer per (partition, group), never raw rows)
    val plan = df.groupBy($"value")
      .agg(call_function("graft_sorted_ids", $"doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("partial_graft_sorted_ids"),
      s"expected a partial aggregation phase:\n$plan")
  }

  test("graft_sorted_ids buffer fails CLEARLY past the 2 GiB serialized " +
    "frame bound instead of a negative allocation") {
    import graft.functions.expr.LongVec
    // MaxElems keeps BOTH per-group frames inside their limits:
    // serialize's one byte frame (4 + 8n <= Int.MaxValue) ...
    assert(4L + LongVec.MaxElems * 8L <= Int.MaxValue.toLong)
    // ... and eval's UnsafeArrayData frame (8-byte header +
    // ceil(n/64)*8 bitmap + 8n values <= MAX_ROUNDED_ARRAY_LENGTH =
    // Int.MaxValue - 15) — the binding limit; one element more must
    // overflow it, so no group can pass the guard yet die at eval
    def unsafeFrame(n: Long): Long = 8L + ((n + 63L) / 64L) * 8L + 8L * n
    assert(unsafeFrame(LongVec.MaxElems) <= Int.MaxValue.toLong - 15L)
    assert(unsafeFrame(LongVec.MaxElems + 1) > Int.MaxValue.toLong - 15L)
    // fake a buffer already AT the cap (n is set without allocating —
    // the guard must throw before any copy touches the array)
    val full = new LongVec
    full.n = LongVec.MaxElems.toInt
    val e1 = intercept[IllegalStateException](full.add(1L))
    assert(e1.getMessage.contains("posting list too large"))
    val other = new LongVec
    other.n = 17
    val e2 = intercept[IllegalStateException](full.mergeFrom(other))
    assert(e2.getMessage.contains("posting list too large"))
  }
}
