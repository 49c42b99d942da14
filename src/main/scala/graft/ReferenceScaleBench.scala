package graft

/** Same-scale benchmark against the reference README's published
  * numbers (reference README.md "Query Performance": 10M rows, 700MB
  * clustered parquet, per-query 0.61–1.14s with a Memory Impact
  * column; reference src/main.rs:700-760 runs the same five shapes).
  *
  * Builds a 10M-row documents table (sf0.1 amplified by `ScaleUp`'s
  * verbatim mode: remapped doc ids, replica text kept as it is — the
  * inverted-index family never reads text), writes it through
  * ClusteredParquet (the layout the reference benchmarks against:
  * doc_id-sorted, zstd, stats), and runs the reference's query shapes through
  * QueryInstrumentation so each line reports wall time AND memory —
  * the two columns of the reference's table. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.ReferenceScaleBench"
  */
object ReferenceScaleBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val target = sys.env.getOrElse("SPARK_GRAFT_REF_ROWS", "10000000").toLong
    val spark = GraftSession.get()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_refscale"

    val docs = Tables.documents(spark, sfDir)
    val base = docs.count()
    val factor = math.max(1L, target / base).toInt
    val t0 = System.nanoTime()
    sources.ClusteredParquet.write(ScaleUp.documents(docs, factor, "verbatim"), path, numFiles = 32)
    val rows = spark.read.parquet(path).count()
    println(f"[refscale] wrote $rows%,d rows clustered in ${(System.nanoTime() - t0) / 1e9}%.1fs")

    // 100 evenly spaced ids — the reference's by-doc-ids workload
    // (src/main.rs:731)
    val step = rows / 100
    val ids = (0L until 100L).map(_ * step)
    val table = spark.read.parquet(path)

    // the reference's five query shapes (README table rows)
    val queries: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      // get_field_values_refactored: full inverted index, 10M ids out
      "field_values(lang)           " -> (() =>
        operators.InvertedIndex.fieldValues(table, "lang")),
      // the chunked form is the shape that survives hot values at 100 TB
      "field_values_chunked(source) " -> (() =>
        operators.InvertedIndex.fieldValuesChunked(table, "source", chunkSize = 1 << 20)),
      // get_field_values_by_doc_ids: 100 ids -> pruned scan
      "field_values_by_doc_ids      " -> (() =>
        operators.InvertedIndex.fieldValuesByDocIds(table, "source", ids)),
      // get_numeric_stats_refactored
      "numeric_stats(n_chars)       " -> (() =>
        operators.InvertedIndex.numericStats(table, "n_chars")),
      // get_numeric_stats_by_doc_ids
      "numeric_stats_by_doc_ids     " -> (() =>
        operators.InvertedIndex.numericStatsByDocIds(table, "n_chars", ids)),
      // the R8 point-lookup contract ("100 doc_ids in ~1s on 10M rows")
      "point_lookup(100 ids)        " -> (() =>
        sources.ClusteredParquet.pointLookup(spark, path, ids)))

    queries.foreach { case (_, f) => QueryInstrumentation.noop(f()) } // warm
    val lines = queries.map { case (name, f) =>
      // median of 3 instrumented runs (the Bench discipline): the
      // 10M-row amplify+write right above leaves GC debt in this same
      // JVM, and a single sample has been observed to swing 0.9–3.9 s
      // on an idle box — one-off pauses land on whichever run draws
      // them, the median doesn't
      val runs = (1 to 3).map(_ => QueryInstrumentation.materialize(name.trim, f()))
      val stats = runs.sortBy(_.totalMs).apply(1)
      println(f"[refscale] $name total=${stats.totalMs / 1000.0}%6.2fs " +
        f"peakTaskMem=${stats.peakTaskMemory / 1024.0 / 1024.0}%8.2fMB " +
        f"shuffleR=${stats.shuffleReadBytes / 1024.0 / 1024.0}%7.2fMB")
      s"""  "${name.trim}": {"sec": ${stats.totalMs / 1000.0}, """ +
        s""""peak_task_mem_mb": ${stats.peakTaskMemory / 1024.0 / 1024.0}, """ +
        s""""shuffle_read_mb": ${stats.shuffleReadBytes / 1024.0 / 1024.0}}"""
    }
    // driver artifact: the reference-parity numbers (vs the reference
    // README's published 10M-row table) as per-round JSON, not prose
    val out = sys.env.getOrElse("SPARK_GRAFT_REFSCALE_OUT", "REFSCALE.json")
    val json = s"""{\n  "rows": $rows,\n""" +
      // reference README.md "Query Performance" table (10M rows):
      // by_doc_ids 1.10/1.01s, field_values 1.14s, numeric_stats
      // by_doc_ids 1.01/1.02s, numeric_stats 0.61s
      s"""  "reference_published_sec": {"field_values": 1.14, "field_values_by_doc_ids": 1.05, "numeric_stats": 0.61, "numeric_stats_by_doc_ids": 1.01, "point_lookup_100": 1.05},\n""" +
      lines.mkString("", ",\n", "\n}\n")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    catch { case e: Throwable => System.err.println(s"[refscale] artifact write failed: ${e.getMessage}") }
    spark.stop()
  }
}
