package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ClusteredParquet
import java.nio.file.Files

class ClusteredParquetSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val tmp = Files.createTempDirectory("graft-clustered").toString

  test("partitioned layout prunes whole partitions at planning time") {
    val docs = Tables.documents(spark, sf)
    val path = s"$tmp/partitioned"
    ClusteredParquet.writePartitioned(docs, path, "lang")
    val q = ClusteredParquet.read(spark, path).where(col("lang") === "en")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang predicate must be a partition filter:\n$plan")
    // the scan must emit ONLY the en partition's rows — directories
    // for other languages are never read
    val enRows = docs.where(col("lang") === "en").count()
    assert(ClusteredParquet.scanOutputRows(q) == enRows,
      "partition pruning must skip every non-en directory")
    // and composes with row-group pruning inside the partition
    val both = ClusteredParquet.read(spark, path)
      .where(col("lang") === "en" && col("doc_id") < 50)
    assert(ClusteredParquet.scanOutputRows(both) < enRows)
  }

  test("R7: clustered write produces files covering disjoint doc_id ranges") {
    val docs = Tables.documents(spark, sf)
    val path = s"$tmp/clustered"
    ClusteredParquet.write(docs, path, numFiles = 4, rowGroupBytes = 1024)
    // per-file [min,max] doc_id ranges must not overlap — that is what
    // makes footer stats prunable
    val perFile = ClusteredParquet.read(spark, path)
      .select(input_file_name().as("f"), col("doc_id"))
      .groupBy("f").agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length >= 2, "expected multiple range-partitioned files")
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, "file ranges overlap")
      case _ =>
    }
    assert(ClusteredParquet.read(spark, path).count() == docs.count())
  }

  test("R8: point lookup on the clustered layout prunes row groups; unclustered does not") {
    val docs = Tables.documents(spark, sf)
    val total = docs.count()
    val clusteredPath = s"$tmp/clustered8"
    val shuffledPath = s"$tmp/shuffled8"
    ClusteredParquet.write(docs, clusteredPath, numFiles = 4, rowGroupBytes = 1024)
    // adversarial layout: same data, random row order (stats useless)
    docs.orderBy(xxhash64(col("doc_id"))).coalesce(4)
      .write.mode("overwrite").parquet(shuffledPath)

    val ids = Seq(3L, 250L, 480L).filter(_ < total)
    val clusteredScan = ClusteredParquet.scanOutputRows(
      ClusteredParquet.pointLookup(spark, clusteredPath, ids))
    val shuffledScan = ClusteredParquet.scanOutputRows(
      graft.operators.InvertedIndex.restrictToDocIds(
        ClusteredParquet.read(spark, shuffledPath), ids))
    assert(clusteredScan < shuffledScan,
      s"clustered scan ($clusteredScan rows) should read fewer rows than shuffled ($shuffledScan)")
    assert(clusteredScan < total,
      s"clustered point lookup must not read the whole table ($clusteredScan of $total)")
    // correctness unchanged by layout
    val got = ClusteredParquet.pointLookup(spark, clusteredPath, ids)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == ids.toSet)
  }

  test("R2 over a large contiguous id set counts the scan behind the aggregation's stages") {
    val total = 20000L
    val path = s"$tmp/clustered_r2"
    ClusteredParquet.write(spark.range(total)
      .select(col("id").as("doc_id"), (col("id") % 7).cast("string").as("source")),
      path, numFiles = 4, rowGroupBytes = 1024)
    val ids = 5000L until 6001L
    val r2 = graft.operators.InvertedIndex.fieldValuesByDocIds(
      ClusteredParquet.read(spark, path), "source", ids)
    val scanned = ClusteredParquet.scanOutputRows(r2)
    assert(scanned >= ids.size && scanned < total,
      s"expected the pruned scan's rows, between ${ids.size} and $total: $scanned")
    assert(r2.collect().map(_.getLong(2)).sum == ids.size)
  }
}
