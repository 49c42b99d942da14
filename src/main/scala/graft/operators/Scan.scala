package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge

import graft.functions.expr.PartitionPrefixSum

/** The distributed exclusive prefix scan under every rank and running
  * offset in graft (training order, SNM candidates, sampling,
  * quintiles, quantile brackets, Gini, sequence packing). A window
  * ordered without a partition key holds the whole frame in one task,
  * and one partitioned by the group holds each whole group; the scan
  * is the two-phase form instead:
  *
  *   1. range-partition on (group, order) and sort within each
  *      partition — the only exchange — then run `PartitionPrefixSum`
  *      down each partition, all inside one `Checkpoints.fence`:
  *      RangePartitioner samples its boundaries again in every job, and
  *      the later phases must see the rows where this one put them;
  *   2. total each (partition, group) cell, collect the totals and scan
  *      them into one offset per cell on the driver. Range partitioning
  *      splits a group only across adjacent partitions, so there are at
  *      most partitions + groups − 1 cells;
  *   3. broadcast the offsets back, joined null-safe on the group.
  */
object Scan {

  /** `df` plus a long column `out`: for each row, the sum of `weight`
    * over the rows of its group that sort before it under `order` (an
    * exclusive prefix sum); with the default weight of 1, the row's
    * 0-based rank in its group. `group` names a column of `df` (None:
    * one group), and a NULL group key is a group like any other. The
    * caller writes each sort expression's NULL order out. Rows tied
    * under `order` take their places in an arbitrary order, so a
    * reproducible rank needs a unique last key. `weight` is read from
    * `df`'s columns; a NULL weight adds nothing. */
  def prefix(df: DataFrame, group: Option[String], order: Seq[Column],
             out: String, weight: Column = lit(1L)): DataFrame = {
    val g = group.map(col).toSeq
    val sort = g.map(_.asc) ++ order
    val w = weight.cast("long")
    val local = Checkpoints.fence(df
      .repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions, sort: _*)
      .sortWithinPartitions(sort: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__sum", DatasetBridge.column(w)(PartitionPrefixSum)))
    // The cells in their rows' order (partition, then group), scanned on
    // the driver: a cell's offset is its group's total in earlier
    // partitions less its partition's total in earlier groups, as the
    // running sum crosses group bounds within a partition. A group's
    // cells are adjacent in this order, so a key equal to the previous
    // cell's continues its group.
    val cells = local.groupBy(col("__pid") +: g: _*).agg(coalesce(sum(w), lit(0L)).as("__t"))
      .coalesce(1).sortWithinPartitions(col("__pid") +: g.map(_.asc): _*)
    var (pid, key, inGroup, inPartition) = (-1, null: Row, 0L, 0L)
    val scanned = cells.collect().map { r =>
      val (k, t) = (Row.fromSeq(r.toSeq.slice(1, r.length - 1)), r.getLong(r.length - 1))
      if (r.getInt(0) != pid) { pid = r.getInt(0); inPartition = 0L }
      if (k != key) { key = k; inGroup = 0L }
      val off = inGroup - inPartition
      inGroup += t; inPartition += t
      Row.fromSeq(r.toSeq.init :+ off)
    }
    val offsets = df.sparkSession.createDataFrame(scanned.toSeq.asJava, cells.schema)
      .toDF(("__opid" +: g.map(_ => "__og")) :+ "__off": _*)
    val on = g.foldLeft(col("__pid") === col("__opid"))((c, k) => c && (k <=> col("__og")))
    local.join(broadcast(offsets), on)
      .withColumn(out, col("__sum") + col("__off"))
      .drop("__pid", "__sum", "__opid", "__og", "__off")
  }
}
