package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Packing, Scan, TrainingOrder}

class ScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._

  private val rnd = new scala.util.Random(4242)

  private val schema = StructType(Seq(
    StructField("g", StringType), StructField("k", IntegerType),
    StructField("id", LongType, nullable = false), StructField("w", LongType)))

  /** `n` rows: a few groups plus NULL, order keys from a small range
    * (ties) with NULLs, unique ids, weights in [-5, 20] with NULLs. */
  private def frame(n: Int): DataFrame = {
    def maybe[T](p: Double)(v: => T): Any = if (rnd.nextDouble() < p) null else v
    val rows = (0 until n).map(i => Row(
      maybe(0.15)(s"g${rnd.nextInt(3)}"), maybe(0.15)(rnd.nextInt(6)), i.toLong,
      maybe(0.1)(rnd.nextInt(26) - 5L)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1 + rnd.nextInt(5)), schema)
  }

  /** The same prefix as a per-group window: the `weight` sum over the
    * rows before this one, 0 when there are none. */
  private def windowed(df: DataFrame, group: Option[String], order: Seq[Column],
                       weight: Column): DataFrame = {
    val spec = group.fold(Window.orderBy(order: _*))(g => Window.partitionBy(col(g)).orderBy(order: _*))
    df.withColumn("p", coalesce(sum(weight).over(
      spec.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }

  test("the prefix equals a per-group window running sum on random frames") {
    val sizes = Seq(0, 1, 1, 2, 3, 5, 8, 17, 40, 90, 150, 200)
    for ((n, c) <- sizes.zipWithIndex) {
      val df = frame(n)
      val group = if (c % 3 == 2) None else Some("g")
      val k = if (c % 2 == 0) col("k").asc_nulls_last else col("k").asc
      // the small frames get more partitions than rows
      val parts = Seq(1, 3, 7, 64)(c % 4)
      // every fourth case runs the running sum interpreted
      val codegen = if (c % 4 == 3) "NO_CODEGEN" else "FALLBACK"
      withConf("spark.sql.shuffle.partitions", parts.toString) {
      withConf("spark.sql.codegen.wholeStage", (codegen == "FALLBACK").toString) {
      withConf("spark.sql.codegen.factoryMode", codegen) {
        // a unique last key fixes the order: any weights, NULLs included
        val order = Seq(k, col("id"))
        val got = Scan.prefix(df, group, order, "p", weight = col("w")).select("id", "p")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = windowed(df, group, order, col("w")).select("id", "p")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"n=$n group=$group parts=$parts $codegen")
        // ties left in the order: a block of tied rows holds the same
        // ranks in the scan and the window, whichever row takes which
        def blocks(d: DataFrame) = d.select("g", "k", "p").collect()
          .groupBy(r => (if (group.isEmpty) null else r.get(0), r.get(1)))
          .map { case (key, rs) => key -> rs.map(_.getLong(2)).sorted.toSeq }
        assert(blocks(Scan.prefix(df, group, Seq(k), "p")) ==
          blocks(windowed(df, group, Seq(k), lit(1L))), s"ranks, n=$n group=$group parts=$parts")
      }}}
    }
  }

  test("each rank and packing route's fenced input runs exactly one shuffle, the range exchange") {
    import spark.implicits._
    val sc = spark.sparkContext
    val fenced = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint" || funcName == "checkpoint") fenced.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // a local relation: the input itself brings no exchange
    val docs = (0L until 400L).map(i => (i, s"s${i % 3}", 1L + i % 9))
      .toDF("doc_id", "source", "n_tok")
    val routes = Seq[(String, () => DataFrame)](
      "global rank" -> (() => TrainingOrder.shuffled(docs, "s")),
      "grouped rank" -> (() => TrainingOrder.epochs(docs, 2, "s")),
      "packing" -> (() => Packing.assignSequences(docs, "n_tok", budget = 100)))
    spark.listenerManager.register(listener)
    try routes.foreach { case (name, build) =>
      fenced.clear()
      build().collect()
      org.apache.spark.graft.SparkInternals.waitListenerBusEmpty(sc)
      assert(fenced.size == 1, s"$name: ${fenced.size} fences")
      val shuffles = collect(fenced.peek().executedPlan) {
        case e: ShuffleExchangeLike => e.outputPartitioning
      }
      assert(shuffles.size == 1 && shuffles.head.isInstanceOf[RangePartitioning],
        s"$name: the fence runs ${shuffles.mkString(", ")}")
    } finally spark.listenerManager.unregister(listener)
  }
}
