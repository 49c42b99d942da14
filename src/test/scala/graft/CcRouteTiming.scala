package graft

import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents

/** Times `ConnectedComponents.components` through the driver finish and
  * through the distributed loop on the same graphs, to place the
  * driver-finish cap. Two shapes bracket the loop's round count:
  * `cliques` (4-node near-dup groups, 2 rounds) and `chains` (64-node
  * paths with scattered ids, which run the loop to its 25-round cap;
  * such a row reads "did not converge").
  * The loop runs at threshold -1; the driver finish runs at a 1 GB
  * threshold and only for sizes up to
  * `ConnectedComponents.DriverFinishMaxBytes` (raise that constant to
  * time it past the cap). Prints one tab-separated row per shape and
  * size: the median of `reps` runs of `components` plus a count and
  * sum over its labels, in seconds.
  *
  *   sbt "Test/runMain graft.CcRouteTiming [reps] [directed edges ...]"
  */
object CcRouteTiming {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val sizes = if (args.length > 1) args.tail.map(_.toLong).toSeq
      else Seq(10000L, 100000L, 200000L, 436000L)
    val spark = GraftSession.builder(Some("local[4]"), Some("4")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "target/cc-route-timing"
    // odd multiplier mod 2^40: a bijection that scatters ids, so the
    // minimum of a component is not its first-generated node
    def scatter(c: org.apache.spark.sql.Column) = pmod(c * 2654435761L, lit(1L << 40))
    val k = col("id") % 6
    val shapes = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "cliques" -> (_.select(
        (col("id") / 6).cast("long") * 4 + when(k < 3, 0).when(k < 5, 1).otherwise(2) as "a",
        (col("id") / 6).cast("long") * 4 + when(k === 0, 1).when(k === 1 || k === 3, 2)
          .otherwise(3) as "b")),
      "chains" -> (_.select(col("id") + (col("id") / 63).cast("long") as "a",
        col("id") + (col("id") / 63).cast("long") + 1 as "b")))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    println("shape\tdirected_edges\tdriver_s\tloop_s")
    for ((shape, gen) <- shapes; directed <- sizes) {
      val path = s"$dir/$shape-$directed"
      gen(spark.range(directed / 2).toDF())
        .select(scatter(col("a")) as "id1", scatter(col("b")) as "id2")
        .write.mode("overwrite").parquet(path)
      val edges = spark.read.parquet(path)
      // the median in seconds, or "did not converge" when the loop
      // reached its round cap
      def time(threshold: String): String = {
        spark.conf.set(key, threshold)
        try {
          val runs = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            ConnectedComponents.components(edges).agg(count(lit(1)), sum("comp")).collect()
            (System.nanoTime() - t0) / 1e9
          }
          f"${runs.sorted.apply(reps / 2)}%.3f"
        } catch { case _: IllegalStateException => "did not converge" }
      }
      val loop = time("-1")
      val driver =
        if (directed * 24 <= ConnectedComponents.DriverFinishMaxBytes) time("1073741824")
        else "-"
      println(s"$shape\t$directed\t$driver\t$loop")
    }
    spark.stop()
  }
}
