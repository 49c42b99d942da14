package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Checkpoints, ConnectedComponents, Scan}

/** `spark.graft.reliableCheckpoints` must be a pure durability trade:
  * every fenced operator returns identical results through the
  * executor-local and reliable-FS checkpoint routes. */
class CheckpointsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withReliable[T](body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.reliableCheckpoints", "true")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try body
    finally {
      spark.conf.unset("spark.graft.reliableCheckpoints")
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }

  // FIRST in the suite: sc.setCheckpointDir is sticky, so this only
  // holds while no reliable-route test (here or in another suite on
  // the shared session) has set a dir yet
  test("reliable route without a checkpoint dir fails with the conf hint") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty, "checkpoint dir already set")
    spark.conf.set("spark.graft.reliableCheckpoints", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Scan.prefix(Tables.documents(spark, sf).select(col("doc_id")), None,
          Seq(col("doc_id").asc_nulls_last), "rank").collect()
      }
      assert(e.getMessage.contains("spark.graft.checkpointDir"))
    } finally spark.conf.unset("spark.graft.reliableCheckpoints")
  }

  test("globalRank is identical through local and reliable checkpoints") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("n_chars"))
    def run() = Scan.prefix(docs, None,
        Seq(col("n_chars").asc_nulls_last, col("doc_id").asc_nulls_last), "rank").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable)
    assert(local.values.toSeq.sorted == local.values.toSeq.indices.map(_.toLong))
  }

  // the two CC specs below pin the distributed loop: graphs this small
  // take the driver finish, which holds no fence across rounds
  test("connected components are identical through both routes") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 10L), (5L, 5L), (3L, 1L))
      .toDF("id1", "id2")
    def run() = onCcLoop(ConnectedComponents.components(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable)
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components keep only the result's fence persisted") {
    import spark.implicits._
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val comps = onCcLoop(ConnectedComponents.components(edges))
    val held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(held.size == 1, s"superseded fences still persisted: $held")
    assert(comps.collect().forall(_.getLong(1) == 0L))
  }

  test("connected components through the driver finish keep no fence persisted") {
    import spark.implicits._
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val comps = ConnectedComponents.components(edges)
    val held = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(held.isEmpty, s"fences still persisted: $held")
    val local = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local.size == 41 && local.values.forall(_ == 0L))
    assert(withReliable(ConnectedComponents.components(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap) == local)
  }

  test("a fence joined with itself round after round keeps a size estimate within a Long") {
    import spark.implicits._
    def size(df: org.apache.spark.sql.DataFrame) = df.queryExecution.logical.stats.sizeInBytes
    for (reliable <- Seq(false, true)) {
      def run() = {
        var df = Checkpoints.fence((0L until 50L).map(i => (i, i)).toDF("a", "b"))
        // a small fence keeps its real estimate, so it can still be broadcast
        assert(size(df) < 10L * 1024 * 1024)
        // without the cap each round squares the inner join's product
        // estimate, past 2^63 bytes by round 3
        for (_ <- 1 to 8)
          df = Checkpoints.fence(df.join(df.select(col("a"), col("b").as("c")), "a")
            .select(col("a"), col("c").as("b")))
        assert(size(df) <= Long.MaxValue, s"estimate ${size(df)}")
        assert(df.count() == 50)
      }
      if (reliable) withReliable(run()) else run()
    }
  }

  test("groupedRank is identical through both routes") {
    import spark.implicits._
    val df = (0 until 120).map(i => (s"g${i % 2}", i.toLong)).toDF("stratum", "id")
    def run() = Scan.prefix(df, Some("stratum"), Seq(col("id")), "grank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(run() == withReliable(run()))
  }
}
