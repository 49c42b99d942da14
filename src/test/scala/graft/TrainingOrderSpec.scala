package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Scan, TrainingOrder}

class TrainingOrderSpec extends AnyFunSuite {
  import SparkTestSession._

  private def docs = Tables.documents(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("seeded shuffle is a permutation matching the single-sort ground truth") {
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val expect = ids.map(id => (md5hex(s"ep0:$id"), id)).sorted.map(_._2)
    val got = TrainingOrder.shuffled(docs, "ep0").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.map(_._1).toSeq == ids.indices.map(_.toLong), "positions must be 0..n-1")
    assert(got.map(_._2).toSeq == expect.toSeq, "order must equal the md5(seed:id) sort")
  }

  test("different seeds give different permutations; same seed is stable") {
    val a = TrainingOrder.shuffled(docs, "ep0").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = TrainingOrder.shuffled(docs, "ep0").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val c = TrainingOrder.shuffled(docs, "ep1").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.toSeq == b.toSeq, "same seed must reproduce the permutation")
    assert(a.map(_._2).toSeq != c.map(_._2).toSeq, "a new seed must reshuffle")
  }

  test("groupedRank matches per-group window row_number and survives repartitioning") {
    import spark.implicits._
    val df = (0 until 300).map(i => (s"g${i % 3}", i.toLong)).toDF("stratum", "id")
      .repartition(7)
    val got = Scan.prefix(df, Some("stratum"), Seq(col("id")), "grank").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0 until 300).foreach { i =>
      val g = s"g${i % 3}"
      assert(got((g, i.toLong)) == i / 3, s"rank of $i in $g")
    }
  }

  test("groupedRank takes a numeric (non-string) group column") {
    import spark.implicits._
    val df = (0 until 300).map(i => ((i % 3).toLong, i.toLong)).toDF("stratum", "id")
      .repartition(7)
    val got = Scan.prefix(df, Some("stratum"), Seq(col("id")), "grank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0 until 300).foreach { i =>
      val g = (i % 3).toLong
      assert(got((g, i.toLong)) == i / 3, s"rank of $i in stratum $g")
    }
  }

  test("groupedRank keeps a NULL group: all its rows, ranked 0..k-1") {
    import spark.implicits._
    val df = (0 until 300).map(i => (if (i % 3 == 0) None else Some(s"g${i % 3}"), i.toLong))
      .toDF("stratum", "id").repartition(7)
    val nulls = Scan.prefix(df, Some("stratum"), Seq(col("id")), "grank").collect()
      .filter(_.isNullAt(0)).map(r => r.getLong(1) -> r.getLong(2)).sortBy(_._1)
    assert(nulls.map(_._1).toSeq == (0 until 300 by 3).map(_.toLong),
      "every NULL-stratum row must survive the rank")
    assert(nulls.map(_._2).toSeq == (0L until 100L), "ranked 0..k-1 in id order")
  }

  test("epochs: each epoch is an independent permutation matching its own seed sort") {
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val got = TrainingOrder.epochs(docs, 3, "ep7").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == ids.length * 3)
    (0L until 3L).foreach { e =>
      val epoch = got.filter(_._1 == e).sortBy(_._2)
      assert(epoch.map(_._2).toSeq == ids.indices.map(_.toLong),
        s"epoch $e positions must be dense 0..n-1")
      val expect = ids.map(id => (md5hex(s"ep7:$e:$id"), id)).sorted.map(_._2)
      assert(epoch.map(_._3).toSeq == expect.toSeq,
        s"epoch $e order must equal its md5(seed:epoch:id) sort")
    }
    // epochs must actually differ from each other (independent permutations)
    val perms = (0L until 3L).map(e =>
      got.filter(_._1 == e).sortBy(_._2).map(_._3).toSeq)
    assert(perms.distinct.length == 3, "epoch permutations must be pairwise distinct")
  }

  test("interleave: weighted strata appear proportionally in every prefix") {
    val weights = Map("en" -> 3.0, "zh" -> 1.5, "fr" -> 0.5)
    val rows = TrainingOrder.interleaved(docs, weights, "ep0", stratumCol = "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong), "positions dense")
    // brute-force twin: per-stratum hash order, slot = (r+1)/w
    val expect = docs.select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).toSeq.flatMap { case (g, ms) =>
        val w = weights.getOrElse(g, 1.0)
        ms.map(m => (g, m._2, md5hex(s"ep0:${m._2}")))
          .sortBy(t => (t._3, t._2)).zipWithIndex
          .map { case ((s, id, k), r) => ((r + 1).toDouble / w, k, id, s) }
      }.sortBy(t => (t._1, t._2, t._3))
    assert(rows.map(t => (t._3, t._2)).toSeq == expect.map(t => (t._3, t._4)).toSeq)
    // density: in the first half, en (weight 3) must outnumber fr (weight 0.5)
    val half = rows.take(rows.length / 2)
    val en = half.count(_._2 == "en"); val fr = half.count(_._2 == "fr")
    assert(en > fr * 2, s"weight-3 stratum should dominate a prefix (en=$en fr=$fr)")
  }

  test("length batches: tiling, max/sum, and padding waste match the brute force") {
    val B = 32
    val got = TrainingOrder.lengthBatches(docs, B).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(_._1)
    val lens = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").count(_.nonEmpty).toLong)
    val expect = lens.sortBy { case (id, l) => (-l, id) }.map(_._2)
      .grouped(B).zipWithIndex.map { case (b, i) =>
        (i.toLong, b.size.toLong, b.max, b.sum, b.size * b.max - b.sum)
      }.toSeq
    assert(got == expect && got.nonEmpty)
    // batches are length-monotone: each batch's max ≤ the previous min
    got.sliding(2).foreach { case Seq(a, b) => assert(b._3 <= a._3) case _ => }
  }
}
