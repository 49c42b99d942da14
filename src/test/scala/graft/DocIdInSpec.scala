package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators.InvertedIndex
import graft.plans.LargeInListToJoin

/** Edge cases of the large-id-set route (`graft_doc_id_in` plus the
  * pushed range): each result must equal a client-side membership
  * filter, with generated code and with the interpreted `eval`. */
class DocIdInSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val dir = Files.createTempDirectory("graft-doc-id-in").toString

  private val longIds: Seq[Option[Long]] =
    Seq(None, Some(Long.MinValue), Some(Long.MinValue + 1), Some(-5L), Some(-1L), None) ++
      (0L until 2000L).map(Some(_)) ++
      Seq(Some(7L), Some(7L), Some(Long.MaxValue - 1), Some(Long.MaxValue), None)

  private val intIds: Seq[Option[Int]] =
    Seq(Some(Int.MinValue), Some(Int.MinValue + 1), Some(Int.MaxValue), Some(-1), None) ++
      (0 until 2000).map(Some(_))

  private lazy val longTable: DataFrame = {
    import spark.implicits._
    val path = s"$dir/longs"
    longIds.zipWithIndex.toDF("doc_id", "row").write.parquet(path)
    spark.read.parquet(path)
  }

  private lazy val intTable: DataFrame = {
    import spark.implicits._
    val path = s"$dir/ints"
    intIds.zipWithIndex.toDF("doc_id", "row").write.parquet(path)
    spark.read.parquet(path)
  }

  /** `body` with whole-stage codegen off and expressions interpreted. */
  private def interpreted[T](body: => T): T = {
    val confs = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The (doc_id, row) pairs `restrictToDocIds` keeps, against the
    * rows whose non-null id is one of `ids`, with codegen and without. */
  private def check(table: DataFrame, values: Seq[Option[Long]], ids: Seq[Long]): Unit = {
    val want = values.zipWithIndex.collect { case (Some(v), row) if ids.contains(v) => (v, row) }.toSet
    assert(want.nonEmpty)
    def got() = {
      val df = InvertedIndex.restrictToDocIds(table, ids)
      val rows = df.collect().map(r => (r.get(0).asInstanceOf[Number].longValue(), r.getInt(1)))
      assert(rows.length == rows.toSet.size, "a row came back twice")
      (df, rows.toSet)
    }
    val (df, codegen) = got()
    assert(codegen == want)
    LargeSetPlan.assertKernelPlan(df, "doc_id")
    assert(interpreted(got()._2) == want, "interpreted eval differs")
  }

  test("NULL doc_ids never match; negative and Long.MinValue / Long.MaxValue ids do") {
    val ids = Seq(Long.MinValue, Long.MaxValue, -5L) ++ (0L until 2000L by 2)
    assert(ids.size > LargeInListToJoin.Threshold)
    check(longTable, longIds, ids)
  }

  test("duplicate ids, in the set and in the table, give each row once") {
    val ids = (0L until 1200L).reverse ++ (0L until 1200L) ++ Seq(7L, 7L, -1L)
    check(longTable, longIds, ids)
  }

  test("a set of exactly threshold + 1 ids takes the kernel") {
    val ids = (0 until LargeInListToJoin.Threshold + 1).map(_ * 3L - 500L)
    check(longTable, longIds, ids)
  }

  test("an int doc-id column drops ids outside the int range instead of wrapping them") {
    // Int.MaxValue + 2 wraps to Int.MinValue + 1, which the table holds
    val outside = Seq(Int.MaxValue + 1L, Int.MaxValue + 2L, Int.MinValue - 1L, Long.MaxValue, Long.MinValue)
    val ids = outside ++ Seq(Int.MaxValue.toLong, -1L) ++ (0L until 1500L)
    check(intTable, intIds.map(_.map(_.toLong)), ids)
    assert(InvertedIndex.restrictToDocIds(intTable, outside ++ (2000L until 3000L)).collect().isEmpty)
  }

  test("SQL IN lists with extreme bigint literals match like the DataFrame route") {
    longTable.createOrReplaceTempView("doc_id_in_longs")
    val ids = Seq(Long.MinValue, Long.MaxValue, -1L) ++ (0L until 1100L)
    val want = longIds.zipWithIndex.collect { case (Some(v), row) if ids.contains(v) => (v, row) }.toSet
    def got() = {
      val df = spark.sql("SELECT doc_id, row FROM doc_id_in_longs WHERE doc_id IN (" +
        ids.map(v => s"${v}L").mkString(", ") + ")")
      (df, df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    }
    val (df, codegen) = got()
    assert(codegen == want)
    LargeSetPlan.assertKernelPlan(df, "doc_id")
    assert(interpreted(got()._2) == want)
  }
}
