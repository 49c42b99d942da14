package graft

import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.functions.expr.DocIdIn

/** Plan checks shared by the large-id-set specs. */
object LargeSetPlan {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** `df`, already executed (so an adaptive plan is final), restricts
    * `column` with the kernel: the kernel is in a filter, the range
    * is in the scan's pushed filters, the plan has no join and no
    * broadcast, and no filter evaluates a range literal. */
  def assertKernelPlan(df: DataFrame, column: String): Unit = {
    val all = nodes(df.queryExecution.executedPlan)
    val text = all.map(_.simpleString(1000)).mkString("\n")
    val filters = all.collect { case f: FilterExec => f }
    assert(filters.exists(_.condition.exists(_.isInstanceOf[DocIdIn])),
      s"expected the graft_doc_id_in kernel in a filter:\n$text")
    val pushed = all.collect { case s: FileSourceScanExec => s.metadata.getOrElse("PushedFilters", "") }
    assert(pushed.exists(p => p.contains(s"GreaterThanOrEqual($column") &&
        p.contains(s"LessThanOrEqual($column")),
      s"range conjuncts must reach the scan for row-group pruning:\n$text")
    assert(!text.contains("Join") && !text.contains("BroadcastExchange"),
      s"a large id set must plan no join and no broadcast:\n$text")
    filters.foreach(f => assert(!f.condition.exists {
      case GreaterThanOrEqual(_, _: Literal) | LessThanOrEqual(_, _: Literal) => true
      case _ => false
    }, s"the post-scan filter must not evaluate the range: ${f.condition}"))
  }
}

class LargeInListToJoinSpec extends AnyFunSuite {
  import SparkTestSession._

  test("SQL giant IN list rewrites to the doc-id kernel plus a pushed range") {
    Tables.documents(spark, sf).createOrReplaceTempView("liit_docs")
    val ids = (0 until 1500).map(_ * 2L)
    val df = spark.sql(
      s"SELECT doc_id, lang FROM liit_docs WHERE doc_id IN (${ids.mkString(",")})")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("IN ("),
      s"the giant In must be gone from the optimized plan:\n$optimized")
    // correctness: even ids present in the table
    val expected = Tables.documents(spark, sf)
      .where(col("doc_id") % 2 === 0).count()
    assert(df.collect().length == expected)
    LargeSetPlan.assertKernelPlan(df, "doc_id")
  }

  test("DataFrame isin (arriving as InSet) rewrites like SQL IN") {
    // .isin literals carry no type-coercion Casts, so OptimizeIn
    // converts them to InSet before this rule's turn in the batch —
    // the rule must match that form too or the DataFrame surface
    // silently misses the optimization
    val keys = SparkEntry.largeInKeys
    val df = Tables.lineitem(spark, sf)
      .where(col("l_partkey").isin(keys: _*)).select("l_orderkey")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("INSET"),
      s"the giant InSet must be gone:\n${optimized.take(1500)}")
    // correctness vs a client-side membership count (independent of
    // any In/InSet evaluation path the rule could touch)
    val keySet = keys.toSet
    val expected = Tables.lineitem(spark, sf).select("l_partkey").collect()
      .count(r => keySet.contains(r.getLong(0)))
    assert(df.collect().length == expected && expected > 0)
    LargeSetPlan.assertKernelPlan(df, "l_partkey")
  }

  test("small IN lists are left untouched") {
    Tables.documents(spark, sf).createOrReplaceTempView("liit_docs2")
    val df = spark.sql("SELECT doc_id FROM liit_docs2 WHERE doc_id IN (1, 2, 3)")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_doc_id_in"), s"small lists must stay In:\n$optimized")
    assert(df.count() == 3)
  }
}
