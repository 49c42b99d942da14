package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Narrow bridge into the sql package's private API: `Dataset.ofRows`
  * (private[sql]) — the only supported way to wrap a hand-built
  * `LogicalPlan` (graft's custom posting-list node) in a user-facing
  * DataFrame, the same pattern the Spark ecosystem uses for custom
  * plan nodes — `ExpressionUtils`, to put a hand-built expression in
  * a Column, and the second parameter list of `LogicalRDD`, where a
  * checkpoint keeps its origin plan's size estimate. Nothing else in
  * graft reaches into the sql package.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column of `f` over `c`'s expression: a hand-built Catalyst
    * expression (graft's `PartitionPrefixSum`) without a SQL name. */
  def column(c: Column)(f: Expression => Expression): Column =
    classic.ExpressionUtils.column(f(classic.ExpressionUtils.expression(c)))

  /** A Column of `f` over two columns' expressions (graft's
    * `SetIntersectSize`, which the pair verifiers build directly). */
  def column(a: Column, b: Column)(f: (Expression, Expression) => Expression): Column =
    classic.ExpressionUtils.column(
      f(classic.ExpressionUtils.expression(a), classic.ExpressionUtils.expression(b)))

  private val MaxSize = BigInt(Long.MaxValue)

  /** A checkpointed `df` whose carried size estimate is capped at
    * Long.MaxValue bytes; any other frame as it is. A checkpoint keeps
    * its origin plan's estimate, and without column statistics an
    * inner join's estimate is the product of its sides'. A loop that
    * joins a fence and fences the result again squares the estimate
    * every round: its digit count doubles, and the BigInt arithmetic
    * on it grows about 2.8× per round (over a second by round 19 of a
    * connected-components loop, minutes by round 23). Past the cap no
    * broadcast or join choice can change, so the cap changes no plan. */
  def capCheckpointStats(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case l: LogicalRDD if l.stats.sizeInBytes > MaxSize =>
      ofRows(df.sparkSession, l.copy()(df.sparkSession.asInstanceOf[classic.SparkSession],
        Some(Statistics(MaxSize)), Some(l.constraints)))
    case _ => df
  }
}
