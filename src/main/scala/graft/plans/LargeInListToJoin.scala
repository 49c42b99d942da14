package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, GreaterThanOrEqual, In, InSet, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, ShortType, TimestampType}

/** The inverted-index Catalyst optimization, as an injected optimizer
  * rule (SparkSessionExtensions.injectOptimizerRule): a doc-id lookup
  * arriving as SQL — `WHERE doc_id IN (<thousands of literals>)` —
  * becomes
  *
  *   Filter(doc_id >= min AND doc_id <= max)   ← pushed to the scan,
  *                                               prunes row groups on
  *                                               the clustered layout
  *   LeftSemi Join(child, LocalRelation(ids))  ← hash probe, planner
  *                                               broadcasts the tiny
  *                                               id relation
  *
  * Evaluating a multi-thousand-entry In() per row is linear in the
  * list and, worse, the predicate is too opaque for parquet row-group
  * pruning at that size; the range conjunct restores pruning and the
  * semi-join restores O(1) membership. `semiJoin` builds that plan;
  * `InvertedIndex.restrictToDocIds` calls it directly for id sets
  * above `Threshold`, so the SQL and DataFrame surfaces share one
  * large-set plan (reference perf contract: src/main.rs README "100
  * doc_ids in ~1s on 10M rows" — point lookups must never full-scan).
  * A semi-join emits each child row at most once, so duplicate ids
  * never duplicate rows.
  *
  * Scope: integral/date/timestamp-typed attributes with all-literal,
  * non-null lists longer than `Threshold`. The rewrite removes every
  * qualifying In, so the rule is idempotent under the optimizer's
  * fixed-point driver.
  */
object LargeInListToJoin extends Rule[LogicalPlan] {

  val Threshold = 1000

  private def rangeable(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType | ShortType | DateType | TimestampType => true
    case _ => false
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  /** The attribute and internal values of a qualifying membership
    * test. Matches BOTH surface forms of the same predicate: `In` with
    * all-literal lists (SQL text whose literals still wear their
    * type-coercion Casts when this rule first sees them fold one
    * built-in iteration later), and `InSet` (what OptimizeIn turns a
    * >10-element all-literal In into — the form every DataFrame
    * `isin(...)` reaches the batch tail as, since its literals carry
    * no Casts to delay the conversion). */
  private def bigInValues(e: Expression): Option[(Attribute, Seq[Any])] = e match {
    case In(a: Attribute, vs)
        if rangeable(a) && vs.length > Threshold &&
          vs.forall { case Literal(v, _) => v != null; case _ => false } =>
      Some((a, vs.map { case Literal(v, _) => v }))
    case InSet(a: Attribute, hset)
        if rangeable(a) && hset.size > Threshold && !hset.contains(null) =>
      Some((a, hset.toSeq))
    case _ => None
  }

  /** `child` restricted to the rows whose `attr` is one of `values`
    * (non-empty, non-null internal values of `attr`'s data type): a
    * min/max range filter over a LeftSemi join against a
    * `LocalRelation` of the values. */
  def semiJoin(child: LogicalPlan, attr: Attribute, values: Seq[Any]): LogicalPlan = {
    val idAttr = AttributeReference("__graft_in_id", attr.dataType, nullable = false)()
    val joined = Join(child, LocalRelation(Seq(idAttr), values.map(InternalRow(_))),
      LeftSemi, Some(EqualTo(attr, idAttr)), JoinHint.NONE)
    // literals built from the original internal values, so types
    // stay consistent with the attribute's data type
    val order = (v: Any) => v.asInstanceOf[Number].longValue()
    Filter(And(GreaterThanOrEqual(attr, Literal(values.minBy(order), attr.dataType)),
      LessThanOrEqual(attr, Literal(values.maxBy(order), attr.dataType))), joined)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(cond, child) if splitConj(cond).exists(bigInValues(_).isDefined) =>
      val (bigIns, rest) = splitConj(cond).partition(bigInValues(_).isDefined)
      val joined = bigIns.foldLeft(child) { (p, e) =>
        val (attr, values) = bigInValues(e).get
        semiJoin(p, attr, values)
      }
      rest.reduceOption(And).map(Filter(_, joined)).getOrElse(joined)
  }
}
