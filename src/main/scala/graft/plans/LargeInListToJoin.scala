package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression, GreaterThanOrEqual, In, InSet, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types.{DateType, IntegerType, ShortType}

import graft.functions.expr.DocIdIn

/** The inverted-index Catalyst optimization, as an injected optimizer
  * rule (SparkSessionExtensions.injectOptimizerRule): a doc-id lookup
  * arriving as SQL — `WHERE doc_id IN (<thousands of literals>)` —
  * becomes
  *
  *   Filter(doc_id >= min AND doc_id <= max     ← pushed to the scan,
  *                                                prunes row groups and
  *                                                pages on the clustered
  *                                                layout
  *          AND graft_doc_id_in(doc_id, ids))   ← binary search over a
  *                                                sorted long array
  *
  * Evaluating a multi-thousand-entry In() per row is linear in the
  * list and, worse, the predicate is too opaque for parquet row-group
  * pruning at that size; the range conjuncts restore pruning and the
  * kernel (graft.functions.expr.DocIdIn) restores O(log n) membership.
  * `restrict` builds that plan; `InvertedIndex.restrictToDocIds` calls
  * it directly for id sets above `Threshold`, so the SQL and DataFrame
  * surfaces share one large-set plan (reference perf contract:
  * src/main.rs README "100 doc_ids in ~1s on 10M rows" — point lookups
  * must never full-scan). A filter emits each row at most once, so
  * duplicate ids never duplicate rows. (The name is older than the
  * kernel: the plan was a semi-join against a relation of the ids,
  * which cost a broadcast job, a second adaptive stage and freshly
  * compiled code for every id set.)
  *
  * The range conjuncts are pushed but not evaluated. The kernel implies
  * them — every id lies in [min, max] — so per row they select nothing
  * the kernel does not, and left in the post-scan filter they would be
  * compiled into its generated code as Java literals, making that code
  * differ for every id set (three new classes per lookup). The physical
  * rule `DropImpliedRange` therefore removes them from the `FilterExec`
  * once the scan has taken them as pushed filters; the scan keeps them
  * for pruning, and the generated code is the same for every set.
  *
  * Scope: integral/date/timestamp-typed attributes with all-literal,
  * non-null lists longer than `Threshold`. The rewrite removes every
  * qualifying In, so the rule is idempotent under the optimizer's
  * fixed-point driver.
  */
object LargeInListToJoin extends Rule[LogicalPlan] with PredicateHelper {

  val Threshold = 1000

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
        if DocIdIn.accepts(a.dataType) && vs.length > Threshold &&
          vs.forall { case Literal(v, _) => v != null; case _ => false } =>
      Some((a, vs.map { case Literal(v, _) => v }))
    case InSet(a: Attribute, hset)
        if DocIdIn.accepts(a.dataType) && hset.size > Threshold && !hset.contains(null) =>
      Some((a, hset.toSeq))
    case _ => None
  }

  /** `attr` is one of `values` (non-empty, non-null internal values of
    * `attr`'s data type), as three conjuncts: the values' range, for
    * the scan to prune with, and the kernel. */
  private def conjuncts(attr: Attribute, values: Iterable[Any]): Seq[Expression] = {
    val kernel = DocIdIn.of(attr, values)
    // literals of the attribute's own internal type (int for an int
    // column), so the range pushes down without a cast
    def bound(v: Long) = Literal(attr.dataType match {
      case ShortType => v.toShort
      case IntegerType | DateType => v.toInt
      case _ => v
    }, attr.dataType)
    Seq(GreaterThanOrEqual(attr, bound(kernel.ids.head)),
      LessThanOrEqual(attr, bound(kernel.ids.last)), kernel)
  }

  /** `child` restricted to the rows whose `attr` is one of `values`. */
  def restrict(child: LogicalPlan, attr: Attribute, values: Iterable[Any]): LogicalPlan =
    Filter(conjuncts(attr, values).reduce(And), child)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(cond, child) if splitConjunctivePredicates(cond).exists(bigInValues(_).isDefined) =>
      val rewritten = splitConjunctivePredicates(cond).flatMap { e =>
        bigInValues(e).map { case (attr, values) => conjuncts(attr, values) }.getOrElse(Seq(e))
      }
      Filter(rewritten.reduce(And), child)
  }
}

/** Removes from a `FilterExec` each `attr >= lo` / `attr <= hi` literal
  * conjunct that a `DocIdIn` conjunct on the same attribute implies
  * (lo ≤ its least id, hi ≥ its greatest), so the filter's generated
  * code carries no id-set literal. Runs after planning, when a scan
  * below has already taken the conjuncts as pushed filters; see
  * `LargeInListToJoin`. A filter with no kernel is left as it is. */
object DropImpliedRange extends Rule[SparkPlan] with PredicateHelper {
  override def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f @ FilterExec(cond, _) if cond.exists(_.isInstanceOf[DocIdIn]) =>
      val conj = splitConjunctivePredicates(cond)
      val kernels = conj.collect { case k: DocIdIn => k }
      def num(v: Any) = v.asInstanceOf[Number].longValue()
      def implied(e: Expression) = e match {
        case GreaterThanOrEqual(a, Literal(lo, _)) if lo != null =>
          kernels.exists(k => k.child.semanticEquals(a) && num(lo) <= k.ids.head)
        case LessThanOrEqual(a, Literal(hi, _)) if hi != null =>
          kernels.exists(k => k.child.semanticEquals(a) && num(hi) >= k.ids.last)
        case _ => false
      }
      val kept = conj.filterNot(implied)
      if (kept.length == conj.length) f else f.copy(condition = kept.reduce(And))
  }
}

/** `DropImpliedRange` as a columnar rule: Spark applies columnar rules
  * to every plan it prepares, and under adaptive execution to every
  * query stage and the final plan, after the scans are planned. */
object DropImpliedRangeRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = DropImpliedRange
}
