package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `(array<string>, array<string>) -> bigint`, printed
  * `graft_set_inter` in plans — the size of the set intersection of
  * two distinct-element string arrays, as ONE fused pass (hash the
  * smaller side, probe with the larger).
  *
  * Exists for the pair verifiers (Dedup.verifyJaccard /
  * verifyContainment), which build it directly; it is not a SQL
  * function, because its non-deterministic flag (below) would bar it
  * from join conditions and aggregates, and duplicate elements in the
  * larger input would over-count against `size(array_intersect)`. It
  * replaces `size(array_intersect(a, b))` there for two measured
  * reasons:
  *
  *  1. No intermediate: array_intersect materializes the whole
  *     intersection ARRAY per pair just to take its length — per
  *     candidate pair, an allocation proportional to the overlap.
  *     This kernel only counts.
  *
  *  2. Single evaluation (optimization guide §4.4): the verifiers
  *     project the intersection size and the caller filters on the
  *     derived jaccard/containment. With a deterministic expression,
  *     the optimizer pushes that filter through the projection INTO
  *     the shingle join's condition — and then evaluates the
  *     intersection twice per pair (once in the join condition, again
  *     in the projection; observed in every SNM/PPJoin verify plan).
  *     The expression is functionally deterministic, but it reports
  *     `deterministic = false` — exactly the guide's "mark expensive
  *     [functions] non-deterministic to stop the optimizer duplicating
  *     them" move — so the filter stays ABOVE the projection and the
  *     count is computed once per pair. Task retries re-evaluating it
  *     always produce the same value, so the flag trades only
  *     optimizer latitude, never correctness.
  */
case class SetIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<string> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_set_inter"
  // see scaladoc: single-eval guard, not actual nondeterminism
  override lazy val deterministic: Boolean = false

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetIntersectSize.intersectSize(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expr.SetIntersectSize.intersectSize($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetIntersectSize {
  /** Count |A ∩ B| for two arrays of distinct non-null strings:
    * build a hash set over the smaller side, probe with the larger. */
  def intersectSize(a: ArrayData, b: ArrayData): Long = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    if (n == 0) return 0L
    val set = new java.util.HashSet[UTF8String](Math.max(4, (n / 0.75f).toInt + 1))
    var i = 0
    while (i < n) { set.add(small.getUTF8String(i)); i += 1 }
    var hits = 0L
    val m = large.numElements()
    var j = 0
    while (j < m) { if (set.contains(large.getUTF8String(j))) hits += 1L; j += 1 }
    hits
  }
}
