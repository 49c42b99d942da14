package graft.functions.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, ShortType, TimestampType}

/** `graft_doc_id_in(child, ids) -> boolean` — membership of an
  * integral `child` (a long or int doc-id column; short, date and
  * timestamp columns too, whose internal values are the same shorts,
  * ints and longs) in a sorted, distinct id array, by binary search.
  * NULL in, NULL out, so a Filter drops NULL ids.
  *
  * The large-set half of doc-id restriction (graft.plans.LargeInListToJoin).
  * It replaces a semi-join against a relation of the ids, and it is
  * built so the plan around it is the same for every id set:
  *
  *  - `doGenCode` reaches the array through `ctx.addReferenceObj`, so
  *    the generated Java is identical whatever the ids are, and the
  *    compiled class is a codegen-cache hit on every call after the
  *    first. A literal list (an `In`, or range bounds inlined as Java
  *    literals) compiles new classes for every new set.
  *  - The array rides in the stage's task binary, which the
  *    DAGScheduler broadcasts once per stage: no per-task copy, no id
  *    relation, no broadcast job, no join.
  *  - `toString` and `sql` print `n ids in [lo, hi]`, not the list, so
  *    a plan string stays short for a set of millions.
  *
  * Equality compares the ids by content, like `InSet`'s set.
  */
case class DocIdIn(child: Expression, ids: Array[Long])
    extends UnaryExpression with Predicate {
  require(ids.nonEmpty, s"$prettyName needs at least one id")

  override def checkInputDataTypes(): TypeCheckResult =
    if (DocIdIn.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an integral doc-id column, got ${child.dataType.simpleString}")

  override def prettyName: String = "graft_doc_id_in"

  private def summary = s"${ids.length} ids in [${ids.head}, ${ids.last}]"
  override def toString: String = s"$prettyName($child, $summary)"
  override def sql: String = s"$prettyName(${child.sql}, $summary)"

  override def equals(other: Any): Boolean = other match {
    case o: DocIdIn => o.child == child && java.util.Arrays.equals(o.ids, ids)
    case _ => false
  }
  private lazy val hash = 31 * child.hashCode + java.util.Arrays.hashCode(ids)
  override def hashCode(): Int = hash

  override protected def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(ids, v.asInstanceOf[Number].longValue()) >= 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("docIds", ids, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = java.util.Arrays.binarySearch($idsRef, (long) $c) >= 0;")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DocIdIn {
  /** Column types whose internal values are shorts, ints or longs. */
  def accepts(t: DataType): Boolean = t match {
    case ShortType | IntegerType | LongType | DateType | TimestampType => true
    case _ => false
  }

  /** The kernel over `child` for internal `values` of its type, which
    * may repeat and come in any order. */
  def of(child: Expression, values: Iterable[Any]): DocIdIn = {
    val ids = values.iterator.map(_.asInstanceOf[Number].longValue()).toArray
    java.util.Arrays.sort(ids)
    var n = 0
    for (k <- ids.indices if n == 0 || ids(k) != ids(n - 1)) { ids(n) = ids(k); n += 1 }
    DocIdIn(child, java.util.Arrays.copyOf(ids, n))
  }
}
