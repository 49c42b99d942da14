package graft.functions.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** Exclusive running sum of a LONG `child` down one partition, in the
  * order its rows reach the projection: the first row reads 0, each
  * later row the sum of the rows before it; a NULL adds nothing.
  *
  * The local phase of `graft.operators.Scan.prefix`, evaluated right
  * above a `sortWithinPartitions`. It keeps the scan at one exchange (a
  * window keyed on the partition id re-shuffles the frame) and in
  * generated code (a Row-level `mapPartitions` leaves it). The state
  * follows Spark's MonotonicallyIncreasingID, whose counter is this sum
  * over a weight of 1: one long per partition, reset on initialization.
  */
case class PartitionPrefixSum(child: Expression)
    extends UnaryExpression with Nondeterministic {

  @transient private[this] var sum: Long = _

  override def stateful: Boolean = true
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override protected def initializeInternal(partitionIndex: Int): Unit = sum = 0L

  override protected def evalInternal(input: InternalRow): Any = {
    val before = sum
    val w = child.eval(input)
    if (w != null) sum += w.asInstanceOf[Long]
    before
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sumTerm = ctx.addMutableState(CodeGenerator.JAVA_LONG, "prefixSum")
    ctx.addPartitionInitializationStatement(s"$sumTerm = 0L;")
    val w = child.genCode(ctx)
    ev.copy(code = code"""
      ${w.code}
      final long ${ev.value} = $sumTerm;
      if (!${w.isNull}) $sumTerm += ${w.value};""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
