package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Native Catalyst expression: Hamming distance between two 64-bit
  * signatures (popcount of XOR). This is the preferred extension path from
  * SURVEY §7 — a codegen'd `Expression` (reference analog: the expression
  * layer in catalyst/expressions/, e.g. bitwise ops arithmetic.scala:
  * 234-297) rather than a Scala UDF: it inlines into whole-stage codegen,
  * so a 100 TB SimHash near-dup scan stays in one generated loop with no
  * boxing or UDF call overhead.
  */
case class Hamming64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hamming64 requires (BIGINT, BIGINT), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hamming64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"java.lang.Long.bitCount($l ^ $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hamming64 =
    copy(left = newLeft, right = newRight)

  override def toString: String = s"graft_hamming64($left, $right)"
}
