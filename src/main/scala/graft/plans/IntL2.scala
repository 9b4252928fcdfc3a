package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd squared-L2 distance over two BIGINT-array columns —
  * the integer kernel of the product-quantization encode/search path
  * (Pipeline3Queries), where the composable form
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0, _+_)` evaluates
  * the higher-order functions INTERPRETED (Spark HOFs have no codegen),
  * materializing two intermediate arrays per row and breaking the
  * whole-stage-codegen span of the scan. This expression is one fused
  * primitive loop: no allocation, stays inside WholeStageCodegen.
  *
  * Semantics match the HOF form exactly: exact 64-bit integer arithmetic,
  * NULL on null inputs, ragged lengths, or null elements. Extension path
  * per SURVEY §7: custom Expression beats UDF (reference analog:
  * catalyst/expressions/arithmetic.scala's fused kernels).
  */
case class IntL2(left: Expression, right: Expression) extends BinaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_intl2 requires (ARRAY<BIGINT>, ARRAY<BIGINT>), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_intl2"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntL2 =
    copy(left = newLeft, right = newRight)

  override def toString: String = s"graft_intl2($left, $right)"
}
