package graft.plans

import graft.functions.Portable
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_minhash16(hs)` — all 16 minhash values in ONE pass over the
  * shared shingle-hash array, as a native codegen'd expression.
  *
  * Bit-identical to the composable form (Portable.minhashFromHashes i =
  * array_min(transform(hs, h -> (aᵢ·h + bᵢ) mod P))) — same (a,b)
  * parameter table, same modulus — but evaluated as a single fused loop
  * instead of 16 separate transform+array_min array allocations per
  * document. In the LSH scan stage (the dedup hot path) the md5 work
  * dominates, and this removes the remaining per-row allocation churn.
  * Empty input yields NULL, mirroring array_min of an empty array.
  */
case class MinHash16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash16 requires ARRAY<BIGINT>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // also NULL on empty input
  override def prettyName: String = "graft_minhash16"

  private val A: Array[Long] = Portable.MinHashParams.map(_._1).toArray
  private val B: Array[Long] = Portable.MinHashParams.map(_._2).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val mins = Array.fill(16)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var i = 0
      while (i < 16) {
        val v = (A(i) * h + B(i)) % Portable.MinHashP
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val aRef = ctx.addReferenceObj("mhA", A, "long[]")
      val bRef = ctx.addReferenceObj("mhB", B, "long[]")
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[16];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $h = $c.getLong($j);
         |    for (int $i = 0; $i < 16; $i++) {
         |      long $v = ($aRef[$i] * $h + $bRef[$i]) % ${Portable.MinHashP}L;
         |      if ($v < $mins[$i]) $mins[$i] = $v;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHash16 =
    copy(child = newChild)
}
