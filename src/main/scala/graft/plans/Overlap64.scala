package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd DISTINCT-overlap count of two SORTED BIGINT-array
  * columns — the verify kernel of the gram-dedup family (DedupQueries
  * containment/Jaccard), where the composable form
  * `size(array_intersect(a, b))` evaluates INTERPRETED, building a hash
  * set per row over ~300-element arrays for every candidate pair. This
  * expression is one fused two-pointer merge: no allocation, stays
  * inside WholeStageCodegen.
  *
  * Semantics: |set(a) ∩ set(b)| for inputs sorted ascending (duplicate
  * values — 60-bit hash collisions — count once, exactly like
  * array_intersect on pre-distinct gram lists; `graft_overlap64(a, a)`
  * is therefore the distinct-cardinality of `a`). Inputs MUST be sorted
  * ascending (the dedup pipeline array_sorts its hash arrays); NULL on
  * null input arrays, and NULL — never a corrupted count — when an
  * array contains a null ELEMENT (guarded only when the schema can't
  * prove containsNull=false). Extension path per SURVEY
  * §7: custom Expression beats UDF (reference analog: catalyst/
  * expressions/arithmetic.scala's fused kernels).
  */
case class Overlap64(left: Expression, right: Expression) extends BinaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** getLong would read a null element as 0 and silently miscount; when
    * the schema cannot prove elements non-null, a per-array null scan
    * guards the merge and yields NULL instead of a corrupted count. The
    * dedup pipeline's transform/array_sort chains never contain nulls,
    * but their schemas still say containsNull=true, so the guard (two
    * branch-predictable passes) stays in those plans too. */
  private def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_overlap64 requires (ARRAY<BIGINT>, ARRAY<BIGINT>), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_overlap64"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (na, nb) = (x.numElements(), y.numElements())
    if (mayHaveNullElems(left)) {
      var t = 0
      while (t < na) { if (x.isNullAt(t)) return null; t += 1 }
    }
    if (mayHaveNullElems(right)) {
      var t = 0
      while (t < nb) { if (y.isNullAt(t)) return null; t += 1 }
    }
    var cnt = 0L
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else {
        cnt += 1
        while (i < na && x.getLong(i) == xv) i += 1
        while (j < nb && y.getLong(j) == xv) j += 1
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val t = ctx.freshName("t")
      val bad = ctx.freshName("hasNullElem")
      val nullGuard = (mayHaveNullElems(left), mayHaveNullElems(right)) match {
        case (false, false) => s"boolean $bad = false;"
        case (gl, gr) =>
          val gls = if (gl) s"for (int $t = 0; $t < $na && !$bad; $t++) { $bad = $a.isNullAt($t); }" else ""
          val grs = if (gr) s"for (int $t = 0; $t < $nb && !$bad; $t++) { $bad = $b.isNullAt($t); }" else ""
          s"""boolean $bad = false;
             |$gls
             |$grs""".stripMargin
      }
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |$nullGuard
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $cnt = 0L;
         |  int $i = 0, $j = 0;
         |  while ($i < $na && $j < $nb) {
         |    long $xv = $a.getLong($i);
         |    long $yv = $b.getLong($j);
         |    if ($xv < $yv) { $i++; }
         |    else if ($xv > $yv) { $j++; }
         |    else {
         |      $cnt++;
         |      while ($i < $na && $a.getLong($i) == $xv) { $i++; }
         |      while ($j < $nb && $b.getLong($j) == $xv) { $j++; }
         |    }
         |  }
         |  ${ev.value} = $cnt;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Overlap64 =
    copy(left = newLeft, right = newRight)

  override def toString: String = s"graft_overlap64($left, $right)"
}
