package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Native AS-OF JOIN — the full whole-operator extension path (§7 option
  * (c)): a custom LogicalPlan, a SparkStrategy planning it, and a
  * physical operator that DECLARES its distribution + ordering needs so
  * EnsureRequirements inserts the co-partitioning exchanges and
  * per-partition sorts — exactly how SortMergeJoinExec integrates.
  * Reference analog: the physical joins package (execution/joins,
  * e.g. SortMergeJoin.scala) — the reference had no as-of operator;
  * this is the operator a time-series user would miss most.
  *
  * Semantics (LEFT OUTER as-of backward): for each left row, the right
  * row with the same key and the greatest ts ≤ left.ts, or nulls.
  * Among equal (key, ts) right rows the last in sort order wins —
  * dedup the right side per (key, ts) for full determinism.
  *
  * Scale shape: one hash exchange per side on the key, per-partition
  * sort on (key, ts), then a single streaming merge pass — per-row
  * state is ONE buffered right row. No per-key cross product, no
  * windowed re-shuffle.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Strategy: plan the logical AsOfJoin into its exec. Installed by
  * `Engine.session` via spark.experimental.extraStrategies. */
object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // EnsureRequirements co-partitions both sides on the key and sorts
  // each partition by (key, ts) — the operator itself never shuffles.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val allOut = output
    val lk = leftKey
    val rk = rightKey
    val lts = leftTs
    val rts = rightTs
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lEval = UnsafeProjection.create(Seq(lk, lts), leftOut)
      val rEval = UnsafeProjection.create(Seq(rk, rts), rightOut)
      // bind against NULLABLE right attributes: an unmatched left row
      // joins a null-filled row, and binding to a non-nullable input
      // attribute would skip the null check and read 0 instead of NULL
      val outProj = UnsafeProjection.create(allOut,
        leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightOut.length)
      val joined = new JoinedRow
      val rBuf = rIt.buffered
      // the single buffered right row: greatest ts ≤ current left ts
      var candidate: InternalRow = null
      var candKey = 0L
      var haveCand = false
      lIt.map { lRow =>
        val lkt = lEval(lRow)
        if (lkt.isNullAt(0) || lkt.isNullAt(1)) {
          // null key/ts never matches (SQL join-key semantics)
          outProj(joined(lRow, nullRight))
        } else {
          val lKeyV = lkt.getLong(0)
          val lTsV = lkt.getLong(1)
          var advance = true
          while (advance && rBuf.hasNext) {
            val rkt = rEval(rBuf.head)
            if (rkt.isNullAt(0) || rkt.isNullAt(1)) {
              rBuf.next(): Unit // skip unmatched-able rows
            } else {
              val rKeyV = rkt.getLong(0)
              val rTsV = rkt.getLong(1)
              if (rKeyV < lKeyV || (rKeyV == lKeyV && rTsV <= lTsV)) {
                val rr = rBuf.next()
                if (rKeyV == lKeyV) {
                  candidate = rr.copy()
                  candKey = rKeyV
                  haveCand = true
                }
              } else advance = false
            }
          }
          if (haveCand && candKey == lKeyV) outProj(joined(lRow, candidate))
          else outProj(joined(lRow, nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** LEFT OUTER backward as-of join: equal keys, right.ts ≤ left.ts.
    * Keys must be BIGINT; ts must be BIGINT or TIMESTAMP (both compared
    * on their 64-bit value). Output = left columns ++ right columns
    * (nullable) — give the two sides distinct column names. */
  def asof(left: DataFrame, leftKey: String, leftTs: String,
      right: DataFrame, rightKey: String, rightTs: String): DataFrame = {
    def attr(df: DataFrame, name: String): Attribute =
      df.queryExecution.analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"asof: no column '$name' in ${df.columns.mkString(",")}"))
    def check(a: Attribute, what: String): Attribute = a.dataType match {
      case LongType | TimestampType => a
      case t => throw new IllegalArgumentException(s"asof: $what must be BIGINT/TIMESTAMP, got $t")
    }
    val plan = AsOfJoin(
      left.queryExecution.analyzed, right.queryExecution.analyzed,
      check(attr(left, leftKey), s"left key '$leftKey'"),
      check(attr(right, rightKey), s"right key '$rightKey'"),
      check(attr(left, leftTs), s"left ts '$leftTs'"),
      check(attr(right, rightTs), s"right ts '$rightTs'"))
    org.apache.spark.sql.GraftShim.ofRows(left.sparkSession, plan)
  }
}
