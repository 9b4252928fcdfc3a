package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** THE walk over an executed plan including every AQE-materialized
  * subtree (final adaptive plans, query stages, reused exchanges) —
  * the single shared copy for every metric reader and plan fence
  * (Bench's containment diagnostics, tools.Profile, PlanSpec's
  * exchange/join counts, ScaleGrowthSpec's join volume fences). A Spark
  * upgrade that adds a new wrapper node gets fixed HERE, not in drifting
  * copies. */
object PlanWalk {
  /** Every node of `p`, pre-order (a node before its children). */
  def nodes(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(nodes)) ++ (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case _ => Seq.empty
    })

  /** Executes `df` and returns the `numOutputRows` of every sort-merge,
    * shuffled-hash and broadcast-hash join in its executed plan,
    * pre-order: the head is the topmost join. It runs THIS DataFrame's
    * QueryExecution (a noop write would plan its own) and drops each row
    * on the executors, so no result reaches the driver. */
  def equiJoinRows(df: DataFrame): Seq[Long] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
    nodes(qe.executedPlan).collect {
      case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec | _: BroadcastHashJoinExec) =>
        j.metrics.get("numOutputRows")
    }.flatten.map(_.value)
  }
}
