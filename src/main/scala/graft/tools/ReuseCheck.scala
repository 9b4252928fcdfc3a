package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

/** Dev tool (r20 optimization round): does exchange reuse actually fire
  * for a named query? Runs the query once and reports every
  * BroadcastExchangeExec by object IDENTITY plus every ReusedExchangeExec
  * wrapper — the decisive answer PlanWalk's flattening (which expands a
  * reused exchange into its child) cannot give.
  * Usage: `runMain graft.tools.ReuseCheck [queryName] [sfDir]` */
object ReuseCheck {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("dedup_containment")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Engine.session("graft-reuse-check", Some("local[32]"))
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect(): Unit
    def walk(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(walk)) ++ (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case _ => Seq.empty
      })
    val all = walk(df.queryExecution.executedPlan)
    val bx = all.collect { case b: BroadcastExchangeExec => b }
    val reused = all.collect { case r: ReusedExchangeExec => r }
    val distinctBx = bx.map(System.identityHashCode).distinct
    println(s"REUSECHECK query=$name broadcastExchangeRefs=${bx.size} " +
      s"distinctInstances=${distinctBx.size} reusedWrappers=${reused.size}")
    bx.foreach(b => println(s"  bx@${System.identityHashCode(b)} rows=" +
      b.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)))
    bx.foreach(b => println(s"  CANON@${System.identityHashCode(b)}:\n" +
      b.canonicalized.toString.take(1500)))
    spark.stop()
  }
}
