package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev profiler for any declared query under the Bench session config:
  * one warm-up pass, one timed pass, the top stages by wall time with
  * shuffle I/O, the executed plan, the node metrics and the equi-join
  * output rows (pre-order, so the head is the topmost join). Usage:
  * `runMain graft.tools.Profile <query> [sfDir]` (sfDir defaults to
  * $SPARK_GRAFT_SF_DIR, then sf0.1). BENCHNOTES.md ("Dev tools") maps
  * the retired one-off probes to the readings they produced.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: runMain graft.tools.Profile <query> [sfDir]"))
    val q = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    val sfDir = args.drop(1).headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = graft.Engine.session("graft-profile", graft.Engine.localMaster)
    q(spark, sfDir).write.format("noop").mode("overwrite").save() // warm-up

    val stages = mutable.ArrayBuffer.empty[(Int, Long, String, Long, Long)]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = for { s <- si.submissionTime; c <- si.completionTime } yield c - s
        stages += ((si.stageId, ms.getOrElse(-1L), si.name.take(120),
          si.taskMetrics.shuffleWriteMetrics.bytesWritten,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    q(spark, sfDir).write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    // deliver the last stage events before the listener goes
    org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    // a noop WRITE plans its own QueryExecution, leaving the written
    // DataFrame's adaptive plan unexecuted — equiJoinRows executes THIS
    // df's QueryExecution, so its plan is final and its metrics fill
    val df = q(spark, sfDir)
    val joinRows = graft.plans.PlanWalk.equiJoinRows(df)
    println(s"=== EXECUTED PLAN ($name) ===")
    println(df.queryExecution.executedPlan.toString.take(8000))
    println(s"=== NODE METRICS ($name) ===")
    graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan).foreach { n =>
      val ms = n.metrics.collect {
        case (k, m) if m.value > 0 &&
          (k.contains("time") || k == "numOutputRows" || k.contains("numPartitions")) =>
          s"$k=${m.value}"
      }
      if (ms.nonEmpty)
        println(s"  ${n.nodeName.take(40)}: ${ms.mkString(", ")}")
    }
    println(s"EQUI-JOIN ROWS (pre-order): ${joinRows.mkString(", ")}")
    println(f"TOTAL: $total%.2f s")
    stages.sortBy(-_._2).take(15).foreach { case (id, ms, nm, sw, sr) =>
      println(f"stage $id%4d  ${ms / 1000.0}%7.2f s  shufW=${sw / 1e6}%8.1f MB shufR=${sr / 1e6}%8.1f MB  $nm")
    }
    spark.stop()
  }
}
