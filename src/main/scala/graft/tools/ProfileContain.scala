package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev tool: stage-level timing of one declared query under the Bench
  * session config — one warm-up pass, one timed pass, top stages by
  * wall time with shuffle I/O, and the post-AQE plan. Usage:
  * `runMain graft.tools.ProfileContain [queryName] [sfDir]`
  * (defaults: dedup_containment at $SPARK_GRAFT_SF_DIR or sf0.1).
  * This is how the r6 cache-thrash regression was found: the timed pass
  * showed two parallel 3 s zero-shuffle stages racing to re-materialize
  * the signature cache that CacheOnce had just unpersisted.
  */
object ProfileContain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("dedup_containment")
    val sfDir = args.drop(1).headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = graft.Engine.session("graft-profile-contain", Some("local[32]"))
    val q = graft.SparkEntry.queries(name)
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
    val df = q(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(1000)
    println(s"=== EXECUTED PLAN ($name) ===")
    println(df.queryExecution.executedPlan.toString.take(8000))
    println(s"=== NODE METRICS ($name) ===")
    // a noop WRITE plans its own QueryExecution (metrics land there, not
    // on df) — run one collect() pass so THIS df's metrics fill
    val dfm = q(spark, sfDir)
    dfm.collect(): Unit
    graft.plans.PlanWalk.nodes(dfm.queryExecution.executedPlan).foreach { n =>
      val ms = n.metrics.collect {
        case (k, m) if m.value > 0 &&
          (k.contains("time") || k == "numOutputRows" || k.contains("numPartitions")) =>
          s"$k=${m.value}"
      }
      if (ms.nonEmpty)
        println(s"  ${n.nodeName.take(40)}: ${ms.mkString(", ")}")
    }
    println(f"TOTAL: $total%.2f s")
    stages.sortBy(-_._2).take(15).foreach { case (id, ms, nm, sw, sr) =>
      println(f"stage $id%4d  ${ms / 1000.0}%7.2f s  shufW=${sw / 1e6}%8.1f MB shufR=${sr / 1e6}%8.1f MB  $nm")
    }
    spark.stop()
  }
}
