package graft.tools

import graft.{Engine, SparkEntry}
import org.apache.spark.sql.catalyst.plans.logical.Window

/** One-shot census: which registry rows DECLARE a plan containing an
  * unpartitioned Window (empty partitionSpec)? Feeds the
  * WindowContract.domainBounded list (r16 verdict #5). Prints
  * `name  <count> unpartitioned window(s)` per hit. */
object WindowProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Engine.session("graft-window-probe", Some("local[8]"))
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val unpart = df.queryExecution.analyzed.collect {
          case w: Window if w.partitionSpec.isEmpty => w
        }
        if (unpart.nonEmpty) println(s"WINDOWPROBE $n ${unpart.size}")
      } catch { case e: Throwable =>
        println(s"WINDOWPROBE_ERR $n ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
    println("WINDOWPROBE_DONE")
  }
}
