package graft

/** One-off diagnostic main for the bm25 bench-spread investigation
  * (r12 verdict "What's wrong #2"): replicates Bench's exact session
  * conf and measurement loop but times ONLY the queries given as args,
  * for N consecutive trials each, in arg order — so sequence-position
  * and JIT/codegen-warmth hypotheses are separable from the artifact.
  * Usage: runMain graft.BenchProbe <trials> <query>...
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = args.headOption.map { a =>
      try a.toInt catch {
        case _: NumberFormatException => sys.error(
          s"first arg must be the trial count, got '$a' — " +
            "usage: runMain graft.BenchProbe <trials> <query>...")
      }
    }.getOrElse(6)
    val names = args.drop(1).toSeq
    val known = SparkEntry.benchQueries.map(_.name).toSet
    val unknown = names.filterNot(known)
    if (unknown.nonEmpty) sys.error(
      s"unknown bench queries: ${unknown.mkString(", ")} — " +
        s"benched names: ${known.toSeq.sorted.mkString(", ")}")
    val spark = Engine.session("graft-bench-probe", Engine.localMaster)
    val qs = SparkEntry.benchQueries.filter(q => names.contains(q.name))
    val ordered = names.flatMap(nm => qs.find(_.name == nm))
    // per-trial DRIVER GC time (all collector beans summed): a trial
    // curve that rises in step with gcDelta names GC pressure as the
    // cause; a rising curve with flat GC points at neighbors/clock.
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val out = ordered.map { q =>
      val ts = (1 to n).map { _ =>
        val g0 = gcMs()
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, gcMs() - g0)
      }
      val fmt = ts.map(t => String.format(java.util.Locale.ROOT, "%.3f", Double.box(t._1)))
      val gcs = ts.map(_._2)
      s""""${q.name}":[${fmt.mkString(",")}],"${q.name}_gc_ms":[${gcs.mkString(",")}]"""
    }
    spark.stop()
    println("BENCHPROBE {" + out.mkString(",") + "}")
  }
}
