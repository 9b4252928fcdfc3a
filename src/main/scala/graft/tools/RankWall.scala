package graft.tools

/** Dev tool (r21, r20 verdict #6): rank EVERY declared registry query by
  * its Verify-style wall at a given SF — one declaration + one noop-sink
  * materialization per query, timed, in one session under the Bench
  * config. The published table is the triage evidence for which
  * non-bench rows deserve a per-row profiling pass (ProfileContain).
  * Usage: `runMain graft.tools.RankWall [sfDir] [topN]`.
  *
  * Caveats recorded with the table: a single cold pass (Verify's own
  * shape — no warm-up), so each row pays its codegen + AQE planning;
  * CacheOnce tables build inside the FIRST row that touches them and
  * are reused by later rows (same as Verify); stream_* rows run their
  * real micro-batch checkpoints (that IS their wall). */
object RankWall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val topN = args.drop(1).headOption.map(_.toInt).getOrElse(30)
    val spark = graft.Engine.session("graft-rank-wall", Some("local[32]"))
    val rows = graft.SparkEntry.registry.map { q =>
      spark.sparkContext.setJobDescription(s"rankwall: ${q.name}")
      val t0 = System.nanoTime()
      val ok = try {
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch { case _: Throwable => false }
      val t = (System.nanoTime() - t0) / 1e9
      if (!ok) println(f"RANKWALL_ERR ${q.name}")
      (q.name, t, ok)
    }
    val total = rows.map(_._2).sum
    println(f"RANKWALL total=${total}%.1f s over ${rows.size} queries at $sfDir")
    println("RANKWALL top rows (rank, seconds, bench?, name):")
    rows.sortBy(-_._2).take(topN).zipWithIndex.foreach { case ((n, t, _), i) =>
      val bench = if (graft.SparkEntry.benchQueries.exists(_.name == n)) "bench" else "     "
      println(f"RANKWALL ${i + 1}%3d  $t%8.3f s  $bench  $n")
    }
    spark.stop()
  }
}
