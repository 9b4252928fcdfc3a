package graft.tools

/** Dev tool (r15): quantify LinearizeNullSafeCountAgg's benefit — the
  * jn_nullsafe_engine rows timed with the rule INSTALLED vs REMOVED
  * (verbatim quadratic-bucket execution) at sf0.1 and the derived 3×
  * corpus. The asymptotic story: the verbatim NULL bucket is
  * |nulls_l|×|nulls_r| on ONE logical key (9× over a 3× corpus,
  * 10,000× over 100×); the rewrite stays linear. Usage:
  * `runMain graft.tools.NullSafeBench [sfDir]`. */
object NullSafeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Engine.session("graft-nullsafe-bench", Some("local[32]"))
    val dirs = Seq("sf0.1" -> sfDir, "3x" -> graft.ScaleFixture.dir(spark, sfDir))

    def time(name: String, dir: String): (Double, Long) = {
      graft.SparkEntry.queries(name)(spark, dir).collect(): Unit // warm-up
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val t0 = System.nanoTime()
      df.collect(): Unit
      val wall = (System.nanoTime() - t0) / 1e9
      val joinRows = graft.plans.PlanWalk.nodes(df.queryExecution.executedPlan)
        .collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
            j.metrics.get("numOutputRows")
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
            j.metrics.get("numOutputRows")
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
            j.metrics.get("numOutputRows")
        }.flatten.map(_.value)
      (wall, joinRows.foldLeft(0L)(math.max))
    }

    for ((tag, dir) <- dirs) {
      for (name <- Seq("jn_nullsafe_engine", "jn_nullsafe_full_engine",
          // r16 widening: count(<non-null side attr>) rows
          "jn_nullsafe_cnt_engine", "jn_nullsafe_full_cnt_engine",
          // r17 widening: sum(<non-null integral side attr>) rows
          "jn_nullsafe_sum_engine", "jn_nullsafe_full_sum_engine",
          // r18 widening: count(DISTINCT <bare side attr>) rows — the
          // verbatim leg additionally pays the distinct Expand over the
          // quadratic bucket
          "jn_nullsafe_cntd_engine", "jn_nullsafe_full_cntd_engine",
          // r19 widening: sum(DISTINCT <bare integral side attr>) rows
          "jn_nullsafe_sumd_engine", "jn_nullsafe_full_sumd_engine")) {
        val (tOn, rowsOn) = time(name, dir)
        val saved = spark.experimental.extraOptimizations
        spark.experimental.extraOptimizations =
          saved.filterNot(_ == graft.plans.LinearizeNullSafeCountAgg)
        val (tOff, rowsOff) = try time(name, dir)
        finally spark.experimental.extraOptimizations = saved
        println(f"NSBENCH $tag $name rule_on=$tOn%.3fs rows_on=$rowsOn " +
          f"rule_off=$tOff%.3fs rows_off=$rowsOff " +
          f"(join volume ratio ${rowsOff.toDouble / math.max(rowsOn, 1)}%.1f×)")
      }
    }
    spark.stop()
  }
}
