package graft.tools

/** Dev tool (r15 lever #1 adjudication): the containment funnel in
  * three honest numbers — gram-level join matches ("candidates"),
  * distinct pairs entering the verify ("verify_rows"), and TRUE answer
  * rows — plus the per-pair match multiplicity. A pair-level suffix
  * filter can only cut (verify_rows − answer_pairs); if that gap is
  * small the candidates:answer ratio is match MULTIPLICITY of true
  * pairs, which no pair filter can touch.
  * Usage: `runMain graft.tools.FunnelDiag [sfDir]`. */
object FunnelDiag {
  def main(args: Array[String]): Unit = {
    val sfArg = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Engine.session("graft-funnel-diag", Some("local[32]"))
    // "3x" = the derived 3× replication fixture (the bench's scale probe)
    val sfDir =
      if (sfArg == "3x") graft.ScaleFixture.dir(spark, "/root/testdata/sf0.1")
      else sfArg
    println(s"FUNNEL input: $sfDir")
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val df = graft.SparkEntry.queries("dedup_containment")(spark, sfDir)
    val answer = df.count()
    // fill THIS QueryExecution's metrics
    val dfm = graft.SparkEntry.queries("dedup_containment")(spark, sfDir)
    dfm.collect(): Unit
    val joinRows = graft.plans.PlanWalk.nodes(dfm.queryExecution.executedPlan).collect {
      case j: SortMergeJoinExec => j.metrics.get("numOutputRows")
      case j: ShuffledHashJoinExec => j.metrics.get("numOutputRows")
      case j: BroadcastHashJoinExec => j.metrics.get("numOutputRows")
    }.flatten.map(_.value)
    val candidates = joinRows.foldLeft(0L)(math.max)
    val verifyRows = joinRows.headOption.getOrElse(0L)
    println(s"FUNNEL answer=$answer verify_rows=$verifyRows candidates=$candidates")
    println(f"FUNNEL ratios: cand/verify=${candidates.toDouble / verifyRows}%.2f " +
      f"verify/answer=${verifyRows.toDouble / answer}%.3f cand/answer=${candidates.toDouble / answer}%.2f")
    // r21 (r20 verdict #3): the match-multiplicity SPLIT that decides
    // whether a PPJoin+ suffix filter is worth implementing. Any
    // recall-exact pair-level filter keeps every match of an ANSWER
    // pair, so its reduction is bounded by the matches belonging to
    // REJECTED pairs; if that share is small, the cand/verify gap is
    // true-pair multiplicity no filter can touch.
    import org.apache.spark.sql.functions.col
    val raw = graft.queries.DedupQueries.containCandRaw(spark, sfDir)
    val ans = df.select(col("doc_a"), col("doc_b"))
    val matchesTotal = raw.count()
    val matchesAnswer = raw.join(ans, Seq("doc_a", "doc_b"), "left_semi").count()
    val matchesRejected = matchesTotal - matchesAnswer
    val bound = matchesTotal.toDouble / matchesAnswer
    println(s"FUNNEL split: matches_total=$matchesTotal " +
      s"matches_of_answer_pairs=$matchesAnswer matches_of_rejected_pairs=$matchesRejected")
    println(f"FUNNEL suffix-filter ceiling: best-case candidate reduction " +
      f"= ${bound}%.3fx (removable share ${matchesRejected.toDouble / matchesTotal * 100}%.1f%%)")
    spark.stop()
  }
}
