package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool (r21): isolate where sim_topk_pq's wall goes — times each
  * building block under the Bench config (3 passes each after warm-up).
  * Usage: `runMain graft.tools.PqProbe [sfDir]`. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Engine.session("graft-pq-probe", Some("local[32]"))
    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      try { df.write.format("noop").mode("overwrite").save() } catch { case _: Throwable => () }
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PQPROBE $name%-28s ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    import graft.queries.Pipeline3Queries
    time("codebook_row")(Pipeline3Queries.pqCodebookRow(spark, sfDir))
    time("query_lut")(Pipeline3Queries.pqQueryLut(spark, sfDir))
    time("codes_full")(Pipeline3Queries.pqCodes(spark, sfDir))
    time("codes_no_label")(Pipeline3Queries.pqCodes(spark, sfDir).select("vec_id", "m_0"))
    time("encode")(graft.SparkEntry.queries("sim_pq_encode")(spark, sfDir))
    time("topk_pq")(graft.SparkEntry.queries("sim_topk_pq")(spark, sfDir))
    time("topk_ivfpq")(graft.SparkEntry.queries("sim_topk_ivfpq")(spark, sfDir))
    val dist = (0 to 7).map(j =>
      element_at(col("lut"),
        (lit(j * 4 + 1) + col(s"m_$j") % 4).cast("int"))).reduce(_ + _)
    time("scored_bnlj")(Pipeline3Queries.pqCodes(spark, sfDir)
      .join(broadcast(Pipeline3Queries.pqQueryLut(spark, sfDir)),
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), (-dist).cast("double").as("score")))
    time("scored_bhj")(Pipeline3Queries.pqCodes(spark, sfDir).withColumn("onel", lit(1))
      .join(broadcast(Pipeline3Queries.pqQueryLut(spark, sfDir).withColumn("oner", lit(1))),
        col("onel") === col("oner") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), (-dist).cast("double").as("score")))
    spark.stop()
  }
}
