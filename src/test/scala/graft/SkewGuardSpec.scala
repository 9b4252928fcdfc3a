package graft

import graft.functions.SkewGuard
import org.apache.spark.sql.GraftShim
import org.scalatest.funsuite.AnyFunSuite

/** The hot-bucket guard must drop degenerate LSH buckets (the 100 TB
  * O(n²) failure mode) while passing bounded buckets through untouched —
  * dedup query outputs at test SF must be identical with the guard on.
  * It must also be a PURE plan transformation: declaring a guarded query
  * may not fire a Spark job (the r4 design ran an eager hot.count() per
  * declaration). The probe below spot-checks the guarded and de-eagered
  * rows; RegistrySpec's eager census holds every registry row to
  * EagerContract. */
class SkewGuardSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("hot buckets are dropped, cold buckets survive") {
    import spark.implicits._
    val df = (Seq.fill(50)(("hot", 1)) ++ Seq(("cold", 2), ("cold2", 3))).toDF("k", "v")
    val out = SkewGuard.dropHotBuckets(df, Seq("k"), maxBucket = 10)
    assert(out.count() === 2)
    assert(out.select("k").as[String].collect().toSet === Set("cold", "cold2"))
  }

  test("identity output when every bucket is under the threshold") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val out = SkewGuard.dropHotBuckets(df, Seq("k"), maxBucket = 10)
    assert(out.count() === 3)
    assert(out.as[(String, Int)].collect().toSet === Set(("a", 1), ("a", 2), ("b", 3)))
  }

  test("multi-column bucket keys guard on the composite key") {
    import spark.implicits._
    val df = (Seq.fill(20)(("b0", "s0", 1)) ++ Seq(("b0", "s1", 2), ("b1", "s0", 3)))
      .toDF("band", "sig", "doc")
    val out = SkewGuard.dropHotBuckets(df, Seq("band", "sig"), maxBucket = 5)
    assert(out.count() === 2)
  }

  test("the in-build guard keeps exactly the rows dropHotBuckets keeps") {
    import spark.implicits._
    val cases = Seq(
      ((Seq.fill(50)(("hot", "x", 1)) ++ Seq(("cold", "x", 2), ("cold2", "x", 3)))
        .toDF("k", "s", "v"), Seq("k"), 10L),
      (Seq(("a", "x", 1), ("a", "x", 2), ("b", "x", 3)).toDF("k", "s", "v"), Seq("k"), 10L),
      ((Seq.fill(20)(("b0", "s0", 1)) ++ Seq(("b0", "s1", 2), ("b1", "s0", 3)))
        .toDF("k", "s", "v"), Seq("k", "s"), 5L),
      // a NULL key never joins, so the anti-join keeps even a hot NULL bucket
      ((Seq.fill(12)((null: String, "x", 4)) ++ Seq.fill(12)(("hot", "x", 5)) ++
        Seq(("cold", "x", 6))).toDF("k", "s", "v"), Seq("k"), 10L))
    for ((df, keys, maxBucket) <- cases) {
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.select("k", "s", "v").as[(String, String, Int)].collect().toSeq
          .sortBy(_.toString)
      val guarded = SkewGuard.dropHotBucketsInBuild(df, keys, Seq("v", "k"), maxBucket)
      assert(guarded.columns.toSeq === df.columns.toSeq)
      assert(rows(guarded) === rows(SkewGuard.dropHotBuckets(df, keys, maxBucket)),
        s"keys $keys, maxBucket $maxBucket")
    }
  }

  test("lsh hot-bucket guard ENGAGES on a boilerplate-heavy corpus and is surgical (r21, r20 verdict #5)") {
    // The one declared skew defense had never fired in a measured run
    // (inert at every shipped SF). This drives the DECLARED
    // dedup_minhash_lsh through a corpus where one band bucket is
    // demonstrably hot — 64 byte-identical boilerplate docs, whose 16
    // identical minhashes put all 64 rows in the SAME four (band, sig)
    // buckets — with the guard threshold lowered via the conf knob the
    // bandTable reads (spark.graft.dedup.maxBand, default unchanged).
    // Contract proven: (a) the anti-join ENGAGES (the C(64,2)=2016
    // quadratic boilerplate pairs vanish), (b) it is SURGICAL (every
    // sub-threshold pair is bit-identical to the unguarded run).
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_skewfix_${System.nanoTime()}"
    val boiler = spark.range(64).select(
      (col("id") + 1000000L).as("doc_id"),
      lit("boiler plate legal header boiler plate legal footer boiler plate notice line").as("text"),
      lit("en").as("lang"), lit("srcB").as("source"), lit(78L).as("n_chars"))
    Engine.table(spark, TestSpark.Sf, "documents").unionByName(boiler)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fn = SparkEntry.queries("dedup_minhash_lsh")
    def run(): (Set[(Long, Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val (unguarded, tU) = run()
      val hotPairs = unguarded.filter(p => p._1 >= 1000000L && p._2 >= 1000000L)
      assert(hotPairs.size === 64 * 63 / 2,
        s"fixture broken: expected the full quadratic bucket, got ${hotPairs.size}")
      spark.conf.set("spark.graft.dedup.maxBand", "40")
      val (guarded, tG) = run()
      assert(guarded === (unguarded -- hotPairs),
        "guard must drop EXACTLY the hot-bucket pairs (engaged + surgical)")
      assert(guarded.nonEmpty, "fixture broken: no sub-threshold pairs to preserve")
      info(f"unguarded: ${unguarded.size} pairs in $tU%.2f s; " +
        f"guarded: ${guarded.size} pairs in $tG%.2f s " +
        f"(dropped ${hotPairs.size} quadratic-bucket pairs)")
    } finally {
      spark.conf.unset("spark.graft.dedup.maxBand")
      queries.Registry.rmTree(new java.io.File(dir))
    }
  }

  test("declaring guarded / de-eagered queries launches NO Spark job") {
    val names = Seq("dedup_containment", "dedup_ngram_jaccard",
      "dedup_minhash_lsh", "dedup_simhash", "ml_chi2_cells",
      "dedup_semantic", "ml_kmeans_iterate", "text_tfidf",
      "sample_seeded", "random_split", "stat_sample_by",
      "text_line_dedup", "text_bigram_lm", "pipeline_curate",
      "dedup_exact_substr", "mm_crossmodal_topk", "text_bpe_encode",
      "pipe_mixture_weights", "text_gopher_rules", "pipe_dsir_weights",
      "sim_topk_ivfpq", "dedup_minhash_estimate", "pipe_token_budget",
      "pipe_curriculum", "pipe_dataset_card", "dedup_edit_distance",
      "sql_cache_table",
      // r16 verdict #4 de-eagered rows (lazy rank / lazy cache / lazy
      // observe restatements)
      "sort_global", "sort_nulls_last", "cache_columnar", "misc_observe")
    // warm Engine.table's schema cache OUTSIDE the probe group: the very
    // first read of a path fires one footer-inference job by design
    names.foreach(n => SparkEntry.queries(n)(spark, TestSpark.Sf))
    val sc = spark.sparkContext
    // jobs launched from this thread carry the group id, so the check is
    // immune to any concurrent activity in the shared session
    sc.setJobGroup("graft-lazy-check", "declaration-time laziness probe")
    try {
      names.foreach(n => SparkEntry.queries(n)(spark, TestSpark.Sf)) // declare only
      // settle the async status bus, then prove nothing ran in the group
      GraftShim.drainListenerBus(sc)
      assert(sc.statusTracker.getJobIdsForGroup("graft-lazy-check").isEmpty,
        "query declaration fired a driver-side job")
      // sanity: the detection plumbing does see jobs from this thread
      SparkEntry.queries("ml_chi2_cells")(spark, TestSpark.Sf).count()
      GraftShim.drainListenerBus(sc)
      assert(sc.statusTracker.getJobIdsForGroup("graft-lazy-check").nonEmpty,
        "job-group probe is broken — the assertion above proved nothing")
    } finally sc.clearJobGroup()
  }
}
