package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale-posture assertions on the PHYSICAL plans (the reference's
  * PlannerSuite analog): pushdown reaches the parquet scan, small dims
  * broadcast, top-k avoids a global sort, aggregation is partial before
  * the exchange, windows are partitioned. These are the properties that
  * decide whether a plan survives a 100 TB scale-up. */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.Sf).queryExecution.executedPlan.toString

  /** Walk an executed plan INCLUDING AQE-materialized subtrees —
    * delegates to the single shared copy (graft.plans.PlanWalk, also
    * used by Bench's diagnostics, tools.Profile and ScaleGrowthSpec). */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    graft.plans.PlanWalk.nodes(p)

  test("filter predicates are pushed into the parquet scan") {
    val p = plan("filter")
    // the plan string truncates the filter list; the leading entries prove
    // the predicates reached the scan
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("projection prunes the scanned schema to referenced columns") {
    val p = plan("project")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment"), "unreferenced column not pruned:\n" + p)
  }

  test("small dimension joins broadcast (no fact-table shuffle)") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
    val star = plan("join_star")
    assert(star.contains("BroadcastHashJoin"), star)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("partial"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("declared windows are partitioned (no single-partition window)") {
    for (name <- Seq("win_rank", "win_running_sum", "win_lag_lead",
        "win_nth_value", "sql_rows_vs_range_ties", "win_cusum",
        "win_seasonal_decompose", "pipe_scd2_intervals", "pipe_cdc_apply",
        "pipe_attribution")) {
      val p = plan(name)
      assert(!p.contains("SinglePartition"), s"$name has a single-partition stage:\n$p")
    }
    // sort_global / sort_nulls_last rank via the distributed lazy-rank
    // derivation — they must never regress to a corpus row_number
    // window. Since the r16 de-eagering their plans DO carry one
    // DOMAIN-bounded single-partition window (the ≤#partitions
    // heads-offset fold — declared and row-count-measured in
    // WindowContract/WindowContractSpec; its rendering here depends on
    // whether the shared session already materialized the cached
    // snapshot, so a string probe on it is order-flaky). The stable
    // invariants: the per-partition local index is present, and the
    // contract declares the bounded window.
    for (name <- Seq("sort_global", "sort_nulls_last")) {
      val p = plan(name)
      assert(p.contains("MapPartitions"),
        s"$name lost its distributed local-index rank derivation:\n$p")
      assert(graft.queries.WindowContract.domainBounded.contains(name),
        s"$name must stay declared in WindowContract.domainBounded")
    }
  }

  test("join strategy hints are honored (shuffle_hash / merge / broadcast)") {
    import org.apache.spark.sql.functions.col
    val li = SparkEntry.queries("project")(spark, TestSpark.Sf)
    val ord = spark.read.parquet(s"${TestSpark.Sf}/orders.parquet")
    def planOf(hint: String): String =
      li.join(ord.hint(hint), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"), "shuffle_hash")
    assert(planOf("merge").contains("SortMergeJoin"), "merge")
    assert(planOf("broadcast").contains("BroadcastHashJoin"), "broadcast")
  }

  test("AQE wraps the shuffling plans (runtime re-optimization active)") {
    for (name <- Seq("join_inner", "q1_agg", "dedup_minhash_lsh")) {
      assert(plan(name).contains("AdaptiveSparkPlan"), name)
    }
  }

  test("whole-stage codegen covers the scan-side expression work") {
    // "*(n)" prefixes mark whole-stage-codegen stages in plan strings
    val p = plan("expr_arithmetic")
    assert(p.contains("*(1)"), p)
  }

  test("bucketed join needs no exchange on either side") {
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("src_bucketed_join")(spark, TestSpark.Sf).count() // create tables
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the bucketed sort-merge path is exercised
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_ord_bkt")
        .join(spark.table("graft_cust_bkt"), col("o_custkey") === col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p)
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("SelectedBucketsCount: 8 out of 8"), p)
      // the full golden smb_mapjoin contract — no shuffle AND no sort:
      // the writer laid out ONE file per bucket (repartition(8, key)
      // aligns write tasks to buckets), and with the sorted-bucket scan
      // enabled (opt-in since Spark 3: it forces single-file bucket
      // reads) the SMJ consumes the sortBy order straight off the scan
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      try {
        val sorted = spark.table("graft_ord_bkt")
          .join(spark.table("graft_cust_bkt"), col("o_custkey") === col("c_custkey"))
        val ps = sorted.queryExecution.executedPlan.toString
        assert(!ps.contains("Exchange"), ps)
        assert(ps.contains("SortMergeJoin"), ps)
        assert(!ps.contains("Sort "), s"bucketed SMJ still sorts a side:\n$ps")
      } finally
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dynamic partition pruning reaches the fact scan's PartitionFilters") {
    // the dim-side runtime filter must replay into the partitioned fact
    // scan — at 100 TB this decides whether a date-filtered star join
    // lists one partition directory or the whole lake
    val p = plan("src_dpp")
    assert(p.contains("dynamicpruning"), s"no DPP subquery in fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("storage-partitioned join plans zero exchanges (DSv2 KeyGroupedPartitioning)") {
    // both BatchScans report KeyGroupedPartitioning(k); with v2 bucketing
    // enabled the SMJ and the downstream per-key aggregate must ride the
    // reported layout — no shuffle anywhere in the plan
    val p = plan("src_dsv2_spj")
    assert(!p.contains("Exchange"), s"SPJ shuffled:\n$p")
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("BatchScan keyed:fact") && p.contains("BatchScan keyed:dim"), p)
  }

  test("V2 paging pushdown narrows the generated range (limit / top-N / offset)") {
    val p = plan("src_dsv2_topn")
    // DESC top-7 over 10k rows: the scan generates only the last 7 ids
    assert(p.contains("range=[9993,10000)") && p.contains("topN=DESC:7"), p)
    // ASC page: the matching top-N (offset+limit) is pushed; the offset
    // itself is correctly NOT pushed after a partial top-N
    assert(p.contains("topN=ASC:9995"), p)
    assert(p.contains("limit=5"), p)
    // bare OFFSET pushes alone: the scan skips 9995 generated ids
    assert(p.contains("offset=9995"), p)
  }

  test("runtime V2 filtering injects a dynamicpruning IN-filter into the scan") {
    val p = plan("src_dsv2_runtime_filter")
    assert(p.contains("dynamicpruning"), s"no runtime filter on the V2 scan:\n$p")
  }

  test("NDCG evaluation uses the bounded-heap top-k, never a corpus rank window") {
    // both rankings must ride graft_topk partial aggregation; a Window
    // operator here would shuffle every scored pair into ≤Q partitions
    val p = plan("sim_ndcg")
    assert(!p.contains("Window"), s"sim_ndcg ranks via a window:\n$p")
    assert(p.contains("graft_topk"), p)
  }

  test("new pipeline windows are partitioned (chunking, preference pairs)") {
    for (name <- Seq("pipe_cdc_chunks", "pipe_preference_pairs")) {
      val p = plan(name)
      assert(!p.contains("SinglePartition"), s"$name has a single-partition stage:\n$p")
    }
  }

  test("incremental dedup is candidate-join shaped; trigram LM broadcasts its model") {
    val inc = plan("dedup_incremental")
    assert(!inc.contains("CartesianProduct"), inc)
    val tri = plan("text_trigram_backoff")
    assert(!tri.contains("CartesianProduct"), tri)
    // the vocab^k-bounded model tables must broadcast onto the held-out
    // trigram pass — a shuffle join here re-shuffles the corpus 5×
    assert(tri.contains("BroadcastHashJoin"), tri)
  }

  test("dedup provenance is candidate-join shaped (no cartesian, no corpus window)") {
    // four layers + assembly: every join is an equi-join on doc-level or
    // candidate keys (the K-row centroid fan-out broadcasts; the 1-row
    // corpus-count aggregate deriving K is the only single-partition
    // stage, bounded by construction); a true cartesian would mark a
    // corpus-wide quadratic step, and the substring rank must stay
    // partitioned on the corpus-growing window hash
    val p = plan("pipeline_dedup_provenance")
    assert(!p.contains("CartesianProduct"), p)
    // the substring layer's first-occurrence rank runs under
    // hashpartitioning on the 64-bit window hash h
    assert(p.matches("(?s).*hashpartitioning\\([^)]*\\bh#.*"),
      s"substring rank not partitioned on window hash h:\n$p")
  }

  test("EXISTS / IN rewrite to LeftSemi, NOT EXISTS to LeftAnti") {
    // the semijoin.q golden family: predicate subqueries must plan as
    // semi/anti joins — an inner-join + distinct restatement would
    // re-shuffle and duplicate the probe side at 100 TB
    val p = plan("sql_semijoin")
    // three semi variants (EXISTS, IN, EXISTS + non-equi conjunct) and
    // one anti (NOT EXISTS)
    assert("LeftSemi".r.findAllIn(p).size >= 3, s"expected ≥3 LeftSemi joins:\n$p")
    assert(p.contains("LeftAnti"), p)
    // the exists_extra non-equi conjunct rides INSIDE the semi-join
    // condition (a post-join Filter on a materialized inner join would
    // break semi-join cardinality semantics)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_topk is partial-aggregated per key, not a ≤Q-partition window") {
    for (name <- Seq("sim_topk_brute", "sim_topk_ivf", "sim_topk_lsh")) {
      val p = plan(name)
      // the old shape shuffled EVERY scored pair into ≤Q window partitions;
      // the scale-safe shape is the native bounded-heap graft_topk
      // aggregate: O(k) partial state, real partial/merge split
      assert(!p.contains("Window"), s"$name still uses a window:\n$p")
      assert(p.contains("partial_graft_topk"), s"$name lacks partial topk agg:\n$p")
      assert(p.contains("ObjectHashAggregate"), s"$name not object-hash-aggregated:\n$p")
    }
  }

  test("jdbc v2 catalog pushes the whole aggregation into the database") {
    val p = plan("src_jdbc_agg_pushdown")
    assert(p.contains("PushedAggregates: [COUNT(*), SUM(s_acctbal)]"),
      s"aggregate not pushed to Derby:\n$p")
    assert(p.contains("PushedGroupByExpressions: [s_nationkey]"),
      s"group-by not pushed to Derby:\n$p")
  }

  test("nested-schema pruning reads only the referenced struct leaves") {
    val p = plan("src_nested_pruning")
    // the scan schema must be the two meta leaves — neither the text
    // payload struct nor the sibling origin field may survive pruning
    assert(p.contains("ReadSchema: struct<info:struct<meta:struct<lang:string,n_chars:bigint>>>"),
      s"nested schema not pruned to the referenced leaves:\n$p")
    assert(!p.contains("payload"), s"payload struct not pruned:\n$p")
  }

  test("winnowing is a pure scan-stage expression chain (zero exchanges)") {
    val p = plan("text_winnowing")
    assert(!p.contains("Exchange"), s"winnowing shuffles:\n$p")
  }

  test("url-canonical dedup is one scan plus one partial-aggregated shuffle") {
    val p = plan("dedup_url_canonical")
    // exactly the dedup_exact shape: canonical strings aggregate with a
    // map-side partial before the single hash exchange — never text
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_min"), s"keeper agg not partial:\n$p")
  }

  test("bitmap distinct is a mergeable two-level aggregate, not an Expand rewrite") {
    val p = plan("sql_bitmap_distinct")
    // the whole point of the bitmap spelling: bounded bitmap partials
    // merge map-side; no Expand duplication, no raw keys in the shuffle
    assert(p.contains("partial_bitmap_construct_agg"), s"bitmap agg not partial:\n$p")
    assert(!p.contains("Expand"), s"distinct fell back to the Expand rewrite:\n$p")
  }

  test("chunking with overlap is a pure scan-stage generator (zero exchanges)") {
    val p = plan("pipe_chunk_overlap")
    assert(!p.contains("Exchange"), s"chunking shuffles:\n$p")
    assert(p.contains("Generate"), s"no generator in chunking plan:\n$p")
  }

  test("bm25 filters postings by a broadcast term list before any shuffle") {
    val p = plan("text_bm25_topk")
    // the query-term and df joins broadcast (query side is tiny by
    // definition); the per-doc stats join shuffles on doc_id only; the
    // per-query cut is the bounded-heap aggregate, never a window
    assert(p.contains("BroadcastHashJoin"), s"term join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in bm25:\n$p")
    assert(!p.contains("Window"), s"bm25 uses a window:\n$p")
    assert(p.contains("partial_graft_topk"), s"bm25 lacks partial topk agg:\n$p")
    assert(p.contains("partial_sum"), s"score agg not partial:\n$p")
  }

  test("hybrid RRF broadcasts the query side of both rankers") {
    val p = plan("sim_hybrid_rrf")
    // both rankers stream the corpus once against a broadcast 10-row
    // query set (the =!= condition plans as BroadcastNestedLoopJoin —
    // the intended orientation, NOT a shuffle cartesian), and all three
    // top-k cuts ride the bounded-heap aggregate
    assert(!p.contains("CartesianProduct"), s"cartesian in rrf:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side not broadcast:\n$p")
    assert(!p.contains("Window"), s"rrf uses a window:\n$p")
    assert(p.contains("partial_graft_topk"), s"rrf lacks partial topk agg:\n$p")
  }

  test("dedup LSH shuffles signatures, not documents (no cartesian)") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("containment/jaccard dedup candidates join on corpus-growing gram hashes") {
    for (name <- Seq("dedup_containment", "dedup_ngram_jaccard")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n$p")
      // the candidate equi-join must hash-partition on the exploded gram
      // hash `h` — a key whose cardinality grows with the corpus — never
      // on the fixed-cardinality source cell alone (the r4 scale-killer:
      // quadratic buckets that SkewGuard would drop wholesale at 100 TB)
      assert(p.matches("(?s).*hashpartitioning\\([^)]*\\bh#.*"),
        s"$name candidate join not keyed on gram hash h:\n$p")
    }
  }

  test("semantic dedup derives K from the corpus count (no fixed cluster key)") {
    val p = plan("dedup_semantic")
    // the r6 defect: centroids were `vec_id < 8`, a corpus-INDEPENDENT
    // 8-value pair-join key ⇒ within-cluster pairs ∝ N². The fix keys the
    // centroid filter on k = max(ceil(count(*)/target), 8) — the filter
    // must compare vec_id against the count-derived attribute, never a
    // literal, and the pair self-join must hash-partition on cluster.
    assert(!p.matches("(?s).*vec_id#\\d+L? < 8\\).*"),
      s"centroid set is a fixed literal again:\n$p")
    assert(p.matches("(?s).*vec_id#\\d+L? < k#.*"),
      s"centroid filter not keyed on corpus-derived k:\n$p")
    // ceil(count/target) folds into the aggregate's result projection, so
    // the plan string shows k emitted directly by the count(1) aggregate
    assert(p.matches("(?s).*functions=\\[count\\(1\\)\\], output=\\[k#.*"),
      s"k not derived from a corpus count(1) aggregate:\n$p")
    assert(p.matches("(?s).*hashpartitioning\\([^)]*cluster#.*"),
      s"pair join not hash-partitioned on cluster:\n$p")
  }

  test("dedup verify runs in the codegen overlap kernel, not interpreted set math") {
    for (name <- Seq("dedup_containment", "dedup_ngram_jaccard")) {
      val p = plan(name)
      assert(p.contains("graft_overlap64"), s"$name verify lost the native kernel:\n$p")
      assert(!p.contains("array_intersect"),
        s"$name still builds interpreted per-pair hash sets:\n$p")
    }
  }

  test("exact-substring dedup ranks on the corpus-growing window hash") {
    val p = plan("dedup_exact_substr")
    // the keep-first rank must be hash-partitioned on the 64-bit window
    // hash (corpus-growing key), and nothing in the plan may collapse to
    // a single partition — the ExactSubstr scale contract
    assert(p.matches("(?s).*hashpartitioning\\([^)]*h#.*"),
      s"keep decision not partitioned on the window hash:\n$p")
    assert(!p.contains("SinglePartition"),
      s"dedup_exact_substr has a single-partition stage:\n$p")
  }

  test("AQE re-plans a shuffle join to broadcast from runtime stats") {
    // at 100 TB the static size estimate of a filtered scan is the full
    // file footprint, so selective-dimension joins plan as shuffle
    // joins; AQE must rescue them at runtime from the ACTUAL post-filter
    // size — drop the broadcast threshold below the orders file size so
    // the static plan can't broadcast, then verify the adaptive re-plan
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevPart = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "2048")
    // few shuffle partitions: AQE DEMOTES broadcast when the build
    // side's map output is mostly empty partitions (3 rows over 32
    // partitions trips nonEmptyPartitionRatioForBroadcastJoin) — with 2
    // partitions the ratio clears the bar and size alone decides
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      val li = Engine.table(spark, TestSpark.Sf, "lineitem").select(col("l_orderkey"))
      val o = Engine.table(spark, TestSpark.Sf, "orders")
        .filter(col("o_totalprice") > 499000).select(col("o_orderkey"))
      val j = li.join(o, col("l_orderkey") === col("o_orderkey")).groupBy().count()
      assert(!j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "static plan broadcast despite the lowered threshold — test is vacuous")
      j.collect()
      val fin = j.queryExecution.executedPlan.toString
      assert(fin.contains("BroadcastHashJoin"),
        s"AQE did not convert the shuffle join to broadcast at runtime:\n$fin")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.shuffle.partitions", prevPart)
    }
  }

  test("multiple DISTINCT aggregates plan via Expand, not repeated scans") {
    // two distinct column-sets in one agg (nd_part, nd_part_supp) must
    // compile to the single-scan Expand rewrite — N distinct aggregates
    // re-scanning the fact table N times would not survive 100 TB
    val p = plan("agg_count_distinct")
    assert(p.contains("Expand"), s"multi-distinct agg lost the Expand rewrite:\n$p")
  }

  test("BPE encode is a pure scan-stage projection (no shuffle)") {
    // the merge loop is a per-row expression chain over a broadcast-
    // equivalent constant table — at 100 TB it must ride the scan, so
    // any Exchange in this plan is a regression
    val p = plan("text_bpe_encode")
    assert(!p.contains("Exchange"), s"BPE encode shuffles:\n$p")
  }

  test("keep-best representative selection is aggregation-shaped, not window-shaped") {
    // per-cluster best + representative are two hash aggregations and a
    // bounded join — a corpus-wide Window or a cartesian product here
    // would not survive scale-up
    val p = plan("dedup_keep_best")
    assert(!p.contains("CartesianProduct"), s"keep-best goes cartesian:\n$p")
    assert(!p.contains("Window"), s"keep-best uses a corpus-wide window:\n$p")
  }

  test("BPE training learns greedy merges with non-increasing pair counts") {
    // the greedy invariant: a merge can only create pairs whose count is
    // bounded by the count of the pair just consumed, so the best-pair
    // count sequence never increases; steps must be contiguous from 1
    val rows = SparkEntry.queries("text_bpe_train")(spark, TestSpark.Sf)
      .orderBy("step").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length.toLong),
      "steps not contiguous")
    val counts = rows.map(_.getLong(3)).toSeq
    assert(counts == counts.sorted.reverse,
      s"greedy best-pair counts increased: $counts")
    val merges = rows.map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.distinct.size == merges.size, s"duplicate merge learned: $merges")
  }

  test("overlap64 inputs prove containsNull=false so the null guard compiles out") {
    // the per-pair null-element scan in Overlap64 is gated on the input
    // schema; the hot pipelines build hs via array_compact precisely so
    // the verify stage pays zero guard passes per candidate pair
    import org.apache.spark.sql.types.ArrayType
    for (name <- Seq("dedup_containment", "dedup_ngram_jaccard")) {
      val qe = SparkEntry.queries(name)(spark, TestSpark.Sf).queryExecution
      val ovs = qe.optimizedPlan.flatMap(n =>
        n.expressions.flatMap(_.collect { case o: graft.plans.Overlap64 => o }))
      assert(ovs.nonEmpty, s"$name lost the native kernel")
      for (o <- ovs; c <- Seq(o.left, o.right))
        assert(!c.dataType.asInstanceOf[ArrayType].containsNull,
          s"$name overlap input still claims nullable elements: $c")
    }
  }

  test("simhash cluster sizes are partial-aggregated, then broadcast back") {
    val p = plan("dedup_simhash")
    assert(!p.contains("Window"), "window shape has no partial aggregation:\n" + p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("partition-column filter prunes directories, not rows") {
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("src_parquet_partitioned")(spark, TestSpark.Sf).count() // stage table
    val path = "/tmp/graft_io/_root_testdata_sf0_001/orders_part"
    val p = spark.read.parquet(path).filter(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"), p)
  }

  test("literal filter on the bucket column prunes buckets") {
    import org.apache.spark.sql.functions.col
    SparkEntry.queries("src_bucketed_join")(spark, TestSpark.Sf).count() // stage tables
    // autoBucketedScan would drop the bucketed layout for a plain filter
    // scan; disable it so bucket pruning is observable
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val p = spark.table("graft_ord_bkt").filter(col("o_custkey") === 7L)
        .queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 8"), p)
    } finally spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
  }

  test("expression predicates over partition columns prune at listing time") {
    // ppr_pushdown golden family: the three pushdown channels must land
    // separately — expressions over partition cols (modulo / concat /
    // IN∨range) in PartitionFilters, the data predicate in PushedFilters,
    // and NO partition-column predicate may degrade to a row Filter.
    val expr = plan("src_ppr_expr")
    assert(expr.contains("PartitionFilters:"), expr)
    assert(expr.contains("(o_year#") && expr.contains("% 2)"),
      "modulo over the partition column did not reach PartitionFilters:\n" + expr)
    assert(expr.contains("(o_orderstatus") || expr.contains("o_orderstatus#"),
      expr)
    assert(expr.contains("PushedFilters: [IsNotNull(o_totalprice)"),
      "data predicate did not reach PushedFilters:\n" + expr)

    val cc = plan("src_ppr_concat")
    assert(cc.contains("PartitionFilters:") && cc.contains("concat"),
      "concat over the partition column did not reach PartitionFilters:\n" + cc)

    val ir = plan("src_ppr_in_range")
    assert(ir.contains("PartitionFilters:") &&
      (ir.contains("o_year#") && (ir.contains(" IN ") || ir.contains("in(o_year"))),
      "IN/range disjunction did not reach PartitionFilters:\n" + ir)
    // nothing partition-only may fall through to a data-side filter scan
    assert(ir.contains("PushedFilters: []"), ir)
  }

  test("date-typed partition predicates prune at listing time (partition_date)") {
    // the dt partition column must be INFERRED DateType from the
    // `dt=1995-03-01` directory names, and both the DATE-literal and the
    // STRING-literal predicate spellings must land in PartitionFilters
    // (string cast to date at listing time) — never in PushedFilters or
    // a row Filter.
    val df = SparkEntry.queries("src_pdate_eq")(spark, TestSpark.Sf)
    val dtField = df.sparkSession.read
      .parquet(graft.queries.Source4Queries.datePartitionedPath(TestSpark.Sf))
      .schema("dt")
    assert(dtField.dataType == org.apache.spark.sql.types.DateType,
      s"partition column dt inferred as ${dtField.dataType}, not DateType")
    val eq = df.queryExecution.executedPlan.toString
    assert(eq.contains("PartitionFilters:") && eq.contains("dt#"), eq)
    assert(eq.contains("PushedFilters: []"), eq)
    val rng = plan("src_pdate_range")
    assert(rng.contains("PartitionFilters:") && rng.contains("dt#"), rng)
    assert(rng.contains("PushedFilters: []"), rng)
  }

  test("co-bucketed joins run shuffle-free and key-adjacent aggs reuse partitioning") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def shape(name: String): (Int, Int, Int) = {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect() // AQE: inspect the FINAL executed plan
      val ns = nodes(df.queryExecution.executedPlan)
      (ns.count(_.isInstanceOf[ShuffleExchangeLike]),
        ns.count(n => n.isInstanceOf[SortMergeJoinExec] ||
          n.isInstanceOf[ShuffledHashJoinExec]),
        ns.count(_.isInstanceOf[BroadcastHashJoinExec]))
    }
    // smb_mapjoin/auto_sortmerge_join contract: the bucket layout IS the
    // join partitioning — the only exchange in each plan belongs to the
    // re-aggregation ABOVE the join, never to the join itself.
    val (exFo, _, _) = shape("smb_outer_grid")
    assert(exFo == 1, s"smb_outer_grid: expected 1 exchange (the rollup), got $exFo")
    val (exTw, _, _) = shape("smb_three_way")
    assert(exTw == 1, s"smb_three_way: expected 1 exchange (the rollup), got $exTw")
    val (exJg, _, _) = shape("smb_join_then_gby")
    assert(exJg == 1, s"smb_join_then_gby: expected 1 exchange (the mod-10 rollup " +
      s"only — join AND per-key agg ride the buckets), got $exJg")
    // correlationoptimizer1 contract on unbucketed inputs: forced SMJ =
    // one exchange per side, per-key agg adds NONE, mod-10 rollup adds 1.
    val (exJa, smjJa, _) = shape("sql_join_agg_adjacent")
    assert(smjJa >= 1, "sql_join_agg_adjacent must keep the forced sort-merge join")
    assert(exJa == 3, s"sql_join_agg_adjacent: expected 3 exchanges (2 join sides " +
      s"+ rollup; key-adjacent agg must add none), got $exJa")
    // multiMapJoin contract: a broadcast CHAIN stays in one map stage.
    val (exBc, shuffleJoinsBc, bhjBc) = shape("join_broadcast_chain")
    assert(bhjBc == 3 && shuffleJoinsBc == 0,
      s"join_broadcast_chain: expected 3 BroadcastHashJoin / 0 shuffled joins, " +
        s"got $bhjBc/$shuffleJoinsBc")
    assert(exBc <= 1, s"join_broadcast_chain: the only exchange may be the final " +
      s"aggregation's, got $exBc")
    // correlationoptimizer6 contract: identical agg branches self-joined
    // must REUSE one shuffle, not recompute the scan+exchange twice.
    val reuse = SparkEntry.queries("sql_selfjoin_exchange_reuse")(spark, TestSpark.Sf)
    reuse.collect()
    val rp = reuse.queryExecution.executedPlan.toString
    assert(rp.contains("ReusedExchange") || rp.contains("ReusedQueryStage"),
      "identical agg branches did not reuse the exchange:\n" + rp)
    // correlationoptimizer2/3 class: the shared-key PIPELINE (join → agg
    // → join back → rollup). The two customer scans prune to DIFFERENT
    // columns (only the second needs c_mktsegment), so exchange REUSE is
    // not available — the contract that does hold is the exchange
    // COUNT: 3 scan-side exchanges + the final rollup and NOTHING
    // between the first join, the key-adjacent agg, and the second join
    // (all share the custkey partitioning).
    val (exSkp, smjSkp, _) = shape("sql_shared_key_pipeline")
    assert(smjSkp >= 2,
      s"forced merge joins missing from the shared-key pipeline ($smjSkp)")
    assert(exSkp == 4, s"sql_shared_key_pipeline: expected 4 exchanges (3 scan-side " +
      s"+ rollup; the whole key-sharing pipeline adds none), got $exSkp")
  }

  test("semijoin grid rows plan as equi semi/anti joins, never nested-loop") {
    // the sj_* family's scale posture: every row is a key-equi
    // semi/anti (build side deduplicates to an existence set; output
    // never exceeds the probe side). A regression to
    // BroadcastNestedLoopJoin or CartesianProduct (e.g. the join
    // condition degrading to non-equi) would be quadratic at 100 TB.
    for (name <- Seq("sj_dup_preserve", "sj_build_pred", "sj_expr_key",
      "sj_outer_then_semi", "sj_semi_then_full", "sj_chain2",
      "sj_composite", "sql_union_join_gby")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name degraded to a nested-loop shape:\n" + p)
    }
    // join_filters contract (jn_on_vs_where): every ON-vs-WHERE variant
    // — including both FULL joins, whose extra ON predicates must ride
    // the equi-join rather than degrade it — stays a hash-partitioned
    // equi-join. Output is 6 aggregate rows; input volume is linear in
    // the SF (equi-join on custkey, per-key multiplicity bounded by the
    // generator's orders-per-customer).
    val ovw = plan("jn_on_vs_where")
    assert(!ovw.contains("CartesianProduct") &&
      !ovw.contains("BroadcastNestedLoopJoin"),
      s"jn_on_vs_where degraded to a nested-loop shape:\n" + ovw)
    // auto_join_nulls/auto_join_filters contract: the hinted grid runs
    // the BROADCAST join path for all three shapes.
    val bc = plan("jn_auto_broadcast")
    val nBhj = "BroadcastHashJoin".r.findAllIn(bc).length
    assert(nBhj >= 3 && !bc.contains("SortMergeJoin"),
      s"jn_auto_broadcast: expected 3 BroadcastHashJoin / no SMJ, got $nBhj:\n" + bc)
  }

  test("CBO join reorder puts the dims first (join_reorder goldens)") {
    // with stats in the catalog, the syntactically fact-first
    // (orders ⋈ customer) ⋈ nation must optimize to dims-first — the
    // fact table's leaf moves from FIRST to LAST in the optimized plan.
    graft.queries.Sql20Queries.cboTables(spark, TestSpark.Sf)
    def leaves(reorder: Boolean): Seq[String] = {
      val c = spark.conf
      val saved = (c.getOption("spark.sql.cbo.enabled"),
        c.getOption("spark.sql.cbo.joinReorder.enabled"))
      try {
        c.set("spark.sql.cbo.enabled", "true")
        c.set("spark.sql.cbo.joinReorder.enabled", reorder.toString)
        spark.sql("""
          SELECT n.n_name, count(*) AS cnt
          FROM graft_cbo_o o
          JOIN graft_cbo_c c ON o.o_custkey = c.c_custkey
          JOIN graft_cbo_n n ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name""")
          .queryExecution.optimizedPlan.collectLeaves()
          .map(_.toString.split("\n").head)
      } finally {
        saved._1.fold(c.unset("spark.sql.cbo.enabled"))(
          c.set("spark.sql.cbo.enabled", _))
        saved._2.fold(c.unset("spark.sql.cbo.joinReorder.enabled"))(
          c.set("spark.sql.cbo.joinReorder.enabled", _))
      }
    }
    val off = leaves(reorder = false)
    val on = leaves(reorder = true)
    assert(off.head.contains("graft_cbo_o"),
      s"syntactic order should lead with the fact table: $off")
    assert(!on.head.contains("graft_cbo_o") && on.last.contains("graft_cbo_o"),
      s"CBO did not reorder the fact table last: $on")
  }

  test("join filters propagate to the other side's scan (ppd_join_filter)") {
    // constraint inference: `c.c_custkey < 100` with `o_custkey =
    // c_custkey` must reach the ORDERS scan as PushedFilters — at 100 TB
    // this is the difference between scanning one key range and the
    // whole fact table.
    val p = plan("sql_ppd_join_filter")
    assert(p.contains("LessThan(o_custkey,100)"),
      "c-side filter did not propagate to the orders scan:\n" + p)
    assert(p.contains("LessThan(c_custkey,100)"), p)
  }

  test("as-of join is a single-shuffle window plan, not a per-key cross product") {
    val p = plan("join_asof")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "as-of should be join-free (union + window):\n" + p)
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("native as-of operator gets co-partitioned exchanges from its declared needs") {
    val p = plan("join_asof_native")
    assert(p.contains("AsOfJoin"), p)
    // EnsureRequirements must have inserted hash exchanges on the keys
    assert(p.contains("hashpartitioning(user_id") && p.contains("hashpartitioning(c_user"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("range join is a binned equi-join, not a cross product") {
    val p = plan("join_range")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("hive-format table lives in a real Hive metastore catalog") {
    assert(spark.conf.get("spark.sql.catalogImplementation") === "hive")
    SparkEntry.queries("src_hive_table")(spark, TestSpark.Sf).count() // create
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("graft_hive_nation"))
    assert(meta.provider.contains("hive"), s"provider=${meta.provider}")
  }

  test("JDBC read pushes predicates into the database WHERE clause") {
    val p = plan("src_jdbc_read")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThan(s_acctbal") || p.contains("GreaterThan(S_ACCTBAL"), p)
  }

  test("DSv2 custom source narrows the scan range from pushed filters") {
    val p = plan("src_dsv2_pushdown")
    // full range would print range=[0,1000); the narrowed bounds prove the
    // id comparisons were handled source-side, not post-scan
    assert(p.contains("range=[100,600)"), p)
  }

  test("repartition + sortWithinPartitions yields locally-sorted partitions") {
    import org.apache.spark.sql.functions.col
    val sortedFlags = SparkEntry.queries("project")(spark, TestSpark.Sf)
      .repartition(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
      .select(col("l_orderkey"))
      .rdd.mapPartitions { it =>
        val keys = it.map(_.getLong(0)).toSeq
        Iterator.single(keys == keys.sorted)
      }.collect()
    assert(sortedFlags.forall(identity))
    assert(sortedFlags.length === 8)
  }

  test("DISTRIBUTE BY / SORT BY is a hash exchange + local sort, no global sort") {
    val p = plan("sql_distribute_by")
    assert(p.contains("Exchange hashpartitioning"), p)
    // Sort prints its global flag positionally: "Sort [keys], false, 0"
    assert(p.contains("], false, 0"), "no local sort found:\n" + p)
    assert(!p.contains("], true, 0"), "global sort leaked into DISTRIBUTE BY:\n" + p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("SQL BROADCAST hint produces a broadcast join") {
    assert(plan("sql_join_hint").contains("BroadcastHashJoin"))
  }

  test("SELECT TRANSFORM plans a script transformation, one pipe per task") {
    val p = plan("sql_transform")
    assert(p.toLowerCase.contains("scripttransformation"), p)
  }

  test("decontamination joins gram hashes via broadcast (text never shuffles)") {
    val p = plan("pipe_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("k-means assign broadcasts the centroid set to the scan") {
    val p = plan("sim_kmeans_assign")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("surprisal scoring broadcasts the vocabulary onto the token scan") {
    val p = plan("text_surprisal")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("PQ encode broadcasts the codebook (no candidate shuffle)") {
    val p = plan("sim_pq_encode")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("edit-distance verify joins only LSH candidates (no corpus cross product)") {
    val p = plan("dedup_edit_distance")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join strategy hints force merge, shuffled-hash, and replicated-NL operators") {
    val p = plan("sql_join_hints")
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("CACHE TABLE aggregate reads the in-memory relation") {
    val p = plan("sql_cache_table")
    assert(p.contains("InMemoryRelation") || p.contains("In-memory table")
      || p.contains("TableCacheQueryStage"), p)
  }

  test("ORDER BY a derived non-projected expression under LIMIT is still top-k") {
    val p = plan("sql_orderby_expr")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("gopher rule census is a pure in-scan expression chain (zero exchanges)") {
    val p = plan("text_gopher_rules")
    assert(!p.contains("Exchange"), "per-row rule census must not shuffle:\n" + p)
  }

  test("DSIR bucket model broadcasts onto the token pass") {
    val p = plan("pipe_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("IVF+PQ search broadcasts the distance table and never cross-joins") {
    val p = plan("sim_topk_ivfpq")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), "ADC scoring must stay an equi-join:\n" + p)
    assert(p.contains("graft_topk"), "top-k must use the bounded-heap aggregate:\n" + p)
  }

  test("time-range window is partitioned by user, never single-partition") {
    val p = plan("win_time_range")
    assert(!p.contains("SinglePartition"), p)
  }

  test("Gramian is one scan of outer products, partial-aggregated — no self-join") {
    val p = plan("ml_gramian")
    assert(!p.contains("Join"), "Gramian must not self-join the matrix:\n" + p)
    assert(p.contains("Generate"), "expected posexplode outer-product pass:\n" + p)
    assert(p.contains("partial_sum"), "entry sums must partial-aggregate:\n" + p)
  }

  test("column similarities broadcast the 64-entry diagonal, never shuffle it") {
    val p = plan("ml_col_similarities")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "diagonal join must not shuffle:\n" + p)
  }

  test("matrix multiply pre-aggregates both operands before the inner-dim join") {
    val p = plan("ml_block_matmul")
    assert(p.contains("partial_count"), "operand entries not partial-aggregated:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("FPGrowth prunes pair candidates with a broadcast of frequent singletons") {
    for (name <- Seq("ml_fpgrowth", "ml_assoc_rules")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$name: Apriori pruning should broadcast the frequent-item set:\n$p")
    }
  }

  test("learner sufficient statistics are partial-aggregated single passes") {
    for (name <- Seq("ml_ridge", "ml_logreg_step", "ml_power_iteration",
        "ml_streaming_kmeans_update")) {
      val p = plan(name)
      assert(p.contains("partial"), s"$name lacks partial aggregation:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name should only broadcast-join K-row model tables:\n$p")
    }
  }

  test("AUC ranks come from tie-group aggregation, not a per-priority rank window") {
    // the r5 shape ranked RAW rows inside a 5-value partition key —
    // N/5 rows in one task at any scale. The fix collapses rows to
    // (priority, price) tie groups FIRST (partial agg), so every window
    // here runs over aggregated tie-group rows bounded by the price
    // domain, and no rank() touches raw orders rows.
    val p = plan("ml_auc")
    assert(!p.contains("rank("), s"raw-row rank window is back:\n$p")
    assert(p.contains("partial_count"),
      s"tie-group aggregation must precede the prefix-sum windows:\n$p")
  }

  test("k-means iteration loop re-reads the CACHED points, never the parquet scan") {
    val df = SparkEntry.queries("ml_kmeans_iterate")(spark, TestSpark.Sf)
    val p = df.queryExecution.executedPlan.toString
    // all three Lloyd iterations scan the one persisted points table
    val cacheScans = "InMemoryTableScan|TableCacheQueryStage".r.findAllIn(p).size
    assert(cacheScans >= 3, s"expected >=3 cache scans (one per iteration), got $cacheScans:\n$p")
    // every FileScan in the plan STRING is the cached relation reprinting
    // its build plan (one per InMemoryRelation occurrence); a live parquet
    // re-scan would add a FileScan with no InMemoryRelation above it
    val parquetScans = "FileScan parquet".r.findAllIn(p).size
    val cachedRelations = "InMemoryRelation".r.findAllIn(p).size
    assert(parquetScans <= cachedRelations,
      s"iteration loop has a live parquet scan outside the cache ($parquetScans scans, $cachedRelations cached):\n$p")
  }

  test("line dedup keep-decision is hash-partitioned on the segment hash") {
    val p = plan("text_line_dedup")
    // the keep-first window must partition on the 64-bit segment hash h
    // (corpus-growing key), never collapse to a single partition, and
    // the whole pipeline stays join-free below the final aggregation
    assert(p.matches("(?s).*hashpartitioning\\([^)]*h#.*"),
      s"keep-decision window not partitioned on segment hash:\n$p")
    assert(!p.contains("SinglePartition"), s"single-partition stage:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("convergence loop runs a data-dependent number of iterations over cached points") {
    import org.apache.spark.sql.functions.{col, round}
    val rows = SparkEntry.queries("ml_kmeans_converge")(spark, TestSpark.Sf).collect()
    val iters = rows.map(_.getLong(0)).distinct.sorted
    assert(iters.nonEmpty && iters.head == 1L && iters.last <= 8L &&
      iters.length == iters.last.toInt,
      s"iterations not contiguous from 1: ${iters.toSeq}")
    val byIter = rows.groupBy(_.getLong(0))
    val last = iters.last
    // every non-final iteration must NOT be converged (the loop would
    // have over-run its own stop decision), and the final one must be
    // converged or the max-iteration cap
    for (i <- iters if i < last)
      assert(!byIter(i).head.getBoolean(5), s"iter $i converged but the loop kept running")
    assert(byIter(last).head.getBoolean(5) || last == 8L,
      "loop stopped without converging and without hitting max-iter")
    // the loop's per-iteration scans hit the PERSISTED points table: the
    // exact points plan must be registered in the cache after the run
    val pts = graft.Engine.table(spark, TestSpark.Sf, "orders")
      .select(round(col("o_totalprice") * 100).cast("long").as("x"))
    assert(spark.sharedState.cacheManager
      .lookupCachedData(pts.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .nonEmpty,
      "points table not in the persistent cache after the loop")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    import org.apache.spark.sql.functions.col
    val c = spark.conf
    val savedBroadcast = c.get("spark.sql.autoBroadcastJoinThreshold")
    c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // the 10 GB application-side default can't trip at test SF; the
    // TECHNIQUE is what's under test — at 100 TB the default thresholds
    // fire on their own
    c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    try {
      val li = spark.read.parquet(s"${TestSpark.Sf}/lineitem.parquet")
      val pt = spark.read.parquet(s"${TestSpark.Sf}/part.parquet")
        .filter(col("p_size") === 1) // selective build-side filter
      val q = li.join(pt, li("l_partkey") === pt("p_partkey"))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") || optimized.contains("bloom"),
        "no runtime bloom filter injected:\n" + optimized)
    } finally {
      c.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      c.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      c.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    }
  }

  test("correlated scalar count decorrelates to ONE aggregate join (no re-scan per row)") {
    // the COUNT-bug family: the subquery must become a left-outer
    // aggregate join patched with the 0-for-empty coalesce — exactly one
    // scan of orders, never a nested-loop re-execution per customer row
    val p = plan("sql_count_bug")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("orders\\.parquet".r.findAllIn(p).size == 1,
      s"orders scanned more than once:\n$p")
  }

  test("identical CTE branches reuse one exchange (correlationoptimizer family)") {
    // shared-scan correlation: agg ⋈ agg over the same CTE must scan +
    // aggregate orders ONCE; the second branch is a ReusedExchange.
    // Under AQE exchange reuse is applied at RUNTIME, so the contract is
    // read off the final adaptive plan, after execution.
    val df = SparkEntry.queries("sql_shared_scan")(spark, TestSpark.Sf)
    df.collect()
    // the adaptive plan string appends the pre-AQE "Initial Plan" —
    // assert over the executed Final Plan section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"), s"no exchange reuse:\n$p")
    assert("orders\\.parquet".r.findAllIn(p).size == 1,
      s"orders scanned more than once:\n$p")
  }

  test("null-rejecting WHERE on the outer side eliminates the outer join and pushes down") {
    // ppd_outer_join family: branch 1 (status = 'F') must plan INNER
    // with the filter pushed into the orders scan; branch 2
    // (IS NULL probe) must STAY a left outer join
    val p = plan("sql_outer_join_elim")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]")
      || p.contains("EqualTo(o_orderstatus,F)"), s"status filter not pushed to scan:\n$p")
    assert(p.contains("LeftOuter"), s"the IS NULL branch lost its outer join:\n$p")
    // the eliminated branch: at least one of the two joins is inner
    assert(p.contains("Inner"), s"no branch was converted to inner:\n$p")
  }

  test("LIMIT above UNION ALL plans a LocalLimit inside each branch") {
    val p = plan("sql_limit_union")
    assert("LocalLimit".r.findAllIn(p).size >= 2,
      s"expected a LocalLimit per union branch:\n$p")
  }

  test("per-domain cap is a bounded-heap aggregate, never a per-source window") {
    // a row_number window partitioned by source funnels each domain
    // through ONE task (a hot mega-domain = one straggler); the cap must
    // ride graft_topk's O(cap) partial/merge state instead
    val p = plan("pipe_domain_cap")
    assert(!p.contains("Window"), s"domain cap regressed to a window:\n$p")
    assert(p.contains("partial_graft_topk"), s"no partial topk state:\n$p")
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("training-shuffle rank is partitioned by shard, cluster-sample broadcasts its counts") {
    val shuffle = plan("pipe_shuffle_order")
    assert(!shuffle.contains("SinglePartition"),
      s"pipe_shuffle_order has a single-partition stage:\n$shuffle")
    assert(shuffle.matches("(?s).*hashpartitioning\\(shard#.*"),
      s"rank window not partitioned on shard:\n$shuffle")
    // cluster-sample: the K-row counts table broadcasts back onto the
    // assignment — a shuffle join here would re-shuffle the corpus
    val cs = plan("pipe_cluster_sample")
    assert(cs.contains("BroadcastExchange"), s"counts not broadcast:\n$cs")
    assert(!cs.contains("SortMergeJoin"), s"corpus re-shuffled for counts join:\n$cs")
  }

  test("salted skew join: shuffle join keyed on (key, salt), no broadcast dodge") {
    // the whole point of salting is spreading ONE hot reduce key over S
    // reducers — the plan must be a shuffle join whose keys include both
    // the natural key and the salt column on each side
    val p = plan("join_salted_skew")
    assert(p.contains("SortMergeJoin"), s"salted join is not a shuffle join:\n$p")
    assert(p.contains("f_salt") && p.contains("d_salt"),
      s"salt columns missing from the join:\n$p")
    assert("SortMergeJoin \\[k#\\d+L, f_salt#\\d+L\\]".r.findFirstIn(p).isDefined,
      s"join keys are not (k, salt):\n$p")
  }

  test("session + diagnostics additions keep their scale shape") {
    // pipe_sessionize: the session window must partition by user — a
    // global ORDER BY ts window would single-thread the corpus
    val sess = plan("pipe_sessionize")
    assert(sess.matches("(?s).*hashpartitioning\\(user_id#.*"),
      s"sessionize window not partitioned on user_id:\n$sess")
    // sim_mips_transform: corpus side must never shuffle — query set and
    // the 1-row M² both broadcast
    val mips = plan("sim_mips_transform")
    assert(!mips.contains("SortMergeJoin") && !mips.contains("CartesianProduct"),
      s"MIPS reduction shuffles or crosses the corpus:\n$mips")
    assert(mips.contains("partial_graft_topk"), s"no bounded top-k heap:\n$mips")
    // ml_target_encoding: prior joins back as a broadcast, not a shuffle
    val enc = plan("ml_target_encoding")
    assert(enc.contains("BroadcastNestedLoopJoin") || enc.contains("BroadcastExchange"),
      s"prior not broadcast:\n$enc")
  }

  test("k-core peeling rounds reuse cached edges (no exponential re-derivation)") {
    // each round references the previous round's edges three times
    // (degree agg + two anti joins); without the per-round persist the
    // physical plan re-derives the base scan 3^r times
    // NOTE: InMemoryRelation nodes PRINT their full cached child plan
    // (recursively), so counting FileScan occurrences in the string
    // over-counts wildly; the contract is that every round's three
    // consumers (degree agg + stats + next-round anti join) read
    // InMemoryTableScan, which appears once per cache consumer.
    val df = SparkEntry.queries("graph_k_core")(spark, TestSpark.Sf)
    val p = df.queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(p).size >= 8,
      s"k-core rounds do not read the cached previous round:\n$p")
  }

  test("nondeterministic UDF filters stay above the join; deterministic push below") {
    import org.apache.spark.sql.functions._
    val o = graft.Engine.table(spark, TestSpark.Sf, "orders")
    val c = graft.Engine.table(spark, TestSpark.Sf, "customer")
    val det = udf((k: Long) => k % 7 == 0)
    val nondet = udf((k: Long) => k % 7 == 0).asNondeterministic()
    val j = o.join(c, col("o_custkey") === col("c_custkey"))
    // deterministic: the UDF filter lands below the join, on the orders side
    val pd = j.filter(det(col("o_orderkey"))).queryExecution.optimizedPlan.toString
    val joinAt = pd.indexOf("Join")
    assert(joinAt >= 0 && pd.indexOf("Filter", joinAt) > joinAt,
      s"deterministic UDF filter was not pushed below the join:\n$pd")
    // nondeterministic: the filter must stay ABOVE the join
    val pn = j.filter(nondet(col("o_orderkey"))).queryExecution.optimizedPlan.toString
    val filterAt = pn.indexOf("Filter")
    assert(filterAt >= 0 && pn.indexOf("Join") > filterAt,
      s"nondeterministic UDF filter was pushed through the join:\n$pn")
  }

  test("mismatched bucket counts join with zero exchanges (bucket coalescing)") {
    // 8-bucket orders ⋈ 4-bucket customer: the join itself must read
    // both bucketed layouts directly — the only Exchange allowed in the
    // whole plan is the one ABOVE the join for the final aggregation
    val df = SparkEntry.queries("src_bucket_coalesce_join")(spark, TestSpark.Sf)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val joinAt = p.indexOf("SortMergeJoin")
    assert(joinAt >= 0, s"expected a sort-merge join:\n$p")
    assert(!p.substring(joinAt).contains("Exchange"),
      s"a join input shuffled despite bucket coalescing:\n$p")
  }

  test("REBALANCE hint plans a rebalance exchange") {
    val p = plan("sql_rebalance_hint")
    assert(p.contains("REBALANCE"), s"no rebalance exchange in plan:\n$p")
  }

  test("AQE coalesces the over-partitioned post-shuffle stage at runtime") {
    // 32 static shuffle partitions over a 25-row aggregate: the final
    // adaptive plan must read the shuffle coalesced instead of running
    // 32 near-empty reducers — the small-stage half of AQE's runtime
    // re-plan (the skew half is pinned by join_skew_aqe's own oracle)
    import org.apache.spark.sql.functions._
    val df = graft.Engine.table(spark, TestSpark.Sf, "nation")
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("AQEShuffleRead coalesced"),
      s"post-shuffle partitions not coalesced:\n$p")
  }

  test("nested unions flatten to one n-ary Union (union_remove family)") {
    // left-deep ((A ∪ B) ∪ C) ∪ D must collapse via CombineUnions —
    // counted on the optimized LOGICAL plan (whole-stage codegen fuses
    // the physical unions into one span anyway; the logical node count
    // is the contract)
    val df = SparkEntry.queries("sql_union_flatten")(spark, TestSpark.Sf)
    val unions = df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.size == 1, s"expected one flattened Union:\n${df.queryExecution.optimizedPlan}")
    assert(unions.head.children.size == 4,
      s"expected 4 union branches:\n${unions.head}")
  }

  test("silhouette distances ride a broadcast centroid join, never cartesian") {
    // the point×centroid fan-out must be a BroadcastHashJoin on the
    // dimension index (the 640-row centroid model broadcasts); a
    // cartesian/BNLJ here would be points×centroids×dims at 100 TB
    val p = plan("ml_silhouette")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast centroid join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in silhouette plan:\n$p")
  }

  test("geo radius join probes cells via equi-join, never cartesian") {
    // the 3×3 neighbourhood probe must reach the candidate side as a
    // hash-partitionable equi-join on (px,py)=(cx,cy); a cartesian or
    // BNLJ here is the all-pairs distance matrix the grid exists to
    // avoid
    val p = plan("geo_radius_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"geo_radius_join fell back to all-pairs:\n$p")
  }

  test("trajectory top-k blocks candidates on the length bucket") {
    // the pair join must carry the bucket equi-key (jb = bkt) so the
    // levenshtein verification only sees length-compatible candidates
    val p = plan("sim_trajectory_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"sim_trajectory_topk fell back to all-pairs:\n$p")
  }

  test("paragraph dedup ranks on the corpus-growing segment hash") {
    // same contract as dedup_exact_substr: the keep-first decision must
    // be hash-partitioned on the 64-bit segment hash, never a global
    // window — the paragraph-dedup 100 TB posture
    val p = plan("dedup_paragraph")
    assert(p.matches("(?s).*hashpartitioning\\([^)]*h#.*"),
      s"keep decision not partitioned on the segment hash:\n$p")
    assert(!p.contains("SinglePartition"),
      s"dedup_paragraph has a single-partition stage:\n$p")
  }

  test("paragraph boilerplate filter joins on the segment hash, no window") {
    // the common-segment rule is a partial agg + equi-join on h — it
    // must not plan a corpus-wide window or a broadcast of the
    // corpus-growing frequency table's build side being the SEGMENTS
    // (broadcast of the small aggregated side is fine at test SF)
    val p = plan("dedup_paragraph_common")
    assert(!p.contains("SinglePartition"),
      s"dedup_paragraph_common has a single-partition stage:\n$p")
    assert(!p.contains("Window"),
      s"dedup_paragraph_common should not use a window:\n$p")
  }

  test("quality-classifier scoring is a zero-exchange scan-stage projection") {
    // the learned filter's 100 TB contract: the weight vector is a
    // literal inside the expression, the token loop is a HOF over the
    // scan — no join, no aggregation, no exchange of any kind
    val p = plan("pipe_quality_classifier")
    assert(!p.contains("Exchange"), s"classifier scoring shuffles:\n$p")
    assert(!p.contains("Join"), s"classifier scoring joins:\n$p")
  }

  test("correlated aggregation branches re-join with no third exchange") {
    // correlationoptimizer family: cnts ⋈ sums on the shared group key
    // must ride the two aggregations' hash partitioning — exactly the
    // branch exchanges, never an extra repartition for the join (a
    // size-guarded broadcast of one aggregated branch is also fine)
    val df = SparkEntry.queries("sql_correlated_agg_join")(spark, TestSpark.Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 2, s"join added a third hash exchange:\n$p")
  }

  test("groupby-ppd pushes the HAVING key predicate below the union into both scans") {
    // golden groupby_ppd (HIVE-2382): HAVING bar='1-URGENT' over a
    // UNION ALL subquery must reach the parquet scans of BOTH branches —
    // at 100 TB the difference between two full scans and two pruned ones
    val p = plan("sql_groupby_ppd_union")
    val pushed = "EqualTo\\(o_orderpriority,1-URGENT\\)".r.findAllIn(p).size
    assert(pushed >= 2, s"HAVING predicate not pushed into both union branches:\n$p")
  }

  test("join-then-groupby on the join key adds no third hash exchange") {
    // correlationoptimizer4 shape: the aggregation must ride the join's
    // hash partitioning (or, post-AQE broadcast, cost exactly one)
    val df = SparkEntry.queries("sql_groupby_join_reuse")(spark, TestSpark.Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 2, s"groupby after join re-shuffled:\n$p")
  }

  test("aggregation on a bucketed table shuffles nothing") {
    // golden groupby_sort_* family: the bucket partitioning satisfies the
    // aggregation's required distribution — zero hash exchanges
    val df = SparkEntry.queries("sql_agg_bucketed_zero_shuffle")(spark, TestSpark.Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 0, s"bucketed aggregation still shuffled:\n$p")
  }

  test("curation funnel: decontamination join broadcasts the held-out gram side") {
    // the funnel's one corpus×corpus-risk join is train-grams ⋈
    // test-grams; the held-out side must be the broadcast build (the
    // pipe_decontaminate posture), never a shuffle of all train grams
    // against all test grams
    val p = plan("pipe_curation_funnel")
    assert(p.contains("BroadcastHashJoin"), s"gram join does not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"funnel plans a cartesian:\n$p")
  }

  test("spearman's rank tables broadcast-join back to the events") {
    // the rank tests' 100 TB posture: both tie-averaged rank tables are
    // DOMAIN-bounded (cents values / props.k), so the corpus-sized events
    // side must never shuffle for the rank join
    val p = plan("ml_spearman")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2, s"rank tables did not broadcast:\n$p")
  }

  test("tfidf never statically broadcasts the vocabulary-sized df aggregate") {
    // the r10 plan defect: broadcast(df) collected the ENTIRE vocabulary
    // to the driver. The static plan (pre-AQE, which is what survives a
    // 100× scale-up) must not broadcast AT ALL on the trial path (r21:
    // the corpus count arrives as an index-cache column, so even the
    // old 1-row n_docs broadcast is gone); the df join must be a
    // shuffle join on token. Counted by walking the plan's NODES —
    // cached-relation BUILD subtrees (which legitimately contain the
    // once-per-session 1-row stats broadcast) print inside
    // InMemoryRelation's innerChildren and must not trip the fence.
    val df = SparkEntry.queries("text_tfidf")(spark, TestSpark.Sf)
    val p = df.queryExecution.sparkPlan // static plan, pre-AQE
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val broadcasts = graft.plans.PlanWalk.nodes(p)
      .count(_.isInstanceOf[BroadcastExchangeLike])
    assert(broadcasts === 0,
      s"static trial path broadcasts a build side:\n$p")
    val s = p.toString
    assert(s.contains("ShuffledHashJoin") || s.contains("SortMergeJoin"),
      s"df join is not a shuffle join:\n$s")
  }

  test("union-shared-key agg shuffles once on the key and broadcasts the dim") {
    // correlationoptimizer4 contract: UNION ALL branches flow into ONE
    // custkey shuffle for the agg; the customer dim joins broadcast; the
    // only other exchange is the final segment re-aggregation's.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val df = SparkEntry.queries("sql_union_shared_key_agg")(spark, TestSpark.Sf)
    df.collect()
    val ns = nodes(df.queryExecution.executedPlan)
    val ex = ns.count(_.isInstanceOf[ShuffleExchangeLike])
    val bhj = ns.count(_.isInstanceOf[BroadcastHashJoinExec])
    val shuffled = ns.count(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec])
    assert(bhj == 1 && shuffled == 0,
      s"customer dim must broadcast (got bhj=$bhj shuffled=$shuffled):\n" +
        df.queryExecution.executedPlan)
    assert(ex == 2, s"expected 2 exchanges (custkey agg + segment agg), got $ex:\n" +
      df.queryExecution.executedPlan)
  }

  test("broadcast joins preserve partitioning: agg → BHJ → agg costs one shuffle") {
    // correlationoptimizer7/8 contract (sql_bhj_partitioning_chain): the
    // custkey agg's hash partitioning survives the broadcast join, and
    // the (k, seg) re-agg rides it because k ⊆ {k, seg} — at 100 TB the
    // whole chain shuffles the fact side exactly once. Also
    // mapjoin_distinct: DISTINCT over a BHJ = the dedup's exchange only.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def shape(name: String): (Int, Int, Int) = {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      df.collect()
      val ns = nodes(df.queryExecution.executedPlan)
      (ns.count(_.isInstanceOf[ShuffleExchangeLike]),
        ns.count(_.isInstanceOf[BroadcastHashJoinExec]),
        ns.count(n => n.isInstanceOf[SortMergeJoinExec] ||
          n.isInstanceOf[ShuffledHashJoinExec]))
    }
    val (exCh, bhjCh, shCh) = shape("sql_bhj_partitioning_chain")
    assert(bhjCh == 1 && shCh == 0,
      s"dim must broadcast: bhj=$bhjCh shuffled=$shCh")
    assert(exCh == 1, s"agg → BHJ → agg must cost exactly 1 exchange " +
      s"(the custkey agg's; the re-agg rides it), got $exCh")
    val (exMd, bhjMd, shMd) = shape("sql_mapjoin_distinct")
    assert(bhjMd == 1 && shMd == 0,
      s"mapjoin_distinct: dim must broadcast: bhj=$bhjMd shuffled=$shMd")
    assert(exMd == 1,
      s"mapjoin_distinct: only the DISTINCT may exchange, got $exMd")
  }

  test("DISTRIBUTE BY k then GROUP BY k costs one exchange (RS-dedup)") {
    // reduce_deduplicate_extended contract (sql_rs_dedup_chain's first
    // branch): Hive collapses a reduce-sink followed by a compatible
    // reduce-sink; Spark's EnsureRequirements reuses the child's
    // hashpartitioning(k) for ClusteredDistribution(k) — the aggregation
    // adds NO second shuffle. At 100 TB a pre-partitioned pipeline stage
    // feeds its aggregation for free.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    graft.Engine.table(spark, TestSpark.Sf, "customer")
      .createOrReplaceTempView("graft_rsd_fence")
    val df = spark.sql(
      """SELECT c_nationkey, CAST(sum(c_custkey) AS BIGINT) AS sk
        |FROM (SELECT c_custkey, c_nationkey FROM graft_rsd_fence
        |      DISTRIBUTE BY c_nationkey SORT BY c_nationkey, c_custkey)
        |GROUP BY c_nationkey""".stripMargin)
    df.collect()
    val ex = nodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    assert(ex == 1, s"GROUP BY must ride the DISTRIBUTE BY partitioning " +
      s"(expected 1 exchange, got $ex):\n" + df.queryExecution.executedPlan)
    // correlationoptimizer14 contract (sql_rs_dedup_join): two subqueries
    // DISTRIBUTE BY the join key, joined on it, re-aggregated on it —
    // the join AND the agg reuse the two repartitions (2 exchanges
    // total). NOTE the key must be distributed by its post-projection
    // ALIAS: distributing by the pre-alias column loses the partitioning
    // when the projection drops it, costing a third shuffle.
    val dj = SparkEntry.queries("sql_rs_dedup_join")(spark, TestSpark.Sf)
    dj.collect()
    val exJ = nodes(dj.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    assert(exJ == 2, s"join + agg must ride the two DISTRIBUTE BYs " +
      s"(expected 2 exchanges, got $exJ):\n" + dj.queryExecution.executedPlan)
  }

  test("ppd grid: generator pushdown, OR pushdown, rand stays above the scan") {
    // lateral_view_ppd / push_or / ppd_random contracts (sql_ppd_grid).
    graft.Engine.table(spark, TestSpark.Sf, "supplier")
      .createOrReplaceTempView("graft_ppdf_s")
    graft.Engine.table(spark, TestSpark.Sf, "part")
      .createOrReplaceTempView("graft_ppdf_p")
    // parent-column predicate pushes BELOW the LATERAL VIEW generator
    val lv = spark.sql(
      """SELECT s_suppkey, w FROM graft_ppdf_s
        |LATERAL VIEW explode(split(s_name, ' ')) t AS w
        |WHERE s_suppkey <= 50 AND w <> ''""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(lv.contains("PushedFilters: [IsNotNull(s_suppkey), LessThanOrEqual(s_suppkey,50)"),
      "parent predicate must push below Generate into the scan:\n" + lv)
    // OR-of-key predicates push to the scan
    val or = spark.sql(
      "SELECT count(*) FROM graft_ppdf_p WHERE p_size = 5 OR p_size = 10")
      .queryExecution.executedPlan.toString
    assert(or.contains("Or(EqualTo(p_size,5),EqualTo(p_size,10))") ||
      or.contains("In(p_size, [5,10])"),
      "OR predicate must reach PushedFilters:\n" + or)
    // a nondeterministic predicate must NOT push — re-evaluating rand at
    // the scan would re-draw per row; the deterministic conjunct still does
    val rnd = spark.sql(
      "SELECT count(*) FROM graft_ppdf_p WHERE rand(7) < CAST(p_size AS DOUBLE) + 2.0 AND p_size > 10")
      .queryExecution.executedPlan.toString
    assert(rnd.contains("GreaterThan(p_size,10)"),
      "deterministic conjunct must still push:\n" + rnd)
    assert(!rnd.contains("PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,10), rand"),
      "rand must never appear in PushedFilters:\n" + rnd)
    assert(rnd.contains("Filter") && rnd.contains("rand("),
      "the rand predicate must survive as a post-scan Filter:\n" + rnd)
  }

  test("exec-config variants actually bind: the reducer count reaches the exchange") {
    // the adversarial reading of sql_agg_config_grid's eager-collect
    // pattern is "did the conf apply, or did laziness escape the conf
    // scope?" — this fence executes the same agg under two variant
    // reducer counts and reads the EXCHANGE partition counts from the
    // executed plans: 1 under reducers_1, 109 under reducers_109. A
    // conf that failed to bind would leave both at the session default.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def aggExchangeParts(parts: String): Seq[Int] = {
      val saved = (spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"))
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = graft.Engine.table(spark, TestSpark.Sf, "lineitem")
          .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
        df.collect()
        nodes(df.queryExecution.executedPlan)
          .collect { case e: ShuffleExchangeExec =>
            e.outputPartitioning.numPartitions }
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", saved._1)
        spark.conf.set("spark.sql.adaptive.enabled", saved._2)
      }
    }
    assert(aggExchangeParts("1") === Seq(1),
      "reducers_1 variant must execute with a 1-partition exchange")
    assert(aggExchangeParts("109") === Seq(109),
      "reducers_109 variant must execute with a 109-partition exchange")
  }

  test("AQE skew-join split FIRES on the salted-hot join (sql_join_skew_aqe_split)") {
    // the r14 adversarial-whiteList row proves answers match under the
    // skew-split confs; THIS fence proves the split machinery actually
    // engaged (SortMergeJoin(isSkewJoin=true) in the final plan) so the
    // row can never silently degrade into re-testing the normal SMJ
    // path. sf0.01: the hot partition (~50% of lineitem on one key)
    // must exceed the shrunken 128 KB threshold — sf0.001 is too small
    // to trip it.
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val confs = graft.queries.Sql28Queries.SkewSplitConfs
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = graft.queries.Sql28Queries.skewedJoin(spark, "/root/testdata/sf0.01")
      df.collect()
      val smj = nodes(df.queryExecution.executedPlan)
        .collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, "expected a SortMergeJoin under broadcast=-1:\n" +
        df.queryExecution.executedPlan)
      assert(smj.exists(_.isSkewJoin),
        "AQE skew split did not fire (no SortMergeJoin(isSkewJoin=true)):\n" +
          df.queryExecution.executedPlan)
    } finally saved.foreach { case (k, prev) =>
      prev.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
  }

  test("LinearizeNullSafeCountAgg fires on jn_nullsafe_engine and holds its guard on jn_nullsafe_pairs_verbatim") {
    // r14 verdict #7: the null-safe linear rewrite promoted from query
    // to engine. Three pins, each load-bearing:
    //  1. FIRED — jn_nullsafe_engine's verbatim `<=>` count aggregate
    //     optimizes to the Union shape with NO EqualNullSafe left
    //     anywhere (the quadratic NULL bucket is never planned);
    //  2. SEMANTICS — covered by the row's own DuckDB oracle (the
    //     oracle runs the verbatim join; the driver hash-compare is
    //     the equivalence proof at every SF it runs);
    //  3. GUARD — jn_nullsafe_pairs_verbatim (an expression-argument
    //     count(DISTINCT id·10000 + oid), outside every analytic
    //     scope) must KEEP the verbatim EqualNullSafe execution, or
    //     the "verbatim engine execution" crossing silently
    //     evaporates. (jn_nullsafe_verbatim ALSO stays verbatim — its
    //     two distinct groups sit outside the r18 widening's
    //     single-group scope; the distinct-widening test pins that
    //     boundary.)
    import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
    import org.apache.spark.sql.catalyst.plans.logical.Union
    for (name <- Seq("jn_nullsafe_engine", "jn_nullsafe_full_engine",
        "jn_nullsafe_left_engine",
        // r16 widening: count(<provably non-null side attribute>) rows —
        // the rule must fire on all four (inner, left × {live, empty
        // right stripe}, full-both-sides)
        "jn_nullsafe_cnt_engine", "jn_nullsafe_left_cnt_engine",
        "jn_nullsafe_left_cnt0_engine", "jn_nullsafe_full_cnt_engine")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case u: Union => u }.nonEmpty,
        s"$name: rule did not fire (no Union in the optimized plan):\n$opt")
      val leftoverNs = opt.flatMap(n => n.expressions.flatMap(_.collect {
        case e: EqualNullSafe => e
      }))
      assert(leftoverNs.isEmpty,
        s"$name: null-safe condition survived optimization (quadratic bucket still planned):\n$opt")
    }
    // the rewritten plans must also EXECUTE correctly right here (the
    // oracle runs driver-side; keep an in-suite execution witness):
    // non-null groups 0-9 plus the analytic NULL-bucket row
    val fired = SparkEntry.queries("jn_nullsafe_engine")(spark, TestSpark.Sf)
    assert(fired.count() === 11)
    assert(SparkEntry.queries("jn_nullsafe_left_engine")(spark, TestSpark.Sf).count() === 11)

    val guard = SparkEntry.queries("jn_nullsafe_pairs_verbatim")(spark, TestSpark.Sf)
    val guardNs = guard.queryExecution.optimizedPlan.flatMap(n =>
      n.expressions.flatMap(_.collect { case e: EqualNullSafe => e }))
    assert(guardNs.nonEmpty,
      "guard failed: jn_nullsafe_pairs_verbatim no longer executes a verbatim " +
        "null-safe join — expression-argument count(DISTINCT) must block the " +
        "rewrite:\n" + guard.queryExecution.optimizedPlan)
    // structure witness: on the NULL-bucket group every cross-matched
    // (id, oid) pair is distinct, so n_pairs == n there — a value no
    // stripe-local aggregate can produce
    val pairRows = guard.collect()
    val pairBucket = pairRows.find(_.isNullAt(0))
      .getOrElse(fail("no NULL-group row in jn_nullsafe_pairs_verbatim"))
    assert(pairBucket.getLong(1) === pairBucket.getLong(2),
      s"NULL bucket must be a full cross-match of distinct pairs: $pairBucket")
    assert(pairBucket.getLong(1) > 1L,
      s"NULL bucket should hold multiple cross-matched pairs: $pairBucket")

    // r16 widening guard: count of a NULLABLE attribute is data-
    // dependent (nulls may sit inside the stripe rows), never analytic —
    // the rewrite must keep the verbatim join
    val guardN = SparkEntry.queries("jn_nullsafe_cntn_verbatim")(spark, TestSpark.Sf)
    val guardNNs = guardN.queryExecution.optimizedPlan.flatMap(n =>
      n.expressions.flatMap(_.collect { case e: EqualNullSafe => e }))
    assert(guardNNs.nonEmpty,
      "guard failed: jn_nullsafe_cntn_verbatim no longer executes a " +
        "verbatim null-safe join — count(<nullable attr>) must block the " +
        "rewrite:\n" + guardN.queryExecution.optimizedPlan)

    // r16 zero-branch witness: with the right stripe EMPTY, the bucket
    // row's count(*) is the LEFT stripe count while count(right attr)
    // is exactly 0 — read the NULL-group row and pin both
    val cnt0 = SparkEntry.queries("jn_nullsafe_left_cnt0_engine")(spark, TestSpark.Sf)
    assert(cnt0.queryExecution.optimizedPlan.collect { case u: Union => u }.nonEmpty)
    val bucketRow = cnt0.collect().find(_.isNullAt(0))
      .getOrElse(fail("no NULL-group bucket row emitted"))
    assert(bucketRow.getLong(2) === 0L,
      s"zero branch: count(right attr) over null-extended rows must be 0, got $bucketRow")
    assert(bucketRow.getLong(1) > 0L,
      s"zero branch: count(*) over the null-extended left stripe must be positive, got $bucketRow")

    // empty-grouping guard: a GLOBAL count over <=> must stay verbatim —
    // the two-branch Union would emit two rows (or a missing 0-row)
    // where a global aggregate emits exactly one. Cross-checked
    // semantically: the verbatim global count must equal the sum of
    // the rewritten grouped counts over identical inputs.
    Engine.table(spark, TestSpark.Sf, "customer").createOrReplaceTempView("graft_nsc_c")
    Engine.table(spark, TestSpark.Sf, "orders").createOrReplaceTempView("graft_nsc_o")
    val global = spark.sql("""
      SELECT count(*) AS n FROM
        (SELECT CASE WHEN c_custkey % 50 = 7 THEN NULL ELSE c_custkey END AS k
         FROM graft_nsc_c) l
        JOIN
        (SELECT CASE WHEN o_custkey % 50 = 13 THEN NULL ELSE o_custkey END AS k2
         FROM graft_nsc_o) r
        ON l.k <=> r.k2""")
    assert(global.queryExecution.optimizedPlan.collect { case u: Union => u }.isEmpty,
      "empty-grouping guard failed: the global <=> count was rewritten:\n" +
        global.queryExecution.optimizedPlan)
    val globalRows = global.collect()
    assert(globalRows.length === 1)
    val groupedTotal = fired
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    assert(globalRows(0).getLong(0) === groupedTotal,
      s"verbatim global count ${globalRows(0).getLong(0)} != sum of rewritten " +
        s"grouped counts $groupedTotal")
  }

  test("LinearizeNullSafeCountAgg sum widening fires on the jn_nullsafe_*sum*_engine rows and its type/nullability guards hold (r16 verdict #2)") {
    import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
    import org.apache.spark.sql.catalyst.plans.logical.Union
    def nullSafeLeft(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.flatMap(n =>
        n.expressions.flatMap(_.collect { case e: EqualNullSafe => e }))
    // FIRED on all four sum rows (inner, left × {live, empty right
    // stripe}, full-both-sides); semantics are each row's own DuckDB
    // oracle (verbatim null-safe join, driver hash-compare at both SFs)
    for (name <- Seq("jn_nullsafe_sum_engine", "jn_nullsafe_left_sum_engine",
        "jn_nullsafe_left_sum0_engine", "jn_nullsafe_full_sum_engine")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case u: Union => u }.nonEmpty,
        s"$name: sum widening did not fire (no Union in the optimized plan):\n$opt")
      assert(nullSafeLeft(df).isEmpty,
        s"$name: null-safe condition survived optimization (quadratic bucket still planned):\n$opt")
    }
    // NULL-branch witness: with the right stripe EMPTY the bucket row
    // carries sum(left attr) = the left stripe's own sum (positive —
    // custkeys) while sum(right attr) is NULL (sum over all-NULL; the
    // analog of count's 0 branch, which no other row exercises)
    val sum0 = SparkEntry.queries("jn_nullsafe_left_sum0_engine")(spark, TestSpark.Sf)
    val bucket = sum0.collect().find(_.isNullAt(0))
      .getOrElse(fail("no NULL-group bucket row emitted"))
    assert(bucket.getLong(2) > 0L,
      s"sum(left attr) over the null-extended left stripe must be positive: $bucket")
    assert(bucket.isNullAt(3),
      s"sum(right attr) over null-extended rows must be NULL (not 0): $bucket")
    // cross-branch value witness: the live-stripe LEFT row's bucket sums
    // must equal stripe_sum × opposite stripe count computed first-hand
    val live = SparkEntry.queries("jn_nullsafe_left_sum_engine")(spark, TestSpark.Sf)
      .collect().find(_.isNullAt(0)).getOrElse(fail("no bucket row"))
    val c = Engine.table(spark, TestSpark.Sf, "customer")
    val o = Engine.table(spark, TestSpark.Sf, "orders")
    import org.apache.spark.sql.functions._
    val nl = c.filter(col("c_custkey") % 50 === 7).count()
    val nr = o.filter(col("o_custkey") % 50 === 13).count()
    val sumL = c.filter(col("c_custkey") % 50 === 7)
      .agg(sum(coalesce(col("c_custkey"), lit(0L)))).collect()(0).getLong(0)
    val sumR = o.filter(col("o_custkey") % 50 === 13)
      .agg(sum(coalesce(col("o_orderkey"), lit(0L)))).collect()(0).getLong(0)
    assert(live.getLong(1) === nl * nr, s"bucket count(*): $live vs ${nl * nr}")
    assert(live.getLong(2) === sumL * nr, s"bucket sum(id0): $live vs ${sumL * nr}")
    assert(live.getLong(3) === sumR * nl, s"bucket sum(oid0): $live vs ${sumR * nl}")
    // GUARDS: a NULLABLE integral attribute (no non-null proof) and the
    // round-wrapped double sum (no bare-AggregateExpression alias) must
    // both keep the verbatim null-safe join
    for (name <- Seq("jn_nullsafe_sumn_verbatim", "jn_nullsafe_sumdbl_verbatim")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      assert(nullSafeLeft(df).nonEmpty,
        s"guard failed: $name no longer executes a verbatim null-safe join:\n" +
          df.queryExecution.optimizedPlan)
      assert(df.collect().nonEmpty)
    }
    // DOUBLE-exclusion witness (r18): the registry row now rounds its
    // exposed sum (the r17 driver red was the RAW double sum's
    // accumulation-order ULPs reaching an exact comparator), so the
    // bare `sum(<non-null DOUBLE>)` plan shape — the thing the rule's
    // type guard actually rejects — is pinned here PLAN-ONLY, where the
    // guard's proof always lived. No execution: the probe's only job is
    // the surviving EqualNullSafe.
    val dblProbe = spark.sql(
      """WITH l AS (SELECT CASE WHEN c_custkey % 50 = 7 THEN NULL
        |                       ELSE c_custkey END AS k
        |           FROM graft_jn_c),
        |     r AS (SELECT coalesce(o_totalprice, 0.0) AS price0,
        |                  CASE WHEN o_custkey % 50 = 13 THEN NULL
        |                       ELSE o_custkey END AS k2
        |           FROM graft_jn_o)
        |SELECT k % 10 AS kg, sum(price0) AS s_price
        |FROM l JOIN r ON l.k <=> r.k2 GROUP BY k % 10""".stripMargin)
    assert(nullSafeLeft(dblProbe).nonEmpty,
      "guard failed: a bare sum(<non-null DOUBLE>) must keep the verbatim " +
        "null-safe join (FP addition is non-associative):\n" +
        dblProbe.queryExecution.optimizedPlan)
  }

  test("LinearizeNullSafeCountAgg min/max widening fires (nullable doubles accepted) and the FILTER guard holds (r17)") {
    import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
    import org.apache.spark.sql.catalyst.plans.logical.Union
    def nullSafeLeft(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.flatMap(n =>
        n.expressions.flatMap(_.collect { case e: EqualNullSafe => e }))
    for (name <- Seq("jn_nullsafe_minmax_engine",
        "jn_nullsafe_left_minmax0_engine", "jn_nullsafe_full_minmax_engine")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case u: Union => u }.nonEmpty,
        s"$name: min/max widening did not fire (no Union):\n$opt")
      assert(nullSafeLeft(df).isEmpty,
        s"$name: null-safe condition survived optimization:\n$opt")
    }
    // value witness: the INNER bucket row's extrema equal the stripe
    // min/max computed first-hand (nullable doubles — Min/Max ignore
    // NULLs identically in both derivations)
    import org.apache.spark.sql.functions._
    val bucket = SparkEntry.queries("jn_nullsafe_minmax_engine")(spark, TestSpark.Sf)
      .collect().find(_.isNullAt(0)).getOrElse(fail("no bucket row"))
    val c = Engine.table(spark, TestSpark.Sf, "customer")
    val o = Engine.table(spark, TestSpark.Sf, "orders")
    val minBal = c.filter(col("c_custkey") % 50 === 7)
      .agg(min(col("c_acctbal"))).collect()(0).getDouble(0)
    val maxPrice = o.filter(col("o_custkey") % 50 === 13)
      .agg(max(col("o_totalprice"))).collect()(0).getDouble(0)
    assert(bucket.getDouble(2) === minBal, s"bucket min(bal): $bucket vs $minBal")
    assert(bucket.getDouble(3) === maxPrice, s"bucket max(price): $bucket vs $maxPrice")
    // NULL witness: with the right stripe EMPTY, max(right attr) in the
    // bucket row is NULL (= the empty stripe's max — the coincidence the
    // no-case-split argument rests on)
    val b0 = SparkEntry.queries("jn_nullsafe_left_minmax0_engine")(spark, TestSpark.Sf)
      .collect().find(_.isNullAt(0)).getOrElse(fail("no bucket row"))
    assert(b0.isNullAt(3), s"empty-stripe max(right attr) must be NULL: $b0")
    assert(!b0.isNullAt(2), s"left stripe min(bal) must be present: $b0")
    // GUARD: a FILTER-clause min keeps the verbatim join
    val guard = SparkEntry.queries("jn_nullsafe_minmaxf_verbatim")(spark, TestSpark.Sf)
    assert(nullSafeLeft(guard).nonEmpty,
      "guard failed: FILTER-clause min must block the rewrite:\n" +
        guard.queryExecution.optimizedPlan)
    assert(guard.collect().nonEmpty)
  }

  test("LinearizeNullSafeCountAgg count(DISTINCT) widening fires on the cntd rows; multi-distinct-group shapes keep verbatim (r18)") {
    import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
    import org.apache.spark.sql.catalyst.plans.logical.Union
    def nullSafeLeft(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.flatMap(n =>
        n.expressions.flatMap(_.collect { case e: EqualNullSafe => e }))
    // FIRED on the three fractional-stripe single-distinct-group rows
    // (inner, left with an empty right stripe, full-both-sides); each
    // row's DuckDB oracle runs the verbatim null-safe join, so the
    // driver hash-compare is the widening's equivalence proof.
    for (name <- Seq("jn_nullsafe_cntd_engine", "jn_nullsafe_left_cntd0_engine",
        "jn_nullsafe_full_cntd_engine")) {
      val d = SparkEntry.queries(name)(spark, TestSpark.Sf)
      val o2 = d.queryExecution.optimizedPlan
      assert(o2.collect { case u: Union => u }.nonEmpty,
        s"$name: count(DISTINCT) widening did not fire (no Union):\n$o2")
      assert(nullSafeLeft(d).isEmpty,
        s"$name: null-safe condition survived optimization:\n$o2")
    }
    // zero-branch witness: with the right stripe EMPTY the bucket row's
    // count(DISTINCT right attr) is 0 — the empty stripe's distinct
    // count, the coincidence the no-case-split argument rests on
    val cd0 = SparkEntry.queries("jn_nullsafe_left_cntd0_engine")(spark, TestSpark.Sf)
      .collect().find(_.isNullAt(0))
      .getOrElse(fail("no NULL-group bucket row emitted"))
    assert(cd0.getLong(2) === 0L,
      s"zero branch: count(DISTINCT right attr) over null-extended rows must be 0: $cd0")
    assert(cd0.getLong(1) > 0L,
      s"zero branch: bucket count(*) must be the null-extended left stripe: $cd0")
    // value witness: the INNER row's bucket distinct count equals the
    // left stripe's own distinct count computed first-hand, and
    // count(*) is the cross product
    import org.apache.spark.sql.functions._
    val c = Engine.table(spark, TestSpark.Sf, "customer")
    val o = Engine.table(spark, TestSpark.Sf, "orders")
    val lIds = c.filter(col("c_custkey") % 50 === 7)
      .select(col("c_custkey")).distinct().count()
    val nl = c.filter(col("c_custkey") % 50 === 7).count()
    val nr = o.filter(col("o_custkey") % 50 === 13).count()
    val cdDf = SparkEntry.queries("jn_nullsafe_cntd_engine")(spark, TestSpark.Sf)
    val bucket = cdDf.collect().find(_.isNullAt(0))
      .getOrElse(fail("no NULL-group bucket row emitted"))
    assert(bucket.getLong(1) === nl * nr,
      s"bucket count(*) must be the cross product: $bucket vs ${nl * nr}")
    assert(bucket.getLong(2) === lIds,
      s"bucket count(DISTINCT id) must be the left stripe's distinct count: $bucket vs $lIds")
    // rewritten-vs-verbatim in-suite cross-check: rules OFF must produce
    // the same row multiset (the machine-generated FuzzSpec leg covers
    // this class too — a6 = count(DISTINCT lv) over every join type)
    val rows = cdDf.collect().map(_.toString).sorted.toSeq
    val verbatim = TestSpark.withoutGraftRules(SparkEntry.queries("jn_nullsafe_cntd_engine")(spark, TestSpark.Sf)
      .collect().map(_.toString).sorted.toSeq)
    assert(rows === verbatim, "rewritten result diverged from verbatim execution")
    // SCOPE BOUNDARY (the r18 discovery, pinned): an Aggregate with TWO
    // distinct-argument groups is claimed by Spark's own
    // RewriteDistinctAggregates (Expand + double aggregate) before the
    // terminal batch where the graft rule runs — jn_nullsafe_verbatim
    // (distinct id AND oid) must therefore KEEP its verbatim `<=>`
    // execution, staying a genuine verbatim-execution witness next to
    // jn_nullsafe_pairs_verbatim.
    val multi = SparkEntry.queries("jn_nullsafe_verbatim")(spark, TestSpark.Sf)
    assert(nullSafeLeft(multi).nonEmpty,
      "multi-distinct-group shape no longer executes a verbatim null-safe " +
        "join — the single-group scope boundary moved:\n" +
        multi.queryExecution.optimizedPlan)
  }

  test("LinearizeNullSafeCountAgg sum(DISTINCT) widening fires on the sumd rows; the expression-argument witness keeps verbatim (r19)") {
    import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
    import org.apache.spark.sql.catalyst.plans.logical.Union
    def nullSafeLeft(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.flatMap(n =>
        n.expressions.flatMap(_.collect { case e: EqualNullSafe => e }))
    // FIRED on the three fractional-stripe rows (inner, left with an
    // empty right stripe, full-both-sides); each row's DuckDB oracle
    // runs the verbatim null-safe join — the driver hash-compare is the
    // widening's equivalence proof.
    for (name <- Seq("jn_nullsafe_sumd_engine", "jn_nullsafe_left_sumd0_engine",
        "jn_nullsafe_full_sumd_engine")) {
      val d = SparkEntry.queries(name)(spark, TestSpark.Sf)
      val o2 = d.queryExecution.optimizedPlan
      assert(o2.collect { case u: Union => u }.nonEmpty,
        s"$name: sum(DISTINCT) widening did not fire (no Union):\n$o2")
      assert(nullSafeLeft(d).isEmpty,
        s"$name: null-safe condition survived optimization:\n$o2")
    }
    // NULL-branch witness (the contrast with count's zero branch): with
    // the right stripe EMPTY the bucket row's sum(DISTINCT right attr)
    // is NULL — sum over no rows — not 0
    val sd0 = SparkEntry.queries("jn_nullsafe_left_sumd0_engine")(spark, TestSpark.Sf)
      .collect().find(_.isNullAt(0))
      .getOrElse(fail("no NULL-group bucket row emitted"))
    assert(sd0.isNullAt(2),
      s"NULL branch: sum(DISTINCT right attr) over null-extended rows must be NULL: $sd0")
    assert(sd0.getLong(1) > 0L,
      s"NULL branch: bucket count(*) must be the null-extended left stripe: $sd0")
    // value witness: the INNER row's bucket distinct sum equals the left
    // stripe's own distinct sum computed first-hand, and count(*) is the
    // cross product
    import org.apache.spark.sql.functions._
    val c = Engine.table(spark, TestSpark.Sf, "customer")
    val o = Engine.table(spark, TestSpark.Sf, "orders")
    val lDistinctSum = c.filter(col("c_custkey") % 50 === 7)
      .select(col("c_custkey")).distinct()
      .agg(sum("c_custkey")).collect()(0).getLong(0)
    val nl = c.filter(col("c_custkey") % 50 === 7).count()
    val nr = o.filter(col("o_custkey") % 50 === 13).count()
    val sdDf = SparkEntry.queries("jn_nullsafe_sumd_engine")(spark, TestSpark.Sf)
    val bucket = sdDf.collect().find(_.isNullAt(0))
      .getOrElse(fail("no NULL-group bucket row emitted"))
    assert(bucket.getLong(1) === nl * nr,
      s"bucket count(*) must be the cross product: $bucket vs ${nl * nr}")
    assert(bucket.getLong(2) === lDistinctSum,
      s"bucket sum(DISTINCT id) must be the left stripe's distinct sum: " +
        s"$bucket vs $lDistinctSum")
    // rewritten-vs-verbatim in-suite cross-check: rules OFF must produce
    // the same row multiset
    val rows = sdDf.collect().map(_.toString).sorted.toSeq
    val verbatim = TestSpark.withoutGraftRules(SparkEntry.queries("jn_nullsafe_sumd_engine")(spark, TestSpark.Sf)
      .collect().map(_.toString).sorted.toSeq)
    assert(rows === verbatim, "rewritten result diverged from verbatim execution")
    // GUARD (the successor witness, landed first): sum(DISTINCT
    // <expression>) is outside the bare-attribute scope — the row must
    // KEEP its verbatim `<=>` execution
    val guard = SparkEntry.queries("jn_nullsafe_sumd_verbatim")(spark, TestSpark.Sf)
    assert(nullSafeLeft(guard).nonEmpty,
      "guard failed: jn_nullsafe_sumd_verbatim no longer executes a verbatim " +
        "null-safe join — expression-argument sum(DISTINCT) must block the " +
        "rewrite:\n" + guard.queryExecution.optimizedPlan)
    // structure witness on the guard: the NULL bucket's distinct
    // expression sum is over residues oid % 97 + 3 — bounded by
    // 97 * (3 + 99) even if every residue appears, and positive
    val gBucket = guard.collect().find(_.isNullAt(0))
      .getOrElse(fail("no NULL-group row in jn_nullsafe_sumd_verbatim"))
    assert(!gBucket.isNullAt(2) && gBucket.getLong(2) > 0L &&
      gBucket.getLong(2) <= 97L * 102L,
      s"NULL bucket distinct-expression sum out of its residue-class bound: $gBucket")
  }

  test("cache_columnar plans an InMemoryTableScan and materializes the columnar cache at its own first action (r16 verdict #4)") {
    // the row's declaration-time count() moved here: declaration is now a
    // pure plan build (census-enforced), and THIS is the state proof —
    // the plan reads through the in-memory columnar relation, and one
    // execution leaves the cache materialized in the block manager
    val df = SparkEntry.queries("cache_columnar")(spark, TestSpark.Sf)
    val planStr = df.queryExecution.executedPlan.toString
    assert("InMemoryTableScan|TableCacheQueryStage".r.findFirstIn(planStr).isDefined,
      s"cache_columnar no longer scans an in-memory columnar cache:\n$planStr")
    df.collect()
    // materialization proof: SOME cached relation from this row now holds
    // partitions in the block manager (the aggregate itself is not the
    // cached subtree, so check storage, not the cache-manager lookup)
    val mem = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0)
    assert(mem.nonEmpty,
      "executing cache_columnar left no materialized cache behind")
  }

  test("misc_observe: executing the lazy row fills the Observation with the same values it returns (r16 verdict #4)") {
    val df = SparkEntry.queries("misc_observe")(spark, TestSpark.Sf)
    val obs = graft.queries.MiscQueries.lastObservation.get()
    assert(obs != null, "misc_observe declaration did not publish its Observation")
    val rows = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val m = obs.get // available because the collect() above ran the observed frame
    assert(m.keySet === Set("n", "total", "max_key"))
    assert(rows("n") === m("n").asInstanceOf[Long].toDouble)
    assert(rows("total") === m("total").asInstanceOf[Double])
    assert(rows("max_key") === m("max_key").asInstanceOf[Long].toDouble)
  }

  test("sort_global's lazy rank equals the single-partition row_number ground truth") {
    // the r16 de-eagering rewired the rank derivation (cached snapshot +
    // local index + data-derived partition heads + broadcast offsets);
    // the oracle proves it driver-side, this pins it in-suite against the
    // trivially-correct window spelling — THROUGH a narrow coalesce(1),
    // Verify's exact action. coalesce(1) merges every structural
    // partition into ONE task, which zeroed a TaskContext-partition-id
    // based offset scheme (every partition reported task id 0 while the
    // local index still restarted) — the head-row tagging is immune, and
    // this replay keeps it that way.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val out = "/tmp/graft_plan_sortrank"
    SparkEntry.queries("sort_global")(spark, TestSpark.Sf)
      .coalesce(1).write.mode("overwrite").parquet(out)
    val got = spark.read.parquet(out)
      .orderBy("rn").collect().map(r => (r.getLong(0), r.getLong(2)))
    val want = Engine.table(spark, TestSpark.Sf, "orders")
      .filter(col("o_totalprice") > 250000.0)
      .select(col("o_orderkey"),
        row_number().over(Window.orderBy(col("o_totalprice").desc,
          col("o_orderkey").asc)).cast("long").as("rn"))
      .orderBy("rn").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.toSeq === want.toSeq)
  }

  test("dedup verify kernels are evaluated ONCE per candidate pair (r20 barrier)") {
    // Spelled as a filter over a projected kernel column, the threshold
    // was pushed into the verify join's CONDITION and the kernel
    // re-evaluated in the projection above — at sf0.1 graft_overlap64
    // ran 621k + 471k times per containment trial (r20 before-plan,
    // plans/r20). The explode(array(…)) Generate barrier pins it to one
    // evaluation: exactly ONE kernel node in the optimized plan, and
    // never inside a Join condition.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    for (name <- Seq("dedup_containment", "dedup_ngram_jaccard")) {
      val qe = SparkEntry.queries(name)(spark, TestSpark.Sf).queryExecution
      // PAIR-level kernels only (left ≠ right): the per-doc self-overlap
      // nd = overlap64(hs, hs) legitimately appears below the join (plus
      // its inferred isnotnull constraint) and costs one doc-sized pass,
      // not a candidate-pair-sized one
      val ovs = qe.optimizedPlan.flatMap(n =>
        n.expressions.flatMap(_.collect {
          case o: graft.plans.Overlap64 if !o.left.semanticEquals(o.right) => o
        }))
      assert(ovs.size == 1,
        s"$name evaluates the pair-level graft_overlap64 ${ovs.size} times — the single-evaluation barrier regressed")
      qe.optimizedPlan.foreach {
        case j: Join => j.condition.foreach { c =>
          assert(c.collect { case o: graft.plans.Overlap64 => o }.isEmpty,
            s"$name pushed the verify kernel back into a join condition: $c")
        }
        case _ => ()
      }
    }
  }

  test("PQ argmin is a per-row expression — no corpus-sized (vec_id, j) exchange (r20)") {
    // the nearest-code argmin used to be groupBy(vec_id, j).min over the
    // 4 joined codebook rows — a full shuffle of the encoded corpus (N×8
    // rows) to min() over four broadcast values. The pivoted-codebook
    // least() form must leave NO exchange keyed on (vec_id, j) anywhere
    // in the encode path.
    for (name <- Seq("sim_pq_encode", "sim_topk_pq")) {
      val p = plan(name)
      assert(!p.matches("(?s).*hashpartitioning\\(vec_id#\\d+L?, j#\\d+.*"),
        s"$name re-grew the corpus-sized argmin exchange:\n$p")
    }
  }

  test("bm25 literal term-list dedup costs no shuffle round (r20)") {
    // qt.select("term").distinct() planned HashAggregate → Exchange →
    // HashAggregate over a 9-row LocalTableScan every trial; the list is
    // a compile-time literal, deduplicated in Scala. No exchange keyed
    // on the term column may appear.
    val p = plan("text_bm25_topk")
    assert(!p.matches("(?s).*hashpartitioning\\(term#.*"),
      s"bm25 re-grew the literal term-list shuffle:\n$p")
  }

  /** Executed-plan counts over the TRIAL path only: PlanWalk does not
    * descend into InMemoryRelation build subtrees (those run once per
    * session at cache materialization), so these fences measure exactly
    * what a bench trial pays. */
  private def trialCounts(name: String): (Int, Int) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries(name)(spark, TestSpark.Sf)
    df.collect()
    val ns = nodes(df.queryExecution.executedPlan)
    (ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      ns.count(_.isInstanceOf[FileSourceScanExec]))
  }

  test("tfidf trial path: ONE exchange (the window), zero file scans (r21)") {
    // r21: tf/df are token-partitioned index caches and the corpus count
    // is an index column, so the scoring join rides the stored layout
    // (cached-plan output partitioning preserved — Engine.session) and
    // the only shuffle left is the per-doc window's. A regression that
    // re-shuffles a cached side, re-scans documents, or re-aggregates df
    // per trial adds an exchange or a file scan here.
    val (exchanges, scans) = trialCounts("text_tfidf")
    assert(exchanges <= 1, s"tfidf trial path re-grew an exchange: $exchanges")
    assert(scans === 0, s"tfidf trial path re-scans parquet: $scans")
  }

  test("bm25 trial path: two aggregate exchanges, zero file scans (r21)") {
    // score groupBy(q_id, doc_id) + the bounded-heap topk — everything
    // else (postings, lengths, corpus stats, document frequencies) is
    // index-cache columns or ≤|terms| broadcasts.
    val (exchanges, scans) = trialCounts("text_bm25_topk")
    assert(exchanges <= 2, s"bm25 trial path re-grew an exchange: $exchanges")
    assert(scans === 0, s"bm25 trial path re-scans parquet: $scans")
  }

  test("PQ search trial path: ONE exchange (topk partials), no (q_id, vec_id) shuffle (r21)") {
    // r20 verdict #4: the ADC sum used to ride a corpus×queries
    // (q_id, vec_id) exchange. With per-row lut scoring over the cached
    // codes, the only shuffle left carries bounded-heap topk partials.
    for (name <- Seq("sim_topk_pq", "sim_topk_ivfpq")) {
      val (exchanges, _) = trialCounts(name)
      assert(exchanges <= 1, s"$name trial path re-grew an exchange: $exchanges")
      val p = plan(name)
      assert(!p.matches("(?s).*hashpartitioning\\(q_id#\\d+L?, vec_id#\\d+.*"),
        s"$name re-grew the (q_id, vec_id) ADC exchange:\n$p")
    }
  }

  test("PQ encode trial path: ZERO exchanges, zero file scans (r21)") {
    // the encode output is a flat projection over the cached codes — the
    // corpus-sized groupBy(vec_id) re-assembly exchange is gone.
    val (exchanges, scans) = trialCounts("sim_pq_encode")
    assert(exchanges === 0, s"encode trial path re-grew an exchange: $exchanges")
    assert(scans === 0, s"encode trial path re-scans parquet: $scans")
  }

  test("minhash LSH trial path: at most ONE exchange, zero file scans, no guard anti-join") {
    // the hot-bucket guard runs inside the dedup_bands build, whose window
    // leaves the cache hash-partitioned on (band, sig): the self-join
    // rides it, and a trial that hits the index runs no guard aggregate
    // or anti-join broadcast. The one exchange left is the pair count's.
    // The anti-join is looked for in the plan AQE starts from too: AQE
    // drops an anti-join whose hot-key side came back empty, but only
    // after running the job that found it empty.
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val (exchanges, scans) = trialCounts("dedup_minhash_lsh")
    assert(exchanges <= 1, s"minhash trial path re-grew an exchange: $exchanges")
    assert(scans === 0, s"minhash trial path re-scans parquet: $scans")
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, TestSpark.Sf)
    df.collect()
    val executed = df.queryExecution.executedPlan
    val initial = executed match {
      case a: AdaptiveSparkPlanExec => a.inputPlan.collect { case p => p }
      case _ => Seq.empty
    }
    val anti = (nodes(executed) ++ initial).collect {
      case j: BaseJoinExec if j.joinType == LeftAnti => j.nodeName
    }
    assert(anti.isEmpty, s"minhash trial path runs a guard anti-join: $anti")
  }
}
