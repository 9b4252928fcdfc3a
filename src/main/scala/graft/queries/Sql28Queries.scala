package graft.queries

import graft.Engine.table
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import Registry.{dropManaged, sql, withConfs}

/** Round-14 adversarial validation of the round-13 whiteList closing
  * sweep (COVERAGE.md "Round 13 whiteList closing sweep") — the r13
  * verdict's top demand. The sweep DISMISSED two golden classes as
  * "config-variant re-runs, no new semantics":
  *
  *   - `groupby1-8_{map,map_skew,noskew}` (~30 whiteList entries,
  *     reference HiveCompatibilitySuite.scala:246): the same GROUP BYs
  *     re-run under hive.map.aggr / hive.groupby.skewindata on/off —
  *     execution-strategy knobs that historically CHANGED ANSWERS in
  *     Hive (that is why the goldens exist).
  *   - `load_dyn_part1-15`: dynamic-partition INSERT semantics under
  *     partition-mode settings (overwrite scope, partition-count
  *     limits).
  *
  * These rows MEASURE the dismissal instead of asserting it: the same
  * aggregation/join answers are computed engine-side under FORCED
  * execution-config extremes (reducer counts 1 and 109, whole-stage
  * codegen off, AQE off, AQE skew-join splits actually firing on a
  * salted-hot fixture — PlanSpec fences the split), and every variant
  * must hash-match ONE unforced DuckDB oracle. The load_dyn_part
  * contract is measured as the observable semantics of
  * `spark.sql.sources.partitionOverwriteMode` static vs dynamic plus a
  * 211-partition single-statement dynamic insert.
  *
  * Each variant runs EAGERLY (collect) under its conf set and restores
  * the session conf in `finally` — conf mutations must never leak into
  * the shared Verify/Bench/spec sessions. Collected results are
  * re-wrapped as local DataFrames (bounded: ≤ tens of rows — the same
  * pattern as the catalog-probe rows).
  */
object Sql28Queries {

  /** The execution-strategy variants that must not change answers —
    * the modern restatement of Hive's map-aggr/skew-groupby config
    * grid. Reducer-count extremes, codegen off, AQE off. */
  private val ExecVariants: Seq[(String, Map[String, String])] = Seq(
    "baseline" -> Map.empty,
    "reducers_1" -> Map("spark.sql.shuffle.partitions" -> "1"),
    "reducers_109" -> Map("spark.sql.shuffle.partitions" -> "109"),
    "no_codegen" -> Map("spark.sql.codegen.wholeStage" -> "false"),
    "no_aqe" -> Map("spark.sql.adaptive.enabled" -> "false"))

  private def tagsValuesSql(tags: Seq[String]): String =
    tags.map(t => s"('$t')").mkString("(VALUES ", ", ", ") t(tag)")

  /** Collect `df` once per variant and union the rows under a leading
    * `tag` column, preserving the aggregate's schema.
    *
    * CONCURRENCY SCOPE (r14 verdict blemish, pinned): the variant confs
    * mutate the SHARED session and are restored in withConfs' finally —
    * correct for today's strictly sequential Verify/spec execution, but
    * anything running CONCURRENTLY against this session during a
    * variant window would observe the forced confs. If parallel spec
    * execution ever lands, give this harness a dedicated
    * `s.newSession()` instead. */
  private def perVariant(s: SparkSession, variants: Seq[(String, Map[String, String])],
      df: => DataFrame): DataFrame = {
    var schema: org.apache.spark.sql.types.StructType = null
    val rows = variants.flatMap { case (tag, confs) =>
      withConfs(s, confs) {
        val d = df
        schema = d.schema
        d.collect().toSeq.map(r => Row.fromSeq(tag +: r.toSeq))
      }
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType, nullable = false) +: schema.fields))
  }

  /** The salted-hot join (PlanSpec fences the AQE skew split on it):
    * half of lineitem collapses onto join key 1 (one hot SHUFFLE
    * partition), the build side stays UNIQUE on the key (orders PK), so
    * the join output is linear — the skewed-partition shape AQE's
    * skew-join split exists for, without the many-to-many blowup this
    * repo's nullsafe rows exist to avoid. */
  private[graft] def skewedJoin(s: SparkSession, d: String): DataFrame = {
    table(s, d, "lineitem").createOrReplaceTempView("graft_sk_l")
    table(s, d, "orders").createOrReplaceTempView("graft_sk_o")
    // the projection deliberately carries VARIED columns (partkey,
    // extendedprice) — a (constant-key, quantity)-only hot partition
    // compresses to almost nothing in the shuffle and ducks under any
    // realistic skew threshold at test scale. The REPARTITION(16) hint
    // recreates production's multi-mapper reality on the one-file test
    // fixture: AQE splits a skewed REDUCE partition by MAPPER ranges,
    // so a single-map-task scan (sf0.01 lineitem is one 1 MB file) is
    // structurally unsplittable no matter how skewed the key is.
    s.sql(sql("""
      SELECT o_orderstatus, count(*) AS n,
             round(sum(l_quantity), 2) AS sq,
             round(sum(l_extendedprice), 2) AS sp,
             CAST(sum(l_partkey) AS BIGINT) AS spk
      FROM (SELECT /*+ REPARTITION(16) */
                   CASE WHEN l_orderkey % 2 = 0 THEN 1
                        ELSE l_orderkey END AS jk,
                   l_quantity, l_extendedprice, l_partkey
            FROM graft_sk_l) l
      JOIN graft_sk_o ON l.jk = o_orderkey
      GROUP BY o_orderstatus"""))
  }

  /** Conf set that forces the skew machinery to actually fire at test
    * scale: broadcast off (skew split only exists for shuffle joins),
    * thresholds shrunk so the ~50%-of-lineitem hot partition trips the
    * split. PlanSpec asserts isSkewJoin on the executed plan under
    * exactly these confs. */
  private[graft] val SkewSplitConfs: Map[String, String] = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32768",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384")

  val all: Seq[Q] = Seq(

    // ── groupby*_{map,map_skew,noskew} measured: q1-class agg × 5
    //    execution-config variants, every variant vs ONE plain oracle ──
    Q("sql_agg_config_grid",
      (s, d) => perVariant(s, ExecVariants, {
        import org.apache.spark.sql.functions._
        table(s, d, "lineitem")
          .filter(col("l_shipdate") <=
            lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("sum_disc_price"),
            count(lit(1)).as("count_order"))
      }),
      Some(sql(s"""
        WITH a AS (SELECT l_returnflag, l_linestatus,
                     round(sum(l_quantity), 2) AS sum_qty,
                     round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                       AS sum_disc_price,
                     count(*) AS count_order
                   FROM lineitem
                   WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
                   GROUP BY 1, 2)
        SELECT t.tag, a.* FROM ${tagsValuesSql(ExecVariants.map(_._1))}
        CROSS JOIN a"""))),

    // ── groupby skew variants measured on a SALTED-HOT fixture: one
    //    group key holds ~33% of all rows (the skew-groupby shape), and
    //    the reducer-count/codegen/AQE extremes still agree with the
    //    unforced oracle. The summary projects the inner ~998-group agg
    //    to a 1-row digest so the verified result stays compact. ──────
    Q("sql_agg_forced_skew",
      (s, d) => perVariant(s, ExecVariants, {
        table(s, d, "lineitem").createOrReplaceTempView("graft_fs_l")
        s.sql(sql("""
          SELECT count(*) AS n_groups,
                 CAST(sum(cnt) AS BIGINT) AS total_rows,
                 CAST(max(cnt) AS BIGINT) AS hot_rows,
                 CAST(sum(k * cnt) AS BIGINT) AS key_checksum
          FROM (SELECT CASE WHEN l_orderkey % 3 = 0 THEN -1
                            ELSE l_orderkey % 997 END AS k,
                       count(*) AS cnt
                FROM graft_fs_l GROUP BY 1)"""))
      }),
      Some(sql(s"""
        WITH g AS (SELECT CASE WHEN l_orderkey % 3 = 0 THEN -1
                               ELSE l_orderkey % 997 END AS k,
                          count(*) AS cnt
                   FROM lineitem GROUP BY 1),
             s AS (SELECT count(*) AS n_groups,
                          CAST(sum(cnt) AS BIGINT) AS total_rows,
                          CAST(max(cnt) AS BIGINT) AS hot_rows,
                          CAST(sum(k * cnt) AS BIGINT) AS key_checksum
                   FROM g)
        SELECT t.tag, s.* FROM ${tagsValuesSql(ExecVariants.map(_._1))}
        CROSS JOIN s"""))),

    // ── AQE skew-join split fires AND answers stay put: the salted-hot
    //    join under (a) broadcast allowed, (b) plain SMJ (AQE off), and
    //    (c) forced skew-split SMJ — one oracle. PlanSpec separately
    //    pins that (c) really executes a SortMergeJoin(isSkewJoin=true)
    //    so this row can never silently degrade into re-testing the
    //    broadcast path three times. ───────────────────────────────────
    Q("sql_join_skew_aqe_split",
      (s, d) => perVariant(s, Seq(
        "broadcast" -> Map.empty,
        "plain_smj" -> Map(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false"),
        "skew_split_smj" -> SkewSplitConfs),
        skewedJoin(s, d)),
      Some(sql(s"""
        WITH j AS (SELECT o_orderstatus, count(*) AS n,
                          round(sum(l_quantity), 2) AS sq,
                          round(sum(l_extendedprice), 2) AS sp,
                          CAST(sum(l_partkey) AS BIGINT) AS spk
                   FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1
                                     ELSE l_orderkey END AS jk,
                                l_quantity, l_extendedprice, l_partkey
                         FROM lineitem) l
                   JOIN orders ON l.jk = o_orderkey
                   GROUP BY 1)
        SELECT t.tag, j.*
        FROM ${tagsValuesSql(Seq("broadcast", "plain_smj", "skew_split_smj"))}
        CROSS JOIN j"""))),

    // ── load_dyn_part measured, part 1: partitionOverwriteMode STATIC
    //    vs DYNAMIC are OBSERVABLY different contracts — dynamic
    //    replaces only the partitions the insert writes, static drops
    //    the whole table first. ────────────────────────────────────────
    Q("sql_dynpart_overwrite_modes",
      (s, d) => {
        dropManaged(s, "graft_dpo")
        table(s, d, "customer").createOrReplaceTempView("graft_dpo_src")
        s.sql(sql("""CREATE TABLE graft_dpo (k BIGINT)
                     USING parquet PARTITIONED BY (seg STRING)"""))
        def counts(): (Long, Long) = (
          s.sql("SELECT count(*) FROM graft_dpo").collect()(0).getLong(0),
          s.sql("SHOW PARTITIONS graft_dpo").count())
        // seed: every customer, one partition per segment
        s.sql(sql("""INSERT OVERWRITE TABLE graft_dpo PARTITION (seg)
                     SELECT c_custkey, c_mktsegment FROM graft_dpo_src"""))
        val (seedRows, seedParts) = counts()
        // the re-load: only BUILDING, and only its even keys
        val reload = sql("""INSERT OVERWRITE TABLE graft_dpo PARTITION (seg)
                     SELECT c_custkey, c_mktsegment FROM graft_dpo_src
                     WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0""")
        val (dynRows, dynParts) = withConfs(s,
          Map("spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
          s.sql(reload); counts()
        }
        val (statRows, statParts) = withConfs(s,
          Map("spark.sql.sources.partitionOverwriteMode" -> "static")) {
          s.sql(reload); counts()
        }
        val sq = s; import sq.implicits._
        Seq(("seed_rows", seedRows), ("seed_parts", seedParts),
          ("dyn_rows", dynRows), ("dyn_parts", dynParts),
          ("static_rows", statRows), ("static_parts", statParts))
          .toDF("metric", "value")
      },
      Some(sql("""
        SELECT 'seed_rows' AS metric, count(*) AS value FROM customer
        UNION ALL SELECT 'seed_parts',
          (SELECT count(DISTINCT c_mktsegment) FROM customer)
        UNION ALL SELECT 'dyn_rows',
          (SELECT count(*) FROM customer WHERE c_mktsegment <> 'BUILDING')
          + (SELECT count(*) FROM customer
             WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0)
        UNION ALL SELECT 'dyn_parts',
          (SELECT count(DISTINCT c_mktsegment) FROM customer)
        UNION ALL SELECT 'static_rows',
          (SELECT count(*) FROM customer
           WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0)
        UNION ALL SELECT 'static_parts', 1"""))),

    // ── load_dyn_part measured, part 2: a single-statement dynamic
    //    insert fanning out to 211 partitions (the load_dyn_part volume
    //    shape), partition-pruned read-back, per-partition integrity. ──
    Q("sql_dynpart_many_partitions",
      (s, d) => {
        dropManaged(s, "graft_dpm")
        table(s, d, "orders").createOrReplaceTempView("graft_dpm_src")
        s.sql(sql("""CREATE TABLE graft_dpm (ok BIGINT, price DOUBLE)
                     USING parquet PARTITIONED BY (pk BIGINT)"""))
        s.sql(sql("""INSERT OVERWRITE TABLE graft_dpm PARTITION (pk)
                     SELECT o_orderkey, o_totalprice, o_custkey % 211
                     FROM graft_dpm_src"""))
        val sq = s; import sq.implicits._
        val nParts = s.sql("SHOW PARTITIONS graft_dpm").count()
        val total = s.sql("SELECT count(*) FROM graft_dpm").collect()(0).getLong(0)
        val one = s.sql(
          "SELECT count(*) FROM graft_dpm WHERE pk = 7").collect()(0).getLong(0)
        Seq(("n_partitions", nParts), ("total_rows", total), ("pk7_rows", one))
          .toDF("metric", "value")
      },
      Some(sql("""
        SELECT 'n_partitions' AS metric,
               (SELECT count(DISTINCT o_custkey % 211) FROM orders) AS value
        UNION ALL SELECT 'total_rows', (SELECT count(*) FROM orders)
        UNION ALL SELECT 'pk7_rows',
          (SELECT count(*) FROM orders WHERE o_custkey % 211 = 7)"""))),

    // ── rcfile_* crossed (r13 verdict #5 — previously documented
    //    deliberately-not-crossed): full RCFile lifecycle through the
    //    REAL Hive serde — partitioned CREATE STORED AS RCFILE, dynamic
    //    INSERT (the load_dyn_part × RCFile cross), aggregating
    //    read-back, partition-pruned read, and serde introspection
    //    (DESCRIBE FORMATTED must name RCFileInputFormat /
    //    LazyBinaryColumnarSerDe — proving this is the columnar Hive
    //    format, not a silently-converted parquet table). Probe result
    //    pinned in COVERAGE: hive.exec.max.dynamic.partitions is NOT
    //    enforced by Spark 4's insert path even for RCFile tables
    //    (measured: 7 partitions written under limit 4). ──────────────
    Q("src_rcfile_roundtrip",
      (s, d) => {
        dropManaged(s, "graft_rcf")
        table(s, d, "supplier").createOrReplaceTempView("graft_rcf_src")
        s.sql(sql("""CREATE TABLE graft_rcf (k BIGINT, name STRING, bal DOUBLE)
                     PARTITIONED BY (nk BIGINT) STORED AS RCFILE"""))
        withConfs(s, Map("hive.exec.dynamic.partition.mode" -> "nonstrict")) {
          s.sql(sql("""INSERT OVERWRITE TABLE graft_rcf PARTITION (nk)
                       SELECT s_suppkey, s_name, s_acctbal, s_nationkey % 5
                       FROM graft_rcf_src""")): Unit
        }
        val sq = s; import sq.implicits._
        val rows = s.sql("SELECT count(*) FROM graft_rcf").collect()(0).getLong(0)
        val sumK = s.sql("SELECT CAST(sum(k) AS BIGINT) FROM graft_rcf")
          .collect()(0).getLong(0)
        val parts = s.sql("SHOW PARTITIONS graft_rcf").count()
        val pruned = s.sql("SELECT count(*) FROM graft_rcf WHERE nk = 2")
          .collect()(0).getLong(0)
        val desc = s.sql("DESCRIBE FORMATTED graft_rcf").collect()
          .map(_.toString).mkString(" ")
        Seq(("rows", rows.toString), ("sum_k", sumK.toString),
          ("n_parts", parts.toString), ("nk2_rows", pruned.toString),
          ("serde_rcfile", (desc.contains("RCFileInputFormat") &&
            desc.contains("LazyBinaryColumnarSerDe")).toString))
          .toDF("metric", "value")
      },
      Some(sql("""
        SELECT 'rows' AS metric, CAST(count(*) AS VARCHAR) AS value FROM supplier
        UNION ALL SELECT 'sum_k',
          CAST(CAST(sum(s_suppkey) AS BIGINT) AS VARCHAR) FROM supplier
        UNION ALL SELECT 'n_parts',
          CAST(count(DISTINCT s_nationkey % 5) AS VARCHAR) FROM supplier
        UNION ALL SELECT 'nk2_rows',
          CAST((SELECT count(*) FROM supplier WHERE s_nationkey % 5 = 2) AS VARCHAR)
        UNION ALL SELECT 'serde_rcfile', 'true'"""))),

    // ── Spark 4 SQL pipe syntax (beyond-reference modern-dialect row,
    //    r13 verdict #7): |> WHERE / EXTEND / AGGREGATE GROUP BY /
    //    ORDER BY / LIMIT chain, oracled by the plain-SQL equivalent.
    //    LIMIT is deterministic: ordered by the (unique) group key. ───
    Q("sql_pipe_syntax",
      (s, d) => {
        table(s, d, "part").createOrReplaceTempView("graft_pipe_p")
        s.sql(sql("""
          FROM graft_pipe_p
          |> WHERE p_size > 10
          |> EXTEND p_size * 2 AS ds
          |> AGGREGATE count(*) AS n, CAST(sum(ds) AS BIGINT) AS sds
             GROUP BY p_type
          |> ORDER BY p_type
          |> LIMIT 20"""))
      },
      Some(sql("""
        SELECT p_type, count(*) AS n,
               CAST(sum(p_size * 2) AS BIGINT) AS sds
        FROM part WHERE p_size > 10
        GROUP BY p_type ORDER BY p_type LIMIT 20"""))),

    // ── escape_{order,sort,cluster,distribute}by measured (the sweep's
    //    "parser trivia" class): RESERVED WORDS as backtick-escaped
    //    identifiers flow through GROUP BY / ORDER BY and a
    //    DISTRIBUTE BY + SORT BY leg re-aggregated to an
    //    order-independent digest. The oracle spells the same
    //    identifiers with ANSI double quotes. ──────────────────────────
    Q("sql_escaped_by_grid",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_esc_o")
        s.sql(sql("""
          SELECT `order`, `by`, count(*) AS n
          FROM (SELECT o_orderstatus AS `order`, o_orderpriority AS `by`
                FROM graft_esc_o
                DISTRIBUTE BY o_orderstatus SORT BY o_orderpriority)
          GROUP BY `order`, `by`
          ORDER BY `order`, `by`"""))
      },
      Some(sql("""
        SELECT "order", "by", count(*) AS n
        FROM (SELECT o_orderstatus AS "order", o_orderpriority AS "by"
              FROM orders)
        GROUP BY "order", "by"
        ORDER BY "order", "by""""))),

    // ── notable_alias / alias_casted_column / literal_* measured (the
    //    rest of the sweep's "parser trivia" class): AS-less bare
    //    aliases flow through GROUP BY and re-aggregation; LITERAL
    //    TYPING is pinned via typeof() against the expected Spark types
    //    (int / bigint / double / decimal(1,1) / string / boolean /
    //    date — the literal_double/ints/string golden semantics); a
    //    CAST alias reusing the source column's own name resolves to
    //    the casted value; and Spark 4 LATERAL COLUMN ALIASES (a
    //    same-SELECT alias referenced by later expressions) compute
    //    left-to-right. One string-typed digest per sub-case. ──────────
    Q("sql_alias_literal_trivia",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_alt_o")
        s.sql(sql("""
          SELECT 'bare_alias' AS tag,
                 concat_ws('|', sort_array(collect_list(concat(k, ':', cnt)))) AS val
          FROM (SELECT o_orderstatus k, count(*) cnt
                FROM graft_alt_o GROUP BY o_orderstatus) t
          UNION ALL
          SELECT 'literal_types',
                 concat_ws(',', typeof(100), typeof(2147483648), typeof(1e2),
                           typeof(0.1), typeof('x'), typeof(true),
                           typeof(DATE '1996-01-02'))
          UNION ALL
          SELECT 'alias_casted',
                 CAST(count(DISTINCT o_orderkey) AS STRING)
          FROM (SELECT CAST(o_orderkey AS STRING) o_orderkey
                FROM graft_alt_o WHERE o_orderkey <= 100)
          UNION ALL
          SELECT 'lateral_alias', CAST(c AS STRING)
          FROM (SELECT 2 AS a, a * 10 AS b, b + a AS c)"""))
      },
      Some(sql("""
        SELECT 'bare_alias' AS tag,
               array_to_string(list_sort(list(k || ':' || cnt)), '|') AS val
        FROM (SELECT o_orderstatus k, count(*) cnt
              FROM orders GROUP BY o_orderstatus) t
        UNION ALL
        SELECT 'literal_types',
               'int,bigint,double,decimal(1,1),string,boolean,date'
        UNION ALL
        SELECT 'alias_casted',
               CAST(count(DISTINCT o_orderkey) AS VARCHAR)
        FROM (SELECT CAST(o_orderkey AS VARCHAR) o_orderkey
              FROM orders WHERE o_orderkey <= 100)
        UNION ALL
        SELECT 'lateral_alias', CAST(c AS VARCHAR)
        FROM (SELECT 2 AS a, a * 10 AS b, b + a AS c)""")))
  )
}
