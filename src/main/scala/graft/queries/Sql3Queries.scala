package graft.queries

import graft.Engine.table
import Registry.{dropManaged, sql}

/** Reference-era SQL dialect surface, wave 3.
  *
  * - HiveQL multi-insert (`FROM src INSERT OVERWRITE TABLE a … INSERT
  *   OVERWRITE TABLE b …`) — the one Hive-era construct a migration user
  *   still hits daily: one scan fans out into several aggregated writes.
  *   The reference parses the multi-insert clause list in
  *   sql/hive/.../HiveQl.scala:547-560 and exercises it through the
  *   HiveCompatibilitySuite golden corpus (multi_insert* whiteList rows,
  *   sql/hive/compatibility/.../HiveCompatibilitySuite.scala:246).
  *   At 100 TB this is a real optimization surface: N destination tables
  *   from ONE pass over the fact table instead of N scans.
  *
  * - Multi-feature "stress" statements that combine dialect features the
  *   way the reference's golden corpus does (CTE chains + LATERAL VIEW +
  *   window + GROUPING SETS; subqueries + join hints + DISTRIBUTE BY),
  *   guarding against pairwise-only coverage of analyzer features that
  *   interact.
  */
object Sql3Queries {

  val all: Seq[Q] = Seq(

    // HiveQL multi-insert: one FROM clause, two INSERT OVERWRITE branches
    // with independent aggregations — then both tables read back through
    // the catalog as one tagged union the oracle can recompute.
    Q("sql_multi_insert",
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("graft_li_mi")
        dropManaged(s, "graft_mi_by_flag")
        dropManaged(s, "graft_mi_by_status")
        s.sql("CREATE TABLE graft_mi_by_flag (key STRING, n BIGINT, sum_qty DOUBLE) USING parquet")
        s.sql("CREATE TABLE graft_mi_by_status (key STRING, n BIGINT, sum_qty DOUBLE) USING parquet")
        s.sql(sql("""FROM graft_li_mi
                     INSERT OVERWRITE TABLE graft_mi_by_flag
                       SELECT l_returnflag, count(*), sum(l_quantity)
                       GROUP BY l_returnflag
                     INSERT OVERWRITE TABLE graft_mi_by_status
                       SELECT l_linestatus, count(*), sum(l_quantity)
                       GROUP BY l_linestatus"""))
        s.sql(sql("""SELECT 'by_flag' AS side, key, n, sum_qty FROM graft_mi_by_flag
                     UNION ALL
                     SELECT 'by_status' AS side, key, n, sum_qty FROM graft_mi_by_status"""))
      },
      Some(sql("""SELECT 'by_flag' AS side, l_returnflag AS key,
                    count(*) AS n, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_returnflag
                  UNION ALL
                  SELECT 'by_status' AS side, l_linestatus AS key,
                    count(*) AS n, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_linestatus"""))),

    // Analyzer stress: CTE chain + LATERAL VIEW generator + aggregation +
    // ranking window + GROUPING SETS with grouping() flags, one statement.
    // Top-3 part-name tokens per brand (rank ties broken by token), then
    // re-aggregated across three grouping levels.
    Q("sql_stress_olap",
      (s, d) => {
        table(s, d, "part").createOrReplaceTempView("graft_part_st")
        s.sql(sql("""WITH toks AS (
                       SELECT p_brand, w FROM graft_part_st
                       LATERAL VIEW explode(split(p_name, ' ')) t AS w
                       WHERE w <> ''),
                     counted AS (
                       SELECT p_brand, w, count(*) AS occ
                       FROM toks GROUP BY p_brand, w),
                     ranked AS (
                       SELECT p_brand, w, occ,
                         rank() OVER (PARTITION BY p_brand
                                      ORDER BY occ DESC, w) AS r
                       FROM counted)
                     SELECT p_brand, w, sum(occ) AS n,
                       CAST(grouping(p_brand) AS BIGINT) AS g_b,
                       CAST(grouping(w) AS BIGINT) AS g_w
                     FROM ranked WHERE r <= 3
                     GROUP BY GROUPING SETS ((p_brand, w), (p_brand), ())"""))
      },
      Some(sql("""WITH toks AS (
                    SELECT p_brand, unnest(string_split(p_name, ' ')) AS w
                    FROM part),
                  counted AS (
                    SELECT p_brand, w, count(*) AS occ
                    FROM toks WHERE w <> '' GROUP BY p_brand, w),
                  ranked AS (
                    SELECT p_brand, w, occ,
                      rank() OVER (PARTITION BY p_brand
                                   ORDER BY occ DESC, w) AS r
                    FROM counted)
                  SELECT p_brand, w, CAST(sum(occ) AS BIGINT) AS n,
                    CAST(grouping(p_brand) AS BIGINT) AS g_b,
                    CAST(grouping(w) AS BIGINT) AS g_w
                  FROM ranked WHERE r <= 3
                  GROUP BY GROUPING SETS ((p_brand, w), (p_brand), ())"""))),

    // Dialect stress: scalar subquery + correlated EXISTS + BROADCAST
    // hint + HAVING + DISTRIBUTE BY / SORT BY tail in one statement.
    // Content is layout-invariant, so the oracle drops only the physical
    // clauses (hint, DISTRIBUTE/SORT BY).
    Q("sql_stress_dialect",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_ord_st")
        table(s, d, "customer").createOrReplaceTempView("graft_cust_st")
        table(s, d, "nation").createOrReplaceTempView("graft_nat_st")
        s.sql(sql("""WITH big AS (
                       SELECT o_custkey, o_totalprice FROM graft_ord_st
                       WHERE o_totalprice >
                         (SELECT avg(o_totalprice) FROM graft_ord_st))
                     SELECT /*+ BROADCAST(n) */ c_mktsegment, n_name,
                       count(*) AS n_orders,
                       round(sum(o_totalprice), 2) AS total
                     FROM big JOIN graft_cust_st c ON o_custkey = c_custkey
                     JOIN graft_nat_st n ON c_nationkey = n_nationkey
                     WHERE EXISTS (SELECT 1 FROM graft_nat_st x
                                   WHERE x.n_nationkey = n.n_nationkey
                                     AND x.n_regionkey < 3)
                     GROUP BY c_mktsegment, n_name
                     HAVING count(*) >= 2
                     DISTRIBUTE BY c_mktsegment
                     SORT BY c_mktsegment, n_name"""))
      },
      Some(sql("""WITH big AS (
                    SELECT o_custkey, o_totalprice FROM orders
                    WHERE o_totalprice >
                      (SELECT avg(o_totalprice) FROM orders))
                  SELECT c_mktsegment, n_name,
                    count(*) AS n_orders,
                    round(sum(o_totalprice), 2) AS total
                  FROM big JOIN customer c ON o_custkey = c_custkey
                  JOIN nation n ON c_nationkey = n_nationkey
                  WHERE EXISTS (SELECT 1 FROM nation x
                                WHERE x.n_nationkey = n.n_nationkey
                                  AND x.n_regionkey < 3)
                  GROUP BY c_mktsegment, n_name
                  HAVING count(*) >= 2"""))),

    // Reshape stress: CTE + join + SQL PIVOT clause + arithmetic over the
    // pivoted columns in one statement (agg_pivot covers the DataFrame
    // API path; this is the ANALYZER's pivot clause). The oracle restates
    // the pivot as conditional aggregation.
    Q("sql_stress_pivot",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_ord_sp")
        table(s, d, "customer").createOrReplaceTempView("graft_cust_sp")
        s.sql(sql("""WITH seg AS (
                       SELECT c_mktsegment, o_orderpriority, count(*) AS n
                       FROM graft_ord_sp JOIN graft_cust_sp ON o_custkey = c_custkey
                       GROUP BY 1, 2)
                     SELECT c_mktsegment, urgent, high,
                       round(urgent / (urgent + high), 6) AS urgent_share
                     FROM (SELECT * FROM seg
                           PIVOT (sum(n) FOR o_orderpriority
                                  IN ('1-URGENT' AS urgent, '2-HIGH' AS high)))"""))
      },
      Some(sql("""SELECT c_mktsegment, urgent, high,
                    round(urgent / CAST(urgent + high AS DOUBLE), 6) AS urgent_share
                  FROM (SELECT c_mktsegment,
                          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS urgent,
                          CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS high
                        FROM orders JOIN customer ON o_custkey = c_custkey
                        GROUP BY c_mktsegment)"""))),

    // Golden-corpus crossing: HiveQL multi-insert × DYNAMIC partition
    // overwrite in ONE statement (HiveCompatibilitySuite's multi_insert*
    // + dynamic-partition families) — one scan fans into two PARTITIONED
    // tables, each partition value coming from the data. A pre-seeded
    // SENTINEL partition must survive the overwrite: dynamic mode
    // replaces only the partitions present in the insert, which is the
    // contract a daily partition re-run depends on at 100 TB.
    Q("sql_multi_insert_dynpart",
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("graft_li_mid")
        dropManaged(s, "graft_mid_qty")
        dropManaged(s, "graft_mid_cnt")
        s.sql("CREATE TABLE graft_mid_qty (n BIGINT, sum_qty DOUBLE, flag STRING) " +
          "USING parquet PARTITIONED BY (flag)")
        s.sql("CREATE TABLE graft_mid_cnt (n BIGINT, status STRING, flag STRING) " +
          "USING parquet PARTITIONED BY (status, flag)")
        s.sql("INSERT INTO graft_mid_qty PARTITION (flag='SENTINEL') VALUES (-1, -1.0)")
        val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try s.sql(sql("""FROM graft_li_mid
                         INSERT OVERWRITE TABLE graft_mid_qty PARTITION (flag)
                           SELECT count(*), sum(l_quantity), l_returnflag
                           GROUP BY l_returnflag
                         INSERT OVERWRITE TABLE graft_mid_cnt PARTITION (status, flag)
                           SELECT count(*), l_linestatus, l_returnflag
                           GROUP BY l_linestatus, l_returnflag"""))
        finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        s.sql(sql("""SELECT 'qty' AS side, flag AS key1, '' AS key2, n, sum_qty
                     FROM graft_mid_qty
                     UNION ALL
                     SELECT 'cnt' AS side, flag AS key1, status AS key2, n,
                       CAST(NULL AS DOUBLE) AS sum_qty
                     FROM graft_mid_cnt"""))
      },
      Some(sql("""SELECT 'qty' AS side, l_returnflag AS key1, '' AS key2,
                    count(*) AS n, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_returnflag
                  UNION ALL
                  SELECT 'qty', 'SENTINEL', '', CAST(-1 AS BIGINT), -1.0
                  UNION ALL
                  SELECT 'cnt', l_returnflag, l_linestatus,
                    count(*), CAST(NULL AS DOUBLE)
                  FROM lineitem GROUP BY l_returnflag, l_linestatus"""))),

    // Golden-corpus crossing: chained LATERAL VIEWs with UDTF ALIAS REUSE
    // (the second explode consumes the first's column — HiveQl's
    // lateral_view* family), a MERGE join hint, and a ranking window over
    // the joined aggregate, one statement. Letter frequencies of part
    // names weighted by each part's lineitem count.
    Q("sql_stress_lateral_join",
      (s, d) => {
        table(s, d, "part").createOrReplaceTempView("graft_part_lw")
        table(s, d, "lineitem").createOrReplaceTempView("graft_li_lw")
        s.sql(sql("""WITH tc AS (
                       SELECT p_partkey, p_brand, c, count(*) AS occ
                       FROM graft_part_lw
                       LATERAL VIEW explode(split(p_name, ' ')) t1 AS w
                       LATERAL VIEW explode(split(w, '')) t2 AS c
                       WHERE w <> ''
                       GROUP BY p_partkey, p_brand, c),
                     lc AS (SELECT l_partkey, count(*) AS n_li
                            FROM graft_li_lw GROUP BY l_partkey),
                     j AS (SELECT /*+ MERGE(lc) */ p_brand, c,
                             CAST(sum(occ * n_li) AS BIGINT) AS w8
                           FROM tc JOIN lc ON p_partkey = l_partkey
                           GROUP BY p_brand, c)
                     SELECT p_brand, c, w8, r FROM (
                       SELECT p_brand, c, w8,
                         rank() OVER (PARTITION BY p_brand
                                      ORDER BY w8 DESC, c) AS r
                       FROM j) WHERE r <= 5"""))
      },
      Some(sql("""WITH w1 AS (SELECT p_partkey, p_brand,
                                unnest(string_split(p_name, ' ')) AS w FROM part),
                  w2 AS (SELECT p_partkey, p_brand,
                           unnest(string_split(w, '')) AS c
                         FROM w1 WHERE w <> ''),
                  tc AS (SELECT p_partkey, p_brand, c, count(*) AS occ
                         FROM w2 GROUP BY 1, 2, 3),
                  lc AS (SELECT l_partkey, count(*) AS n_li
                         FROM lineitem GROUP BY 1),
                  j AS (SELECT p_brand, c, CAST(sum(occ * n_li) AS BIGINT) AS w8
                        FROM tc JOIN lc ON p_partkey = l_partkey
                        GROUP BY 1, 2)
                  SELECT p_brand, c, w8, r FROM (
                    SELECT p_brand, c, w8,
                      rank() OVER (PARTITION BY p_brand
                                   ORDER BY w8 DESC, c) AS r
                    FROM j) q WHERE r <= 5"""))),

    // Golden-corpus crossing: GROUPING SETS branches UNIONed with a
    // correlated-scalar-subquery branch over the same CTE (groupby_
    // grouping_sets* × correlationoptimizer* families). The correlated
    // branch counts customers above their own nation's average balance.
    Q("sql_stress_gsets_corr",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_cust_gs")
        table(s, d, "nation").createOrReplaceTempView("graft_nat_gs")
        s.sql(sql("""WITH base AS (
                       SELECT n_name, c_mktsegment, c_acctbal
                       FROM graft_cust_gs
                       JOIN graft_nat_gs ON c_nationkey = n_nationkey)
                     SELECT n_name, c_mktsegment, count(*) AS n,
                       CAST(grouping(n_name) AS BIGINT) AS g_n,
                       CAST(grouping(c_mktsegment) AS BIGINT) AS g_m
                     FROM base
                     GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())
                     UNION ALL
                     SELECT n_name, 'ABOVE_NATION_AVG', count(*),
                       CAST(9 AS BIGINT), CAST(9 AS BIGINT)
                     FROM base b
                     WHERE c_acctbal > (SELECT avg(c_acctbal) FROM base b2
                                        WHERE b2.n_name = b.n_name)
                     GROUP BY n_name"""))
      },
      Some(sql("""WITH base AS (
                    SELECT n_name, c_mktsegment, c_acctbal
                    FROM customer JOIN nation ON c_nationkey = n_nationkey)
                  SELECT n_name, c_mktsegment, count(*) AS n,
                    CAST(grouping(n_name) AS BIGINT) AS g_n,
                    CAST(grouping(c_mktsegment) AS BIGINT) AS g_m
                  FROM base
                  GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())
                  UNION ALL
                  SELECT n_name, 'ABOVE_NATION_AVG', count(*),
                    CAST(9 AS BIGINT), CAST(9 AS BIGINT)
                  FROM base b
                  WHERE c_acctbal > (SELECT avg(c_acctbal) FROM base b2
                                     WHERE b2.n_name = b.n_name)
                  GROUP BY n_name""")))
  )
}
