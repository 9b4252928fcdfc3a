package graft.queries

import graft.Engine.table
import org.apache.spark.sql.functions._
import Registry.{dropManaged, ioPath, sql}

/** Round-11 SQL wave 16 — the golden `groupby_*` multi-aggregation long
  * tail (reference sql/hive/src/test/resources/golden/, the family the
  * r10 verdict ranked next-highest-value after correlationoptimizer):
  *
  * - groupby_multi_insert_common_distinct: ONE scan feeding two INSERT
  *   branches whose aggregations are count(DISTINCT) under DIFFERENT
  *   group keys (`key` vs `key+key`) — the multi-insert × DISTINCT
  *   crossing none of the existing multi-insert rows exercise.
  * - groupby_ppd (HIVE-2382): a HAVING predicate on a group key over a
  *   UNION ALL subquery must push below BOTH the aggregation and the
  *   union, all the way into the parquet scans (PlanSpec pins
  *   PushedFilters in both branches — at 100 TB this is the difference
  *   between scanning two full tables and two pruned row-groups).
  * - correlationoptimizer4 shape: JOIN on a key then GROUP BY the same
  *   key — the aggregation must ride the join's hash partitioning and
  *   add NO third exchange (PlanSpec).
  * - groupby_sort_* family: aggregation on a bucketed table must use the
  *   bucket partitioning and shuffle NOTHING (PlanSpec zero hash
  *   exchanges) — Spark's answer to Hive's sorted-table map-side group by.
  * - groupby_multi_single_reducer's mixed-aggregate rows: DISTINCT and
  *   FILTER'd aggregates combined in one aggregation.
  */
object Sql16Queries {

  val all: Seq[Q] = Seq(

    // golden groupby_multi_insert_common_distinct: the two branches group
    // the SAME scan by key and key+key, each with a DISTINCT aggregate;
    // read-back bounded exactly like the golden (< 10 / < 20 keys).
    Q("sql_multi_insert_distinct",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_o16_mi")
        dropManaged(s, "graft_mid_k")
        dropManaged(s, "graft_mid_kk")
        s.sql("CREATE TABLE graft_mid_k  (key BIGINT, cnt BIGINT) USING parquet")
        s.sql("CREATE TABLE graft_mid_kk (key BIGINT, cnt BIGINT) USING parquet")
        s.sql(sql("""FROM graft_o16_mi
                     INSERT OVERWRITE TABLE graft_mid_k
                       SELECT o_custkey, count(DISTINCT o_orderpriority)
                       GROUP BY o_custkey
                     INSERT OVERWRITE TABLE graft_mid_kk
                       SELECT o_custkey + o_custkey, count(DISTINCT o_orderpriority)
                       GROUP BY o_custkey + o_custkey"""))
        s.sql(sql("""SELECT 'k' AS side, key, cnt FROM graft_mid_k WHERE key < 10
                     UNION ALL
                     SELECT 'kk' AS side, key, cnt FROM graft_mid_kk WHERE key < 20"""))
      },
      Some(sql("""SELECT 'k' AS side, o_custkey AS key,
                    count(DISTINCT o_orderpriority) AS cnt
                  FROM orders GROUP BY o_custkey HAVING o_custkey < 10
                  UNION ALL
                  SELECT 'kk' AS side, o_custkey + o_custkey AS key,
                    count(DISTINCT o_orderpriority) AS cnt
                  FROM orders GROUP BY o_custkey + o_custkey
                  HAVING o_custkey + o_custkey < 20"""))),

    // golden groupby_ppd: HAVING on a group key over a UNION ALL subquery.
    // The constant predicate must reach the scans (PlanSpec), and the
    // doubled counts pin that BOTH union branches survived the pushdown.
    Q("sql_groupby_ppd_union",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_o16_ppd")
        s.sql(sql("""SELECT foo, bar, count(*) AS n FROM (
                       SELECT o_orderstatus AS foo, o_orderpriority AS bar
                       FROM graft_o16_ppd
                       UNION ALL
                       SELECT o_orderstatus AS foo, o_orderpriority AS bar
                       FROM graft_o16_ppd) b
                     GROUP BY foo, bar HAVING bar = '1-URGENT'"""))
      },
      Some(sql("""SELECT foo, bar, count(*) AS n FROM (
                    SELECT o_orderstatus AS foo, o_orderpriority AS bar FROM orders
                    UNION ALL
                    SELECT o_orderstatus AS foo, o_orderpriority AS bar FROM orders) b
                  GROUP BY foo, bar HAVING bar = '1-URGENT'"""))),

    // correlationoptimizer4 shape: customer ⋈ orders on custkey, then
    // GROUP BY the join key — the aggregation rides the join's
    // partitioning (PlanSpec: exactly the two branch exchanges), reduced
    // to an order-independent summary.
    Q("sql_groupby_join_reuse",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_o16_jr")
        table(s, d, "customer").createOrReplaceTempView("graft_c16_jr")
        s.sql(sql("""
          WITH per_key AS (
            SELECT o.o_custkey AS k, count(*) AS n,
                   sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
            FROM graft_o16_jr o JOIN graft_c16_jr c ON o.o_custkey = c.c_custkey
            GROUP BY o.o_custkey)
          SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_orders,
                 CAST(sum(cents) AS BIGINT) AS total_cents,
                 CAST(max(n) AS BIGINT) AS max_orders_per_key
          FROM per_key"""))
      },
      Some(sql("""
        WITH per_key AS MATERIALIZED (
          SELECT o.o_custkey AS k, count(*) AS n,
                 sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY o.o_custkey)
        SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(max(n) AS BIGINT) AS max_orders_per_key
        FROM per_key"""))),

    // golden groupby_sort_* family, Spark spelling: aggregate a table
    // BUCKETED on the group key — the scan's bucket partitioning
    // satisfies the aggregation's distribution, so the plan has ZERO
    // hash exchanges (PlanSpec). The 100 TB contract: a pre-bucketed
    // fact table aggregates with no shuffle at all.
    Q("sql_agg_bucketed_zero_shuffle",
      (s, d) => {
        dropManaged(s, "graft_bk_agg")
        table(s, d, "orders")
          .write.format("parquet")
          .bucketBy(8, "o_custkey")
          .option("path", ioPath(d, "bk_agg"))
          .mode("overwrite")
          .saveAsTable("graft_bk_agg")
        s.sql(sql("""
          WITH per_key AS (
            SELECT o_custkey, count(*) AS n,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM graft_bk_agg GROUP BY o_custkey)
          SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_orders,
                 CAST(sum(cents) AS BIGINT) AS total_cents
          FROM per_key"""))
      },
      Some(sql("""
        WITH per_key AS MATERIALIZED (
          SELECT o_custkey, count(*) AS n,
                 sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders GROUP BY o_custkey)
        SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM per_key"""))),

    // groupby_multi_single_reducer's mixed-aggregate row: DISTINCT and
    // FILTER'd aggregates side by side in ONE aggregation — Spark must
    // fold the filters into the single Expand-rewritten scan.
    Q("sql_agg_distinct_filter",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_o16_df")
        s.sql(sql("""
          SELECT o_orderstatus,
                 count(DISTINCT o_orderpriority) AS n_prio,
                 count(DISTINCT o_orderpriority)
                   FILTER (WHERE o_totalprice > 150000) AS n_prio_big,
                 count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
                   AS urgent_cents,
                 count(*) AS n
          FROM graft_o16_df GROUP BY o_orderstatus"""))
      },
      Some(sql("""
        SELECT o_orderstatus,
               count(DISTINCT o_orderpriority) AS n_prio,
               count(DISTINCT o_orderpriority)
                 FILTER (WHERE o_totalprice > 150000) AS n_prio_big,
               count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
                 AS urgent_cents,
               count(*) AS n
        FROM orders GROUP BY o_orderstatus"""))),

    // golden windowing_expressions in the SQL dialect: lag/lead with
    // explicit defaults, nth_value, and a named WINDOW clause reused by
    // all four — the HiveQL spelling of frames the API rows already pin.
    Q("sql_window_lead_lag",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_o16_ll")
        s.sql(sql("""
          SELECT o_orderkey,
                 CAST(lag(o_orderkey, 1, -1)  OVER w AS BIGINT) AS prev_key,
                 CAST(lead(o_orderkey, 2, -2) OVER w AS BIGINT) AS next2_key,
                 CAST(nth_value(o_orderkey, 3) OVER
                   (PARTITION BY o_orderstatus ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS third_key,
                 CAST(row_number() OVER w AS BIGINT) AS rn
          FROM graft_o16_ll WHERE o_orderkey <= 300
          WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)"""))
      },
      Some(sql("""
        SELECT o_orderkey,
               CAST(lag(o_orderkey, 1, -1)  OVER w AS BIGINT) AS prev_key,
               CAST(lead(o_orderkey, 2, -2) OVER w AS BIGINT) AS next2_key,
               CAST(nth_value(o_orderkey, 3) OVER
                 (PARTITION BY o_orderstatus ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS third_key,
               CAST(row_number() OVER w AS BIGINT) AS rn
        FROM orders WHERE o_orderkey <= 300
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)""")))
  )
}
