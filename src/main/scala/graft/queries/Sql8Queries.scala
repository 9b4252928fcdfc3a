package graft.queries

import graft.Engine.table
import Registry.sql

/** Golden-corpus semantics, wave 8 — more uncrossed families from the
  * reference's golden corpus (sql/hive/compatibility/.../
  * HiveCompatibilitySuite.scala:246 whiteList):
  *
  * - ordinal positions (groupby*_map / order* goldens): GROUP BY 1 and
  *   ORDER BY ordinals must resolve against the SELECT list, not the
  *   underlying table order.
  *
  * - HAVING without GROUP BY (having.q corner): the query becomes a
  *   global aggregate and HAVING filters its single row — a branch
  *   whose predicate fails contributes zero rows, not a null row.
  *
  * - UNION null dedup (union*.q + set-op semantics): UNION (set) must
  *   treat NULL keys as EQUAL when deduplicating across branches —
  *   the opposite of NULL's join/WHERE behavior, and exactly the
  *   three-valued corner sql_not_in_nulls pins from the other side.
  *
  * - aggregate INSIDE a window over a grouped result (windowing.q
  *   family, ptf* goldens): sum(sum(x)) OVER (...) — the inner sum is
  *   the group aggregate, the outer is a running window over the
  *   grouped rows. Resolution order (aggregate first, then window over
  *   the aggregated output) must match, as must the default
  *   RANGE-to-current frame implied by ORDER BY.
  *
  * - STRING-vs-numeric comparison (the filter half of
  *   HiveTypeCoercion.PromoteStrings:230 — sql_join_coerce pinned the
  *   join half): a digit-string column compared against an integer
  *   literal coerces numerically ('000000100' > 75 is true), not
  *   lexicographically ('000000100' < '75' as strings).
  *
  * - correlated scalar subquery in the SELECT list (subq* goldens):
  *   must de-correlate to a left outer aggregate join, NULL for
  *   unmatched outer rows.
  *
  * - INTERSECT/EXCEPT null equality (set-op semantics): NULL keys
  *   compare EQUAL inside set operations.
  *
  * - LIKE … ESCAPE (like* goldens): the escaped '_' is a literal, the
  *   bare '_' a wildcard.
  */
object Sql8Queries {

  val all: Seq[Q] = Seq(

    // GROUP BY + ORDER BY ordinals resolving against the SELECT list.
    Q("sql_ordinals",
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("graft_li8")
        s.sql("""SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   count(*) AS n
                 FROM graft_li8 GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some(sql("""SELECT l_returnflag, l_linestatus,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                    count(*) AS n
                  FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""))),

    // HAVING over a global (ungrouped) aggregate: the passing branch
    // keeps its one row, the failing branch yields ZERO rows (not a
    // null row) — UNION ALL makes both outcomes observable at once.
    Q("sql_having_no_groupby",
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("graft_li8h")
        s.sql("""SELECT 'pass' AS branch,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
                 FROM graft_li8h HAVING count(*) > 10
                 UNION ALL
                 SELECT 'never' AS branch,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
                 FROM graft_li8h HAVING count(*) > 1000000000""")
      },
      Some(sql("""SELECT 'pass' AS branch,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
                  FROM lineitem HAVING count(*) > 10
                  UNION ALL
                  SELECT 'never' AS branch,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
                  FROM lineitem HAVING count(*) > 1000000000"""))),

    // UNION (set) dedups NULL keys as equal: branch A nulls out 'P',
    // branch B nulls out 'O'; the union must contain exactly ONE null
    // row alongside {'F','O','P'} — 4 rows total.
    Q("sql_union_null_dedup",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_ord8")
        s.sql("""SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                        ELSE o_orderstatus END AS st FROM graft_ord8
                 UNION
                 SELECT CASE WHEN o_orderstatus = 'O' THEN NULL
                        ELSE o_orderstatus END AS st FROM graft_ord8""")
      },
      Some(sql("""SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                         ELSE o_orderstatus END AS st FROM orders
                  UNION
                  SELECT CASE WHEN o_orderstatus = 'O' THEN NULL
                         ELSE o_orderstatus END AS st FROM orders"""))),

    // Aggregate nested inside a window over the grouped result:
    // inner sum = per-(flag,status) group aggregate; outer sum = the
    // running total across statuses WITHIN a flag (partitioned — never
    // a single-partition window), under the implicit
    // RANGE UNBOUNDED PRECEDING..CURRENT ROW frame of ORDER BY.
    Q("sql_agg_in_window",
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("graft_li8w")
        s.sql("""SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS grp_qty,
                   CAST(sum(sum(CAST(l_quantity AS BIGINT))) OVER (
                     PARTITION BY l_returnflag ORDER BY l_linestatus)
                     AS BIGINT) AS run_qty
                 FROM graft_li8w GROUP BY l_returnflag, l_linestatus""")
      },
      Some(sql("""SELECT l_returnflag, l_linestatus,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS grp_qty,
                    CAST(sum(sum(CAST(l_quantity AS BIGINT))) OVER (
                      PARTITION BY l_returnflag ORDER BY l_linestatus)
                      AS BIGINT) AS run_qty
                  FROM lineitem GROUP BY l_returnflag, l_linestatus"""))),

    // STRING column vs numeric literal in a FILTER coerces numerically:
    // the digit suffix of c_name ('000000923') compared against an INT
    // threshold — lexicographic comparison would flip the result for
    // values with fewer digits than the literal.
    Q("sql_string_num_filter",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_cust8")
        s.sql("""SELECT c_mktsegment, count(*) AS n,
                   CAST(sum(c_custkey) AS BIGINT) AS key_sum
                 FROM graft_cust8
                 WHERE substr(c_name, 10) > 75
                 GROUP BY c_mktsegment""")
      },
      // DuckDB refuses implicit VARCHAR⋈INT comparison on columns, so
      // the oracle casts explicitly — stating the numeric truth Spark
      // must reach via PromoteStrings-style implicit coercion.
      Some(sql("""SELECT c_mktsegment, count(*) AS n,
                    CAST(sum(c_custkey) AS BIGINT) AS key_sum
                  FROM customer
                  WHERE CAST(substr(c_name, 10) AS INT) > 75
                  GROUP BY c_mktsegment"""))),

    // CORRELATED SCALAR SUBQUERY in the SELECT list (subquery_in/
    // subq* goldens — sql_subqueries covers the WHERE-clause forms):
    // per-customer max order value, NULL-defaulted via coalesce for
    // customers with no orders. Spark must de-correlate this into a
    // left outer aggregate join; max() of doubles is exact (single
    // surviving value), so no rounding is needed.
    Q("sql_scalar_subquery_select",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_cust8s")
        table(s, d, "orders").createOrReplaceTempView("graft_ord8s")
        s.sql("""SELECT c_custkey,
                   coalesce((SELECT max(o_totalprice) FROM graft_ord8s
                             WHERE o_custkey = c_custkey), 0.0) AS max_spend
                 FROM graft_cust8s""")
      },
      Some(sql("""SELECT c_custkey,
                    coalesce((SELECT max(o_totalprice) FROM orders
                              WHERE o_custkey = c_custkey), 0.0) AS max_spend
                  FROM customer"""))),

    // INTERSECT / EXCEPT treat NULL keys as EQUAL (set-op semantics,
    // the companion of sql_union_null_dedup): a-set {NULL,'O','F'} vs
    // b-set {NULL,'P','F'} must intersect to {NULL,'F'} and subtract
    // to {'O'} — NULL survives INTERSECT and is removed by EXCEPT,
    // the opposite of its WHERE/join behavior.
    Q("sql_setop_nulls",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_ord8n")
        s.sql("""WITH a AS (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                              ELSE o_orderstatus END AS st FROM graft_ord8n),
                      b AS (SELECT CASE WHEN o_orderstatus = 'O' THEN NULL
                              ELSE o_orderstatus END AS st FROM graft_ord8n)
                 SELECT 'intersect' AS op, st FROM
                   (SELECT st FROM a INTERSECT SELECT st FROM b)
                 UNION ALL
                 SELECT 'except' AS op, st FROM
                   (SELECT st FROM a EXCEPT SELECT st FROM b)""")
      },
      // MATERIALIZED per the repo's multi-referenced-CTE oracle rule
      Some(sql("""WITH a AS MATERIALIZED (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                              ELSE o_orderstatus END AS st FROM orders),
                       b AS MATERIALIZED (SELECT CASE WHEN o_orderstatus = 'O' THEN NULL
                              ELSE o_orderstatus END AS st FROM orders)
                  SELECT 'intersect' AS op, st FROM
                    (SELECT st FROM a INTERSECT SELECT st FROM b)
                  UNION ALL
                  SELECT 'except' AS op, st FROM
                    (SELECT st FROM a EXCEPT SELECT st FROM b)"""))),

    // LIKE with an ESCAPE clause (like* / udf_like goldens): '#_'
    // matches a LITERAL underscore while bare '_' stays the any-char
    // wildcard — the two counts differ exactly where the wildcard
    // crosses a word boundary it shouldn't.
    Q("sql_like_escape",
      (s, d) => {
        table(s, d, "part").createOrReplaceTempView("graft_part8")
        s.sql("""SELECT
                   CAST(sum(CASE WHEN nm LIKE '%#_r%' ESCAPE '#'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_lit_underscore_r,
                   CAST(sum(CASE WHEN nm LIKE '%_r%'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_wildcard_r,
                   CAST(sum(CASE WHEN nm LIKE 's%#_g%' ESCAPE '#'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_s_then_g
                 FROM (SELECT replace(p_name, ' ', '_') AS nm FROM graft_part8)""")
      },
      Some(sql("""SELECT
                    CAST(sum(CASE WHEN nm LIKE '%#_r%' ESCAPE '#'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_lit_underscore_r,
                    CAST(sum(CASE WHEN nm LIKE '%_r%'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_wildcard_r,
                    CAST(sum(CASE WHEN nm LIKE 's%#_g%' ESCAPE '#'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_s_then_g
                  FROM (SELECT replace(p_name, ' ', '_') AS nm FROM part)"""))),

    // GROUP BY / HAVING referencing a SELECT-list ALIAS (groupby_alias
    // goldens; spark.sql.groupByAliases): the grouping key is the
    // computed alias k, and HAVING filters on the aliased aggregate.
    Q("sql_groupby_alias",
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("graft_li8a")
        s.sql("""SELECT concat(l_returnflag, l_linestatus) AS k,
                   count(*) AS n,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
                 FROM graft_li8a GROUP BY k HAVING n > 100""")
      },
      Some(sql("""SELECT concat(l_returnflag, l_linestatus) AS k,
                    count(*) AS n,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
                  FROM lineitem GROUP BY k HAVING n > 100"""))),

    // ORDER BY an expression ABSENT from the SELECT list, under LIMIT
    // (order* goldens): the sort key is derived, the projection drops
    // it, and the plan must still be a top-k (TakeOrderedAndProject),
    // not a global sort. Unique-key tiebreak keeps the cut exact.
    Q("sql_orderby_expr",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_cust8o")
        s.sql("""SELECT c_custkey, c_acctbal FROM graft_cust8o
                 ORDER BY c_acctbal - CAST(c_custkey AS DOUBLE) DESC, c_custkey
                 LIMIT 20""")
      },
      Some(sql("""SELECT c_custkey, c_acctbal FROM customer
                  ORDER BY c_acctbal - CAST(c_custkey AS DOUBLE) DESC, c_custkey
                  LIMIT 20"""))),

    // stack() generator (the Hive-golden UDTF spelling of unpivot —
    // sql_unpivot pins the ANSI UNPIVOT clause; this pins the
    // generator form): each order emits two (metric, value) rows.
    // DuckDB has no stack(), so the oracle states the same rows as a
    // UNION ALL unpivot.
    Q("sql_stack",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_ord_stk")
        s.sql("""SELECT o_orderkey, metric, round(v, 4) AS v
                 FROM graft_ord_stk
                 LATERAL VIEW stack(2,
                   'price', o_totalprice,
                   'key100', CAST(o_orderkey AS DOUBLE) / 100) t AS metric, v""")
      },
      Some(sql("""SELECT o_orderkey, 'price' AS metric, round(o_totalprice, 4) AS v
                  FROM orders
                  UNION ALL
                  SELECT o_orderkey, 'key100' AS metric,
                    round(CAST(o_orderkey AS DOUBLE) / 100, 4) AS v
                  FROM orders"""))),

    // CACHE LAZY TABLE … AS SELECT (the CachedTableSuite surface —
    // reference sql/.../CachedTableSuite.scala): the SQL spelling of
    // dataset caching. LAZY keeps declaration job-free; the aggregate
    // over the cached derivation must read the InMemoryRelation
    // (PlanSpec pins InMemoryTableScan in this plan).
    Q("sql_cache_table",
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("graft_li_cache")
        // the cached projection stays resident for the session (dropped
        // at the start of the NEXT invocation); the cached_qty alias
        // keeps its subtree from sameResult-matching any other declared
        // plan, so nothing else can silently read this cache
        s.sql("UNCACHE TABLE IF EXISTS graft_cached_li")
        s.sql("DROP VIEW IF EXISTS graft_cached_li") // CACHE … AS SELECT creates a temp view
        s.sql("""CACHE LAZY TABLE graft_cached_li AS
                 SELECT l_returnflag, l_linestatus,
                   CAST(l_quantity AS BIGINT) AS cached_qty
                 FROM graft_li_cache""")
        s.sql("""SELECT l_returnflag, l_linestatus,
                   CAST(sum(cached_qty) AS BIGINT) AS sum_qty
                 FROM graft_cached_li GROUP BY 1, 2""")
      },
      Some(sql("""SELECT l_returnflag, l_linestatus,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
                  FROM lineitem GROUP BY 1, 2"""))),

    // ANALYZE TABLE … COMPUTE STATISTICS (the StatisticsSuite surface):
    // CTAS a managed copy, analyze it, and read the recorded catalog
    // statistics back — rowCount must equal the table's true
    // cardinality and a positive byte size must be recorded. Driver
    // reads K=1 catalog rows (the documented stat-row exception
    // class); the oracle restates the truth from the source table.
    Q("sql_analyze_stats",
      (s, d) => {
        Registry.dropManaged(s, "graft_stats_nation")
        s.sql(sql(s"""CREATE TABLE graft_stats_nation AS
                      SELECT * FROM parquet.`$d/nation.parquet`"""))
        s.sql("ANALYZE TABLE graft_stats_nation COMPUTE STATISTICS")
        val stats = s.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("graft_stats_nation"))
          .stats
        import s.implicits._
        Seq((stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L),
          stats.exists(_.sizeInBytes > 0)))
          .toDF("row_count", "has_size")
      },
      Some(sql("""SELECT CAST(count(*) AS BIGINT) AS row_count, true AS has_size
                  FROM nation"""))),

    // JOIN STRATEGY HINTS beyond BROADCAST (Spark's join-hints golden
    // family; join_broadcast pins the broadcast one): MERGE forces a
    // sort-merge join, SHUFFLE_HASH a shuffled hash join,
    // SHUFFLE_REPLICATE_NL a replicated nested-loop — all three on the
    // same orders⋈customer equi-join, so the RESULTS are
    // hint-invariant (the oracle states each count once) while the
    // STRATEGIES differ (PlanSpec asserts all three operators appear).
    Q("sql_join_hints",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_ord_hint")
        table(s, d, "customer").createOrReplaceTempView("graft_cust_hint")
        s.sql("""SELECT 'merge' AS hint, count(*) AS n FROM (
                   SELECT /*+ MERGE(c) */ c.c_custkey
                   FROM graft_ord_hint o JOIN graft_cust_hint c
                     ON o.o_custkey = c.c_custkey WHERE c.c_acctbal > 0)
                 UNION ALL
                 SELECT 'shuffle_hash' AS hint, count(*) AS n FROM (
                   SELECT /*+ SHUFFLE_HASH(c) */ c.c_custkey
                   FROM graft_ord_hint o JOIN graft_cust_hint c
                     ON o.o_custkey = c.c_custkey WHERE c.c_acctbal > 0)
                 UNION ALL
                 SELECT 'replicate_nl' AS hint, count(*) AS n FROM (
                   SELECT /*+ SHUFFLE_REPLICATE_NL(c) */ c.c_custkey
                   FROM graft_ord_hint o JOIN graft_cust_hint c
                     ON o.o_custkey = c.c_custkey WHERE c.c_acctbal > 0)""")
      },
      Some(sql("""SELECT 'merge' AS hint, count(*) AS n
                  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  WHERE c.c_acctbal > 0
                  UNION ALL
                  SELECT 'shuffle_hash' AS hint, count(*) AS n
                  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  WHERE c.c_acctbal > 0
                  UNION ALL
                  SELECT 'replicate_nl' AS hint, count(*) AS n
                  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  WHERE c.c_acctbal > 0"""))),

    // STRUCT-STAR EXPANSION (nestedstar / semijoin goldens' projection
    // half): st.* unpacks a nested struct's fields into top-level
    // columns through a subquery boundary — resolution must expand the
    // star against the struct schema, not the relation.
    Q("sql_struct_star",
      (s, d) => {
        table(s, d, "nation").createOrReplaceTempView("graft_nat_ss")
        s.sql("""SELECT st.*, extra FROM (
                   SELECT named_struct('nk', n_nationkey, 'nm', n_name) AS st,
                          n_regionkey AS extra
                   FROM graft_nat_ss)""")
      },
      Some(sql("""SELECT n_nationkey AS nk, n_name AS nm, n_regionkey AS extra
                  FROM nation"""))),

    // ORDER BY + LIMIT inside a SUBQUERY feeding an outer aggregate
    // (the subquery-limit goldens): the limit must apply to the SORTED
    // inner result BEFORE the outer sum sees it — a dropped or
    // reordered inner sort/limit changes the answer. Unique-key
    // tiebreak keeps the cut exact.
    Q("sql_subquery_limit",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_cust_sl")
        s.sql("""SELECT count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS key_sum,
                   round(sum(c_acctbal), 4) AS bal_sum
                 FROM (SELECT c_custkey, c_acctbal FROM graft_cust_sl
                       ORDER BY c_acctbal DESC, c_custkey LIMIT 100)""")
      },
      Some(sql("""SELECT count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS key_sum,
                    round(sum(c_acctbal), 4) AS bal_sum
                  FROM (SELECT c_custkey, c_acctbal FROM customer
                        ORDER BY c_acctbal DESC, c_custkey LIMIT 100)""")))
  )
}
