package graft.queries

import graft.Engine.table
import Registry.sql

/** Golden-corpus semantics, wave 6 — from the reference's 7,448-file
  * golden corpus (sql/hive/compatibility/.../HiveCompatibilitySuite
  * .scala:246 whiteList):
  *
  * - create_view* family: CREATE VIEW with a column-alias list, a view
  *   DEFINED OVER another view (nested resolution), and alias
  *   re-resolution through both layers — run through the real
  *   HiveExternalCatalog the repo already hosts (persistent views, not
  *   temp views), so the catalog round-trips the view text and the
  *   analyzer re-resolves it on read.
  *
  * - SortOrder family: ORDER BY ASC/DESC × NULLS FIRST/LAST × LIMIT.
  *   The reference could not express explicit null ordering (SURVEY
  *   §2.6 gap — SortOrder had no null-placement field; Spark 4 can),
  *   so this is a declared extension: every branch pins the
  *   null-placement + limit interplay against the DuckDB ANSI answer,
  *   including the non-default combinations (ASC NULLS LAST,
  *   DESC NULLS FIRST). Each branch is a sorted LIMIT — the
  *   TakeOrderedAndProject shape, never a global sort.
  *
  * - join coercion family (the other half of the ppd/join* goldens):
  *   equi-join keys of MISMATCHED types — INT ⋈ DECIMAL(12,2) and
  *   STRING ⋈ BIGINT — must coerce to a common comparison type before
  *   matching (HiveTypeCoercion.PromoteStrings:230 in the reference
  *   cast the string side for comparisons; Spark widens both sides).
  *   Keys are small integers, exactly representable under every
  *   widening choice, so both engines must agree on the matched
  *   cardinality and key sums.
  */
object Sql6Queries {

  val all: Seq[Q] = Seq(

    // Nested persistent views through the Hive catalog: v1 renames via
    // a column-alias list, v2 aggregates v1 joined to a second base
    // table. Reading v2 forces nested view resolution + alias
    // re-mapping through the catalog-stored view text.
    Q("sql_view_nested",
      (s, d) => {
        s.sql("DROP VIEW IF EXISTS graft_v2")
        s.sql("DROP VIEW IF EXISTS graft_v1")
        s.sql(sql(s"""CREATE VIEW graft_v1 (nk, nname, rk) AS
          SELECT n_nationkey, n_name, n_regionkey
          FROM parquet.`$d/nation.parquet`"""))
        s.sql(sql(s"""CREATE VIEW graft_v2 AS
          SELECT r.r_name AS region_name, count(*) AS n_nations,
                 min(v.nname) AS first_nation
          FROM graft_v1 v JOIN parquet.`$d/region.parquet` r
            ON v.rk = r.r_regionkey
          GROUP BY r.r_name"""))
        s.sql("SELECT * FROM graft_v2")
      },
      Some(sql("""SELECT r_name AS region_name, count(*) AS n_nations,
                    min(n_name) AS first_nation
                  FROM nation JOIN region ON n_regionkey = r_regionkey
                  GROUP BY r_name"""))),

    // ORDER BY null placement × LIMIT: deterministic NULLs injected on
    // a key pattern; four flavors cover the full ASC/DESC ×
    // FIRST/LAST grid (two of them Spark's defaults, two inverted),
    // each under its own LIMIT with a unique-key tiebreak.
    Q("sql_order_nulls_limit",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_c6")
        s.sql(sql("""
          WITH t AS (SELECT c_custkey,
                       CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
                     FROM graft_c6)
          SELECT * FROM (
            (SELECT 'asc_nulls_first' AS flavor, c_custkey, bal FROM t
             ORDER BY bal ASC NULLS FIRST, c_custkey LIMIT 20)
            UNION ALL
            (SELECT 'asc_nulls_last' AS flavor, c_custkey, bal FROM t
             ORDER BY bal ASC NULLS LAST, c_custkey LIMIT 20)
            UNION ALL
            (SELECT 'desc_nulls_first' AS flavor, c_custkey, bal FROM t
             ORDER BY bal DESC NULLS FIRST, c_custkey LIMIT 20)
            UNION ALL
            (SELECT 'desc_nulls_last' AS flavor, c_custkey, bal FROM t
             ORDER BY bal DESC NULLS LAST, c_custkey LIMIT 20)
          ) u"""))
      },
      Some(sql("""
        WITH t AS (SELECT c_custkey,
                     CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
                   FROM customer)
        SELECT * FROM (
          (SELECT 'asc_nulls_first' AS flavor, c_custkey, bal FROM t
           ORDER BY bal ASC NULLS FIRST, c_custkey LIMIT 20)
          UNION ALL
          (SELECT 'asc_nulls_last' AS flavor, c_custkey, bal FROM t
           ORDER BY bal ASC NULLS LAST, c_custkey LIMIT 20)
          UNION ALL
          (SELECT 'desc_nulls_first' AS flavor, c_custkey, bal FROM t
           ORDER BY bal DESC NULLS FIRST, c_custkey LIMIT 20)
          UNION ALL
          (SELECT 'desc_nulls_last' AS flavor, c_custkey, bal FROM t
           ORDER BY bal DESC NULLS LAST, c_custkey LIMIT 20)
        ) u"""))),

    // Mixed-type equi-join keys: INT ⋈ DECIMAL(12,2) and STRING ⋈
    // BIGINT. Aggregated to (count, key-sum) per family so the oracle
    // pins the matched cardinality, not engine-specific row order.
    // The Spark side exercises implicit PromoteStrings (STRING key cast
    // to BIGINT); the ORACLE spells that cast explicitly — DuckDB's
    // implicit VARCHAR↔integer coercion differs by context (see
    // sql_string_num_filter: a VARCHAR column vs an int literal in a
    // filter is a Binder Error), so the oracle never relies on it.
    Q("sql_join_coerce",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_c6j")
        table(s, d, "orders").createOrReplaceTempView("graft_o6j")
        s.sql(sql("""
          SELECT 'int_x_decimal' AS family, count(*) AS n_rows,
                 CAST(sum(o.o_orderkey) AS BIGINT) AS sum_keys
          FROM (SELECT CAST(c_custkey AS INT) AS k FROM graft_c6j) c
          JOIN (SELECT CAST(o_custkey AS DECIMAL(12,2)) AS k, o_orderkey
                FROM graft_o6j) o ON c.k = o.k
          UNION ALL
          SELECT 'string_x_bigint', count(*), CAST(sum(o.o_orderkey) AS BIGINT)
          FROM (SELECT CAST(c_custkey AS STRING) AS k FROM graft_c6j) c
          JOIN (SELECT o_custkey AS k, o_orderkey FROM graft_o6j) o
            ON c.k = o.k"""))
      },
      Some(sql("""
        SELECT 'int_x_decimal' AS family, count(*) AS n_rows,
               CAST(sum(o.o_orderkey) AS BIGINT) AS sum_keys
        FROM (SELECT CAST(c_custkey AS INT) AS k FROM customer) c
        JOIN (SELECT CAST(o_custkey AS DECIMAL(12,2)) AS k, o_orderkey
              FROM orders) o ON c.k = o.k
        UNION ALL
        SELECT 'string_x_bigint', count(*), CAST(sum(o.o_orderkey) AS BIGINT)
        FROM (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer) c
        JOIN (SELECT o_custkey AS k, o_orderkey FROM orders) o
          ON CAST(c.k AS BIGINT) = o.k""")))
  )
}
