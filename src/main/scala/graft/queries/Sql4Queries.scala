package graft.queries

import graft.Engine.table
import Registry.{dropManaged, sql, withConfs}

/** Modern SQL dialect surface, wave 4 — the Spark 4 features a user
  * migrating OFF the reference's 1.3-era dialect gains for free, each
  * paired with a DuckDB-recomputable oracle:
  *
  *  - session variables + EXECUTE IMMEDIATE (dynamic SQL with named
  *    parameter binding — the JDBC-era string-splicing killer);
  *  - SQL-defined scalar functions (CREATE FUNCTION ... RETURN expr —
  *    UDFs that live in the catalog and stay fully codegen'd, no JVM
  *    closure);
  *  - column DEFAULT values honored by INSERT column lists.
  */
object Sql4Queries {

  val all: Seq[Q] = Seq(

    // Session variables + EXECUTE IMMEDIATE: the threshold and segment
    // live in DECLAREd variables, the query text is a string with NAMED
    // parameter markers, and USING binds variables to markers — fully
    // parameterized dynamic SQL.
    Q("sql_exec_immediate",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_cust_ei")
        s.sql("DECLARE OR REPLACE VARIABLE graft_seg STRING DEFAULT 'BUILDING'")
        s.sql("DECLARE OR REPLACE VARIABLE graft_bal DOUBLE DEFAULT 1000.0")
        s.sql(sql("""EXECUTE IMMEDIATE
                       'SELECT c_nationkey, count(*) AS n,
                          round(sum(c_acctbal), 4) AS total
                        FROM graft_cust_ei
                        WHERE c_mktsegment = :seg AND c_acctbal > :bal
                        GROUP BY c_nationkey'
                     USING graft_seg AS seg, graft_bal AS bal"""))
      },
      Some(sql("""SELECT c_nationkey, count(*) AS n,
                    round(sum(c_acctbal), 4) AS total
                  FROM customer
                  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
                  GROUP BY c_nationkey"""))),

    // SQL-defined scalar function (CREATE FUNCTION ... RETURN expr): the
    // catalog-resident, closure-free UDF — revenue math declared ONCE in
    // SQL and inlined by the optimizer into whole-stage codegen at every
    // call site (unlike a JVM closure UDF, which is an opaque black box
    // to Catalyst at any scale).
    Q("sql_declarative_udf",
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("graft_li_sqludf")
        s.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_sql_revenue")
        s.sql(sql("""CREATE TEMPORARY FUNCTION graft_sql_revenue(
                       price DOUBLE, discount DOUBLE, tax DOUBLE)
                     RETURNS DOUBLE
                     RETURN price * (1.0 - discount) * (1.0 + tax)"""))
        s.sql(sql("""SELECT l_returnflag, count(*) AS n,
                       round(sum(graft_sql_revenue(l_extendedprice, l_discount, l_tax)), 2)
                         AS revenue
                     FROM graft_li_sqludf
                     WHERE l_shipdate < '1996-01-01'
                     GROUP BY l_returnflag"""))
      },
      Some(sql("""SELECT l_returnflag, count(*) AS n,
                    round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2)
                      AS revenue
                  FROM lineitem
                  WHERE l_shipdate < '1996-01-01'
                  GROUP BY l_returnflag"""))),

    // Column DEFAULT values: rows inserted through a partial column list
    // pick up declared defaults; read-back proves both the explicit and
    // the defaulted values.
    Q("sql_default_columns",
      (s, d) => {
        table(s, d, "nation").createOrReplaceTempView("graft_nat_def")
        dropManaged(s, "graft_def_tbl")
        s.sql(sql("""CREATE TABLE graft_def_tbl (
                       n_name STRING,
                       grade STRING DEFAULT 'UNRATED',
                       score BIGINT DEFAULT 0)
                     USING parquet"""))
        s.sql(sql("""INSERT INTO graft_def_tbl (n_name)
                     SELECT n_name FROM graft_nat_def WHERE n_regionkey = 0"""))
        s.sql(sql("""INSERT INTO graft_def_tbl (n_name, grade, score)
                     SELECT n_name, 'RATED', n_nationkey
                     FROM graft_nat_def WHERE n_regionkey = 1"""))
        s.sql("SELECT n_name, grade, score FROM graft_def_tbl")
      },
      Some(sql("""SELECT n_name, 'UNRATED' AS grade, CAST(0 AS BIGINT) AS score
                  FROM nation WHERE n_regionkey = 0
                  UNION ALL
                  SELECT n_name, 'RATED', n_nationkey
                  FROM nation WHERE n_regionkey = 1"""))),

    // SQL scripting (Spark 4 BEGIN...END compound statements): a WHILE
    // loop doubles a price threshold three times, accumulating the count
    // of orders above each successive threshold — control flow and
    // mutable script variables in PURE SQL, no driver-side loop. The
    // oracle unrolls the three iterations arithmetically.
    Q("sql_scripting_while",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_ord_script")
        withConfs(s, Map("spark.sql.scripting.enabled" -> "true")) {
          s.sql(sql("""BEGIN
                         DECLARE i INT DEFAULT 0;
                         DECLARE thr DOUBLE DEFAULT 100000.0;
                         DECLARE acc BIGINT DEFAULT 0;
                         WHILE i < 3 DO
                           SET acc = acc + (SELECT count(*) FROM graft_ord_script
                                            WHERE o_totalprice > thr);
                           SET thr = thr * 2.0;
                           SET i = i + 1;
                         END WHILE;
                         SELECT acc AS n_above_cum, thr AS final_thr;
                       END"""))
        }
      },
      Some(sql("""SELECT CAST(
                      (SELECT count(*) FROM orders WHERE o_totalprice > 100000.0)
                    + (SELECT count(*) FROM orders WHERE o_totalprice > 200000.0)
                    + (SELECT count(*) FROM orders WHERE o_totalprice > 400000.0)
                    AS BIGINT) AS n_above_cum,
                    CAST(800000.0 AS DOUBLE) AS final_thr"""))),

    // SQL scripting FOR loop: a cursor over an ordered query with the
    // row variable referenced field-wise — the row-by-row procedural
    // surface next to sql_scripting_while's counter loop. The oracle
    // restates the fold with an ordered string_agg.
    Q("sql_scripting_for",
      (s, d) => {
        table(s, d, "region").createOrReplaceTempView("graft_region_script")
        withConfs(s, Map("spark.sql.scripting.enabled" -> "true")) {
          s.sql(sql("""BEGIN
                         DECLARE total BIGINT DEFAULT 0;
                         DECLARE names STRING DEFAULT '';
                         FOR r AS SELECT r_regionkey AS k, r_name AS nm
                                  FROM graft_region_script ORDER BY r_regionkey DO
                           SET total = total + r.k;
                           SET names = concat(names, '|', r.nm);
                         END FOR;
                         SELECT total AS key_sum, names AS name_chain;
                       END"""))
        }
      },
      Some(sql("""SELECT CAST(sum(r_regionkey) AS BIGINT) AS key_sum,
                    '|' || string_agg(r_name, '|' ORDER BY r_regionkey) AS name_chain
                  FROM region""")))
  )
}
