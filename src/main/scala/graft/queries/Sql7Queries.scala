package graft.queries

import graft.Engine.table
import Registry.sql

/** Golden-corpus semantics, wave 7 — surfaces of the engine's SQL
  * dialect no earlier wave crossed:
  *
  * - COLLATION (Spark 4 `COLLATE UTF8_LCASE`): case-insensitive
  *   grouping and equality are a first-class column property, not a
  *   `lower()` rewrite. The reference era had no collation support at
  *   all (strings compared byte-wise everywhere), so this is a declared
  *   extension; the oracle pins the semantics with the `lower()`
  *   rewrite DuckDB needs.
  *
  * - named WINDOW clause (the golden `windowing.q` family shape): one
  *   WINDOW definition shared by several window functions, plus a
  *   second and third named spec in the same SELECT — resolution, not
  *   the window algebra itself (WindowQueries covers that).
  *
  * - GROUP BY ALL + ORDER BY ALL (Spark ≥3.5 / DuckDB dialect
  *   convergence): every non-aggregate column groups, every output
  *   column orders, LIMIT applies after — deterministic because the
  *   ordering covers the full row.
  *
  * - IDENTIFIER clause (Spark 4): table AND column names supplied as
  *   constant strings, resolved at analysis time — the safe
  *   parameterized-identifier surface (no SQL injection through
  *   concatenation).
  *
  * - ANSI interval types: timestamp subtraction yields a DAY-TO-SECOND
  *   interval, `make_ym_interval` a YEAR-TO-MONTH one; both support
  *   EXTRACT and date arithmetic with end-of-month clamping. The
  *   reference (Spark 1.3) had CalendarIntervalType only as an
  *   unexposed internal — declared extension, DuckDB INTERVAL oracle.
  */
object Sql7Queries {

  val all: Seq[Q] = Seq(

    // Case-insensitive grouping + equality via a real collation. The
    // fixture doubles nation with its lower-cased twin, so every
    // case-insensitive group must hold exactly two rows, and the
    // mixed-case equality probe must match both casings of ALGERIA.
    Q("sql_collation",
      (s, d) => {
        table(s, d, "nation").createOrReplaceTempView("graft_n7")
        s.sql(sql("""
          WITH v AS (SELECT n_name AS nm, n_nationkey AS k FROM graft_n7
                     UNION ALL
                     SELECT lower(n_name), n_nationkey + 100 FROM graft_n7)
          SELECT lower(min(nm)) AS name_ci, count(*) AS n,
                 CAST(sum(CASE WHEN collate(nm, 'UTF8_LCASE') = 'aLgErIa'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_eq_mixed,
                 CAST(sum(k) AS BIGINT) AS sum_keys
          FROM v GROUP BY collate(nm, 'UTF8_LCASE')"""))
      },
      Some(sql("""
        WITH v AS (SELECT n_name AS nm, n_nationkey AS k FROM nation
                   UNION ALL
                   SELECT lower(n_name), n_nationkey + 100 FROM nation)
        SELECT lower(min(nm)) AS name_ci, count(*) AS n,
               CAST(sum(CASE WHEN lower(nm) = 'algeria'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_eq_mixed,
               CAST(sum(k) AS BIGINT) AS sum_keys
        FROM v GROUP BY lower(nm)"""))),

    // Named WINDOW clause: w reused by a running sum AND a lag, w2 a
    // second ordering, w3 an unordered partition count — all in one
    // SELECT, per the golden windowing family.
    Q("sql_named_window",
      (s, d) => {
        graft.Engine.events(s, d).createOrReplaceTempView("graft_e7")
        s.sql(sql("""
          SELECT user_id, event_id,
                 round(sum(value) OVER w, 6) AS run_val,
                 CAST(rank() OVER w2 AS BIGINT) AS rk_val,
                 lag(event_id) OVER w AS prev_id,
                 count(*) OVER w3 AS n_type
          FROM graft_e7
          WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
                 w2 AS (PARTITION BY user_id ORDER BY value DESC, event_id),
                 w3 AS (PARTITION BY user_id, event_type)"""))
      },
      Some(sql("""
        SELECT user_id, event_id,
               round(sum(value) OVER w, 6) AS run_val,
               CAST(rank() OVER w2 AS BIGINT) AS rk_val,
               lag(event_id) OVER w AS prev_id,
               count(*) OVER w3 AS n_type
        FROM events
        WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
               w2 AS (PARTITION BY user_id ORDER BY value DESC, event_id),
               w3 AS (PARTITION BY user_id, event_type)"""))),

    // GROUP BY ALL + ORDER BY ALL + LIMIT: the ordering covers the
    // group keys, so the LIMIT window is fully deterministic.
    Q("sql_order_by_all",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_o7")
        s.sql(sql("""
          SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                 round(avg(o_totalprice), 4) AS avg_price
          FROM graft_o7 GROUP BY ALL ORDER BY ALL LIMIT 10"""))
      },
      Some(sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders GROUP BY ALL ORDER BY ALL LIMIT 10"""))),

    // IDENTIFIER clause on the table, the grouping column, and the
    // aggregated column — all constant strings resolved at analysis.
    Q("sql_identifier_clause",
      (s, d) => {
        table(s, d, "supplier").createOrReplaceTempView("graft_s7")
        s.sql(sql("""
          SELECT IDENTIFIER('s_nationkey') AS nk, count(*) AS n,
                 round(sum(IDENTIFIER('s_acctbal')), 4) AS bal
          FROM IDENTIFIER('graft_s7')
          GROUP BY IDENTIFIER('s_nationkey')"""))
      },
      Some(sql("""SELECT s_nationkey AS nk, count(*) AS n,
                    round(sum(s_acctbal), 4) AS bal
                  FROM supplier GROUP BY s_nationkey"""))),

    // Session isolation (the reference's SQLContext.newSession contract,
    // SQLContext.scala — separate temp-table namespaces over a shared
    // catalog): a LOCAL temp view is invisible from a new session, a
    // GLOBAL temp view crosses sessions via the global_temp database.
    // Emitted as a bounded truth table (the stat-row pattern: the
    // capability IS driver-side catalog behavior, so declaration probes
    // the four visibility cells).
    Q("sql_session_isolation",
      (s, d) => {
        s.sql("CREATE OR REPLACE TEMP VIEW graft_iso_tv AS SELECT 1 AS x")
        s.sql("CREATE OR REPLACE GLOBAL TEMP VIEW graft_iso_gv AS SELECT 2 AS x")
        val s2 = s.newSession()
        def visible(sp: org.apache.spark.sql.SparkSession, t: String): Boolean =
          try { sp.sql(s"SELECT * FROM $t").collect(); true }
          catch { case _: org.apache.spark.sql.AnalysisException => false }
        import s.implicits._
        Seq(
          ("temp_view_same_session", visible(s, "graft_iso_tv")),
          ("temp_view_new_session", visible(s2, "graft_iso_tv")),
          ("global_view_same_session", visible(s, "global_temp.graft_iso_gv")),
          ("global_view_new_session", visible(s2, "global_temp.graft_iso_gv")))
          .toDF("surface", "visible")
      },
      Some(sql("""
        SELECT surface, visible FROM (VALUES
          ('temp_view_same_session',   true),
          ('temp_view_new_session',    false),
          ('global_view_same_session', true),
          ('global_view_new_session',  true)
        ) AS t(surface, visible)"""))),

    // Quoted-identifier resolution (golden quote*/keyword families):
    // column names with an embedded space, a DOT (which must NOT parse
    // as a struct access when backtick-quoted), a reserved keyword, and
    // an escaped backtick — all resolvable through a view and an
    // aggregate. DuckDB double-quotes the same names.
    Q("sql_quoted_idents",
      (s, d) => {
        s.sql(sql("""CREATE OR REPLACE TEMP VIEW graft_q7 AS
          SELECT n_nationkey AS `key col`, n_name AS `n.name`,
                 n_regionkey AS `select`, upper(n_name) AS `tick``col`
          FROM parquet.`""" + d + "/nation.parquet`"))
        s.sql(sql("""
          SELECT `select` AS rk, count(*) AS n,
                 CAST(sum(`key col`) AS BIGINT) AS sum_keys,
                 min(`n.name`) AS first_name,
                 max(length(`tick``col`)) AS max_tick_len
          FROM graft_q7 GROUP BY `select`"""))
      },
      Some(sql("""
        SELECT n_regionkey AS rk, count(*) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS sum_keys,
               min(n_name) AS first_name,
               CAST(max(length(upper(n_name))) AS INT) AS max_tick_len
        FROM nation GROUP BY n_regionkey"""))),

    // Catalog DDL lifecycle (the golden alter*/describe*/stats
    // families) through the real Hive catalog: rows inserted BEFORE an
    // ALTER TABLE ADD COLUMNS must read back with NULL in the new
    // column (parquet schema evolution), table properties round-trip,
    // ANALYZE TABLE feeds the row count into DESCRIBE EXTENDED
    // statistics, and DESCRIBE's column section reflects the final
    // schema. All of it re-emitted AS DATA (section, k, v) so the
    // oracle pins catalog METADATA, not just query results.
    Q("sql_catalog_ddl",
      (s, d) => {
        Registry.dropManaged(s, "graft_ddl_t")
        s.sql("CREATE TABLE graft_ddl_t (a INT, b STRING) USING parquet")
        s.sql("INSERT INTO graft_ddl_t VALUES (1, 'x'), (2, 'y')")
        s.sql("ALTER TABLE graft_ddl_t ADD COLUMNS (c DOUBLE)")
        s.sql("INSERT INTO graft_ddl_t VALUES (3, 'z', 2.5)")
        s.sql("ALTER TABLE graft_ddl_t SET TBLPROPERTIES ('graft.note' = 'r8')")
        s.sql("ANALYZE TABLE graft_ddl_t COMPUTE STATISTICS")
        import org.apache.spark.sql.functions._
        val cols = s.sql("DESCRIBE TABLE graft_ddl_t")
          .filter(col("col_name").isin("a", "b", "c"))
          .select(lit("col").as("section"), col("col_name").as("k"),
            col("data_type").as("v"))
        val prop = s.sql("SHOW TBLPROPERTIES graft_ddl_t")
          .filter(col("key") === "graft.note")
          .select(lit("prop").as("section"), col("key").as("k"),
            col("value").as("v"))
        val stat = s.sql("DESCRIBE TABLE EXTENDED graft_ddl_t")
          .filter(col("col_name") === "Statistics")
          .select(lit("stat").as("section"), lit("rowCount").as("k"),
            regexp_extract(col("data_type"), "(\\d+) rows", 1).as("v"))
        val data = s.table("graft_ddl_t")
          .select(lit("data").as("section"), col("a").cast("string").as("k"),
            concat(col("b"), lit("|"),
              coalesce(col("c").cast("string"), lit("NULL"))).as("v"))
        cols.unionAll(prop).unionAll(stat).unionAll(data)
      },
      Some(sql("""
        SELECT section, k, v FROM (VALUES
          ('col',  'a', 'int'),
          ('col',  'b', 'string'),
          ('col',  'c', 'double'),
          ('prop', 'graft.note', 'r8'),
          ('stat', 'rowCount', '3'),
          ('data', '1', 'x|NULL'),
          ('data', '2', 'y|NULL'),
          ('data', '3', 'z|2.5')
        ) AS t(section, k, v)"""))),

    // CHAR(n)/VARCHAR(n) semantics (the golden char_*/varchar_*
    // families): CHAR reads back BLANK-PADDED to its declared length
    // (read-side padding), VARCHAR preserves the stored length, and
    // both survive concat un-trimmed. DuckDB's CHAR is a plain VARCHAR
    // alias, so the oracle hand-writes the padded truth — pinning the
    // ENGINE's defined padding behavior, not an oracle recomputation.
    Q("sql_char_padding",
      (s, d) => {
        Registry.dropManaged(s, "graft_char_t")
        s.sql("CREATE TABLE graft_char_t (id INT, c CHAR(6), v VARCHAR(6)) USING parquet")
        s.sql("INSERT INTO graft_char_t VALUES (1, 'abc', 'abc'), (2, 'abcdef', 'abcdef')")
        s.sql(sql("""
          SELECT id,
                 CAST(length(c) AS BIGINT) AS len_c,
                 CAST(length(v) AS BIGINT) AS len_v,
                 concat(c, '|') AS c_pipe,
                 concat(v, '|') AS v_pipe,
                 (c = 'abc') AS eq_c,
                 (v = 'abc') AS eq_v
          FROM graft_char_t"""))
      },
      // rpad, not a literal: Registry.sql collapses whitespace runs, so
      // a padded string constant cannot survive in oracle SQL text
      Some(sql("""
        SELECT id, len_c, len_v, rpad(cbase, 6, ' ') || '|' AS c_pipe,
               v_pipe, eq_c, eq_v FROM (VALUES
          (1, CAST(6 AS BIGINT), CAST(3 AS BIGINT), 'abc', 'abc|', true,  true),
          (2, CAST(6 AS BIGINT), CAST(6 AS BIGINT), 'abcdef', 'abcdef|', false, false)
        ) AS t(id, len_c, len_v, cbase, v_pipe, eq_c, eq_v)"""))),

    // ANSI intervals: per-user event span as DAY-TO-SECOND (EXTRACT of
    // every component), a YEAR-TO-MONTH built from months with the
    // >12-month carry (26 months ⇒ 2-2), and DATE + year-month
    // arithmetic hitting the end-of-month clamp (Jan 31 + months).
    Q("expr_interval_types",
      (s, d) => {
        graft.Engine.events(s, d).createOrReplaceTempView("graft_ev7")
        s.sql(sql("""
          WITH spans AS (SELECT user_id, max(ts) - min(ts) AS dt
                         FROM graft_ev7 GROUP BY user_id)
          SELECT user_id,
                 CAST(extract(DAY FROM dt) AS BIGINT) AS d_days,
                 CAST(extract(HOUR FROM dt) AS BIGINT) AS d_hours,
                 CAST(extract(MINUTE FROM dt) AS BIGINT) AS d_mins,
                 CAST(extract(SECOND FROM dt) AS BIGINT) AS d_secs,
                 CAST(extract(YEAR FROM
                   make_ym_interval(0, CAST(user_id % 26 + 1 AS INT))) AS BIGINT) AS ym_years,
                 CAST(extract(MONTH FROM
                   make_ym_interval(0, CAST(user_id % 26 + 1 AS INT))) AS BIGINT) AS ym_months,
                 CAST(DATE '2020-01-31' +
                   make_ym_interval(0, CAST(user_id % 26 + 1 AS INT)) AS DATE) AS base_plus_ym
          FROM spans"""))
      },
      Some(sql("""
        WITH spans AS (SELECT user_id, max(ts) - min(ts) AS dt
                       FROM events GROUP BY user_id)
        SELECT user_id,
               CAST(extract(day FROM dt) AS BIGINT) AS d_days,
               CAST(extract(hour FROM dt) AS BIGINT) AS d_hours,
               CAST(extract(minute FROM dt) AS BIGINT) AS d_mins,
               CAST(extract(second FROM dt) AS BIGINT) AS d_secs,
               CAST(extract(year FROM
                 to_months(CAST(user_id % 26 + 1 AS INTEGER))) AS BIGINT) AS ym_years,
               CAST(extract(month FROM
                 to_months(CAST(user_id % 26 + 1 AS INTEGER))) AS BIGINT) AS ym_months,
               CAST(DATE '2020-01-31' +
                 to_months(CAST(user_id % 26 + 1 AS INTEGER)) AS DATE) AS base_plus_ym
        FROM spans""")))
  )
}
