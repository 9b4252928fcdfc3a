package graft.queries

import graft.Engine.table
import org.apache.spark.sql.functions._
import Registry.{sql, withConfs}

/** Round-9 SQL wave 12 — dialect predicates and feature-engineering
  * SQL the earlier waves didn't cross. */
object Sql12Queries {

  val all: Seq[Q] = Seq(

    // IS [NOT] DISTINCT FROM — the null-safe comparison SPELLING (the
    // DSL's <=> is pinned by join_null_safe; this is the ANSI SQL
    // surface): the full 2×2 null grid, next to the plain `=` whose
    // NULL result motivates the operator.
    Q("sql_is_distinct_from",
      (s, _) => s.sql(sql("""
        SELECT a, b,
               a IS DISTINCT FROM b AS dist,
               a IS NOT DISTINCT FROM b AS not_dist,
               (a = b) IS NULL AS eq_is_null
        FROM VALUES (1, 1), (1, 2), (1, CAST(NULL AS INT)),
                    (CAST(NULL AS INT), CAST(NULL AS INT)) AS t(a, b)""")),
      Some(sql("""SELECT a, b,
                    a IS DISTINCT FROM b AS dist,
                    a IS NOT DISTINCT FROM b AS not_dist,
                    (a = b) IS NULL AS eq_is_null
                  FROM (VALUES (1, 1), (1, 2), (1, CAST(NULL AS INT)),
                               (CAST(NULL AS INT), CAST(NULL AS INT))) AS t(a, b)"""))),

    // SMOOTHED TARGET ENCODING — the leak-prone categorical feature a
    // training pipeline must compute IN SQL over the full history:
    // enc(cat) = (pos(cat) + α·prior) / (n(cat) + α), shrinking rare
    // categories toward the global rate. One grouped aggregate plus a
    // broadcast 1-row prior; integer micro-scaled output so the
    // double division is pinned to a floor, not a float compare.
    Q("ml_target_encoding",
      (s, d) => {
        val prior = table(s, d, "orders").agg(
          (sum(when(col("o_orderstatus") === lit("F"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("prior"))
        table(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderstatus") === lit("F"), 1L).otherwise(0L)).as("np"))
          .crossJoin(broadcast(prior))
          .select(col("o_orderpriority"), col("n"), col("np"),
            expr("""CAST(floor(CAST(1000000.0 AS DOUBLE) * (np + 10.0 * prior)
                    / (n + 10)) AS BIGINT)""").as("enc_micro"))
      },
      Some(sql("""WITH p AS (SELECT CAST(sum(CASE WHEN o_orderstatus = 'F'
                                 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS prior
                            FROM orders),
                  g AS (SELECT o_orderpriority, count(*) AS n,
                          CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                            AS BIGINT) AS np
                        FROM orders GROUP BY o_orderpriority)
                  SELECT o_orderpriority, n, np,
                    CAST(floor(CAST(1000000.0 AS DOUBLE) * (np + 10.0 * prior)
                      / (n + 10)) AS BIGINT) AS enc_micro
                  FROM g CROSS JOIN p"""))),

    // COST-BASED OPTIMIZER: STATS-DRIVEN BROADCAST — at 100 TB the
    // size-only estimate of a filtered dimension is the FULL table
    // footprint, so a selective dim join plans as a shuffle join; with
    // ANALYZE column statistics + spark.sql.cbo.enabled, Catalyst's
    // FilterEstimation shrinks the estimate (measured here: 219 KB →
    // 8 KB for o_orderkey < 100) and the STATIC plan broadcasts — no
    // AQE rescue needed, the exchange is never planned at all. Both
    // modes' join choices are read off the static plans and pinned BY
    // THE ORACLE ('SMJ' off, 'BHJ' on); eager + conf-bracketed like
    // the other optimizer-mode rows, output bounded at one row.
    Q("sql_cbo_stats_broadcast",
      (s, d) => {
        val sq = s; import sq.implicits._
        Registry.dropManaged(s, "graft_cbo_orders")
        table(s, d, "orders").write.saveAsTable("graft_cbo_orders")
        s.sql("ANALYZE TABLE graft_cbo_orders COMPUTE STATISTICS FOR COLUMNS o_orderkey")
        // joinKind flips cbo.enabled inside the scope; both keys restore
        withConfs(s, Map("spark.sql.autoBroadcastJoinThreshold" -> "8k",
            "spark.sql.cbo.enabled" -> "false")) {
          def query = table(s, d, "lineitem")
            .join(s.table("graft_cbo_orders").filter(col("o_orderkey") < 100),
              col("l_orderkey") === col("o_orderkey"))
            .agg(count(lit(1)).as("n"),
              round(sum(col("l_extendedprice")), 2).as("revenue"))
          def joinKind(cbo: Boolean): String = {
            s.conf.set("spark.sql.cbo.enabled", cbo.toString)
            val p = query.queryExecution.sparkPlan.toString
            if (p.contains("BroadcastHashJoin")) "BHJ"
            else if (p.contains("SortMergeJoin")) "SMJ" else "other"
          }
          val off = joinKind(cbo = false)
          val on = joinKind(cbo = true)
          val r = query.collect()(0)
          Seq((r.getLong(0), r.getDouble(1), off, on))
            .toDF("n", "revenue", "cbo_off_join", "cbo_on_join")
        }
      },
      Some(sql("""SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS revenue,
                    'SMJ' AS cbo_off_join, 'BHJ' AS cbo_on_join
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  WHERE o_orderkey < 100"""))),

    // INSERT INTO ... BY NAME (Spark 4 DDL): the writer matches columns
    // by NAME, not position — a reordered SELECT lands correctly, the
    // schema-evolution-friendly insert a wide-table pipeline needs.
    // Position-based insert of the same reordered SELECT is run too and
    // pinned as the transposed (wrong) row — the hazard BY NAME removes.
    Q("sql_insert_by_name",
      (s, _) => {
        Registry.dropManaged(s, "graft_byname")
        s.sql("CREATE TABLE graft_byname (a BIGINT, b STRING, c BIGINT) USING parquet")
        s.sql("""INSERT INTO graft_byname BY NAME
                 SELECT CAST(7 AS BIGINT) AS c, 'x' AS b, CAST(1 AS BIGINT) AS a""")
        s.sql("""INSERT INTO graft_byname
                 SELECT CAST(7 AS BIGINT) AS c, 'x' AS b, CAST(1 AS BIGINT) AS a""")
        s.sql("""SELECT a, b, c,
                   CASE WHEN a = 1 THEN 'by_name' ELSE 'positional' END AS variant
                 FROM graft_byname""")
      },
      Some(sql("""SELECT a, b, c, variant FROM (VALUES
                    (CAST(1 AS BIGINT), 'x', CAST(7 AS BIGINT), 'by_name'),
                    (CAST(7 AS BIGINT), 'x', CAST(1 AS BIGINT), 'positional')
                  ) AS t(a, b, c, variant)"""))),

    // DESCRIBE QUERY: the schema a statement WOULD produce, without
    // running it — (col_name, data_type) pinned for a projection mixing
    // arithmetic widening, aggregates, and literals.
    Q("sql_describe_query",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_dq_orders")
        s.sql("""DESCRIBE QUERY
                 SELECT o_orderkey + 1 AS next_key, avg(o_totalprice) AS avg_price,
                        'tag' AS tag
                 FROM graft_dq_orders GROUP BY o_orderkey""")
          .select(col("col_name"), col("data_type"))
      },
      Some(sql("""SELECT col_name, data_type FROM (VALUES
                    ('next_key', 'bigint'),
                    ('avg_price', 'double'),
                    ('tag', 'string')) AS t(col_name, data_type)"""))),

    // STABLE ERROR CLASSES (Spark 4's SQLSTATE-backed error framework):
    // the machine-readable errorClass a tool layer dispatches on —
    // unresolved column, ambiguous reference, parse error — captured as
    // data from the thrown AnalysisException/ParseException.
    Q("sql_error_classes",
      (s, d) => {
        val sq = s; import sq.implicits._
        table(s, d, "nation").createOrReplaceTempView("graft_ec_nation")
        def cls(q: String): String =
          try { s.sql(q).collect(); "NO_ERROR" }
          catch {
            case e: org.apache.spark.SparkThrowable =>
              Option(e.getCondition).getOrElse("NO_CLASS")
            case _: Throwable => "OTHER"
          }
        Seq(
          ("unresolved_column", cls("SELECT no_such_col FROM graft_ec_nation")),
          ("ambiguous_reference", cls(
            """SELECT n_nationkey FROM graft_ec_nation a
               JOIN graft_ec_nation b ON a.n_regionkey = b.n_regionkey""")),
          ("parse_error", cls("SELEC 1")),
          ("table_not_found", cls("SELECT * FROM graft_no_such_table")))
          .toDF("probe", "error_class")
      },
      Some(sql("""SELECT probe, error_class FROM (VALUES
                    ('unresolved_column', 'UNRESOLVED_COLUMN.WITH_SUGGESTION'),
                    ('ambiguous_reference', 'AMBIGUOUS_REFERENCE'),
                    ('parse_error', 'PARSE_SYNTAX_ERROR'),
                    ('table_not_found', 'TABLE_OR_VIEW_NOT_FOUND')
                  ) AS t(probe, error_class)"""))),

    // REBALANCE hint — the AQE-era write-skew fixer: inserts a
    // rebalance exchange whose post-shuffle partitions AQE splits/
    // coalesces to the advisory size, the idiom before `INSERT ...
    // SELECT /*+ REBALANCE */` so output files come out evenly sized.
    // Results are hint-invariant (oracled); the rebalance exchange
    // itself is asserted in PlanSpec.
    Q("sql_rebalance_hint",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_rb_orders")
        s.sql(sql("""
          SELECT o_orderpriority, count(*) AS n,
                 round(sum(o_totalprice), 2) AS total
          FROM (SELECT /*+ REBALANCE(o_orderpriority) */ *
                FROM graft_rb_orders)
          GROUP BY o_orderpriority"""))
      },
      Some(sql("""SELECT o_orderpriority, count(*) AS n,
                    round(sum(o_totalprice), 2) AS total
                  FROM orders GROUP BY o_orderpriority"""))),

    // SQL PIPE SYNTAX (Spark 4.0's |> operator chain): the linear
    // FROM-first spelling of filter → aggregate → orderby — each stage
    // reads top-to-bottom the way the DataFrame DSL does. Same plan,
    // same results as the nested classic form (the oracle).
    Q("sql_pipe_operators",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_pipe_orders")
        s.sql(sql("""
          FROM graft_pipe_orders
          |> WHERE o_totalprice > 100000.0
          |> AGGREGATE count(*) AS n, round(sum(o_totalprice), 2) AS total
             GROUP BY o_orderpriority
          |> WHERE n > 10"""))
      },
      Some(sql("""SELECT o_orderpriority, count(*) AS n,
                    round(sum(o_totalprice), 2) AS total
                  FROM orders WHERE o_totalprice > 100000.0
                  GROUP BY o_orderpriority HAVING count(*) > 10"""))),

    // inline() — the struct-array GENERATOR (explode + struct-field
    // flattening in one step), the tidy spelling for unnesting
    // array<struct> payloads.
    Q("sql_inline_generator",
      (s, d) => {
        table(s, d, "nation").createOrReplaceTempView("graft_inl_nation")
        s.sql(sql("""
          SELECT n_nationkey, k, v
          FROM graft_inl_nation
          LATERAL VIEW inline(array(
            struct('key' AS k, CAST(n_nationkey AS BIGINT) AS v),
            struct('region' AS k, CAST(n_regionkey AS BIGINT) AS v))) t AS k, v"""))
      },
      Some(sql("""SELECT n_nationkey, k,
                    CASE WHEN k = 'key' THEN CAST(n_nationkey AS BIGINT)
                         ELSE CAST(n_regionkey AS BIGINT) END AS v
                  FROM nation, (VALUES ('key'), ('region')) AS t(k)"""))),

    // COLLATED JOIN KEYS (Spark 4 collation in comparison position):
    // UTF8_LCASE keys match case-insensitively INSIDE the hash join —
    // no lower() rewrite, the collation travels with the type. Oracle
    // is the explicit lower() join.
    Q("sql_collated_join",
      (s, d) => {
        table(s, d, "nation").createOrReplaceTempView("graft_coll_nation")
        s.sql(sql("""
          WITH a AS (SELECT n_nationkey,
                       collate(upper(n_name), 'UTF8_LCASE') AS k
                     FROM graft_coll_nation),
               b AS (SELECT n_regionkey,
                       collate(lower(n_name), 'UTF8_LCASE') AS k
                     FROM graft_coll_nation)
          SELECT a.n_nationkey, b.n_regionkey
          FROM a JOIN b ON a.k = b.k"""))
      },
      Some(sql("""SELECT a.n_nationkey, b.n_regionkey
                  FROM nation a JOIN nation b
                    ON lower(a.n_name) = lower(b.n_name)"""))),

    // COLLATED GROUP BY: case-variant spellings of one key merge into a
    // single UTF8_LCASE group; the representative value surfaced is
    // min() under the SAME collation (collation-aware min is itself
    // case-insensitive, so the returned spelling is pinned via upper()).
    Q("sql_group_by_collated",
      (s, d) => {
        table(s, d, "nation").createOrReplaceTempView("graft_gcoll_nation")
        s.sql(sql("""
          WITH v AS (SELECT CASE WHEN n_nationkey % 2 = 0
                              THEN collate(upper(n_name), 'UTF8_LCASE')
                              ELSE collate(lower(n_name), 'UTF8_LCASE') END AS k,
                            n_nationkey
                     FROM graft_gcoll_nation)
          SELECT upper(k) AS k_upper, count(*) AS n,
                 CAST(sum(n_nationkey) AS BIGINT) AS key_sum
          FROM v GROUP BY k"""))
      },
      Some(sql("""SELECT upper(n_name) AS k_upper, count(*) AS n,
                    CAST(sum(n_nationkey) AS BIGINT) AS key_sum
                  FROM nation GROUP BY upper(n_name)"""))),

    // CATALOG LISTING OF THE NATIVE KERNELS — SHOW FUNCTIONS proves the
    // graft_* Catalyst expressions (cosine / hamming / intl2 / minhash /
    // overlap / topk) are REGISTERED session functions a SQL user can
    // discover, not private helpers. Oracle enumerates the expected
    // registry.
    Q("sql_show_graft_functions",
      (s, _) => {
        // other declared rows register additional graft_* session UDFs
        // as they run, so the assertion is membership of the SIX native
        // kernels, not an exhaustive listing (which is order-dependent)
        val kernels = Seq("graft_cosine", "graft_hamming64", "graft_intl2",
          "graft_minhash16", "graft_overlap64", "graft_topk")
        s.sql("SHOW USER FUNCTIONS LIKE 'graft_*'")
          .select(regexp_replace(col("function"), "^.*\\.", "").as("fn"))
          .filter(col("fn").isin(kernels: _*))
          .orderBy(col("fn"))
      },
      Some(sql("""SELECT fn FROM (VALUES ('graft_cosine'), ('graft_hamming64'),
                    ('graft_intl2'), ('graft_minhash16'), ('graft_overlap64'),
                    ('graft_topk')) AS t(fn)"""))),

    // RECURSIVE CTE, GRAPH FORM — transitive ANCESTOR CLOSURE over the
    // k → k DIV 2 binary-heap tree (sql_recursive_cte pins the series
    // form; this is the self-referencing JOIN shape hierarchies need):
    // every node's full ancestor set, depth log k, terminated by the
    // a >= 2 guard.
    Q("sql_recursive_transitive",
      (s, _) => s.sql(sql("""
        WITH RECURSIVE anc(k, a) AS (
          SELECT id, id DIV 2 FROM range(2, 31)
          UNION ALL
          SELECT k, a DIV 2 FROM anc WHERE a >= 2
        )
        SELECT k, count(*) AS n_anc, CAST(sum(a) AS BIGINT) AS anc_sum
        FROM anc GROUP BY k""")),
      Some(sql("""WITH RECURSIVE anc(k, a) AS (
                    SELECT k, k // 2 FROM (SELECT unnest(generate_series(2, 30)) AS k)
                    UNION ALL
                    SELECT k, a // 2 FROM anc WHERE a >= 2
                  )
                  SELECT k, count(*) AS n_anc, CAST(sum(a) AS BIGINT) AS anc_sum
                  FROM anc GROUP BY k""")))
  )
}
