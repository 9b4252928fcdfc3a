package graft.queries

import graft.Engine.table
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Registry.{dropManaged, sql, withConfs}

/** Round-13 golden wave 7 — the largest still-uncrossed HiveCompatibility
  * families after wave 6 (reference HiveCompatibilitySuite.scala:246
  * whiteList; golden files under sql/hive/src/test/resources/golden/):
  *
  *   - `join_filters` (123 golden files, the single biggest family): the
  *     ON-vs-WHERE predicate-placement grid for outer joins. A predicate
  *     in the ON clause of an outer join only DISQUALIFIES matches (the
  *     outer side's rows survive with NULLs); the same predicate in
  *     WHERE filters the joined result and silently turns the outer join
  *     inner. Reference golden join_filters-* / ref
  *     sql/core/src/main/scala/org/apache/spark/sql/execution/joins.
  *   - `groupby9` (23 files): HiveQL multi-insert where each INSERT
  *     branch has a DIFFERENT GROUP BY — one scan feeds two independent
  *     aggregations.
  *   - `alter2` + `add_part_exist` (71 files): ADD PARTITION lifecycle —
  *     multiple specs in one statement, IF NOT EXISTS on a duplicate,
  *     empty partitions visible in SHOW PARTITIONS but contributing no
  *     rows.
  *   - `truncate_table` (29 files): TRUNCATE of one partition leaves
  *     siblings intact; TRUNCATE TABLE empties everything while the
  *     table and its partitions' metadata survive.
  *   - `drop_partitions_filter` (26 files): Hive drops partitions by
  *     COMPARATOR (`DROP PARTITION (yr < 1998)`); Spark's DDL takes
  *     exact specs only, so the idiomatic analog is catalog-driven:
  *     list → filter → drop each. At 100 TB this is the retention-window
  *     delete that must stay metadata-only (no data scan).
  *   - `timestamp_udf` (22 files): unix_timestamp / from_unixtime
  *     roundtrips (incl. pre-epoch negatives) and date_format patterns.
  *   - `cluster` + `groupby_sort_5` (53 files): DISTRIBUTE BY + SORT BY
  *     — co-location plus LOCAL ordering with no global sort. The
  *     per-partition sortedness is verified imperatively (mapPartitions)
  *     rather than trusted.
  *   - `annotate_stats_join`/`_union` (48 files): ANALYZE'd row counts
  *     must propagate exactly through Union (sum) and GlobalLimit (min)
  *     in the logical stats — the numbers CBO join-reorder and
  *     broadcast selection run on.
  *   - `correlationoptimizer4` (42 files): aggregation keyed on a UNION
  *     ALL output column, joined back to a dimension on the same key.
  */
object Sql22Queries {

  /** The ON-vs-WHERE grid body — identical text on both engines modulo
    * table names. Each variant is collapsed to (tag, total rows, rows
    * with a match, key checksum) so the compare is scale-stable. */
  private def ovwBody(cust: String, ord: String): String = {
    def agg(tag: String, join: String) = s"""
      SELECT '$tag' AS tag, count(*) AS n, count(o_orderkey) AS matched,
             CAST(sum(coalesce(c_custkey, -1)) AS BIGINT) AS ck,
             CAST(sum(coalesce(o_orderkey, -1)) AS BIGINT) AS ok
      FROM $join"""
    Seq(
      // predicate on the INNER (right) side in ON: every customer row
      // survives; only cheap orders qualify as matches
      agg("left_on_right",
        s"$cust c LEFT JOIN $ord o ON c.c_custkey = o.o_custkey AND o.o_totalprice < 50000"),
      // same predicate in WHERE: NULL-extended rows fail it — the LEFT
      // join collapses to inner
      agg("left_where_right",
        s"""$cust c LEFT JOIN $ord o ON c.c_custkey = o.o_custkey
            WHERE o.o_totalprice < 50000"""),
      // predicate on the OUTER (left) side in ON: it cannot filter the
      // left table — rich customers just match nothing
      agg("left_on_left",
        s"$cust c LEFT JOIN $ord o ON c.c_custkey = o.o_custkey AND c.c_acctbal < 0"),
      agg("right_on_left",
        s"$ord o RIGHT JOIN $cust c ON c.c_custkey = o.o_custkey AND o.o_totalprice < 50000"),
      // FULL: both sides' rows always survive; ON predicates only thin
      // the matched pairs
      agg("full_on_both",
        s"""$cust c FULL JOIN $ord o ON c.c_custkey = o.o_custkey
            AND o.o_totalprice < 50000 AND c.c_acctbal >= 0"""),
      agg("full_where_left",
        s"""$cust c FULL JOIN $ord o ON c.c_custkey = o.o_custkey
            WHERE c.c_acctbal >= 0""")
    ).mkString(" UNION ALL ")
  }

  private val tsGrid = Seq(
    "2024-03-01 12:34:56", "1969-07-20 20:17:40", "2000-02-29 23:59:59",
    "1970-01-01 00:00:00", "2038-01-19 03:14:07")
  private def tsValues = tsGrid.map(s => s"('$s')").mkString(", ")

  val all: Seq[Q] = Seq(

    // ── join_filters: ON vs WHERE placement grid ──────────────────────
    Q("jn_on_vs_where",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_ovw_c")
        table(s, d, "orders").createOrReplaceTempView("graft_ovw_o")
        s.sql(sql(ovwBody("graft_ovw_c", "graft_ovw_o")))
      },
      Some(sql(ovwBody("customer", "orders")))),

    // ── groupby9: multi-insert, different GROUP BY per branch ─────────
    Q("sql_multi_groupby_insert",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_g9_src")
        dropManaged(s, "graft_g9a"); dropManaged(s, "graft_g9b")
        s.sql("CREATE TABLE graft_g9a (seg STRING, n BIGINT, cents BIGINT) USING parquet")
        s.sql("CREATE TABLE graft_g9b (nk INT, n BIGINT) USING parquet")
        s.sql(sql("""
          FROM graft_g9_src
          INSERT OVERWRITE TABLE graft_g9a
            SELECT c_mktsegment, count(*),
                   CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
            GROUP BY c_mktsegment
          INSERT OVERWRITE TABLE graft_g9b
            SELECT c_nationkey, count(*) GROUP BY c_nationkey"""))
        s.sql(sql("""
          SELECT 'seg' AS branch, seg AS key, n, cents FROM graft_g9a
          UNION ALL
          SELECT 'nk', CAST(nk AS STRING), n, CAST(NULL AS BIGINT) FROM graft_g9b"""))
      },
      Some(sql("""
        SELECT 'seg' AS branch, c_mktsegment AS key, count(*) AS n,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM customer GROUP BY c_mktsegment
        UNION ALL
        SELECT 'nk', CAST(c_nationkey AS VARCHAR), count(*), CAST(NULL AS BIGINT)
        FROM customer GROUP BY c_nationkey"""))),

    // ── alter2/add_part_exist: ADD PARTITION lifecycle ────────────────
    Q("sql_add_partitions",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_ap_src")
        dropManaged(s, "graft_ap")
        s.sql("CREATE TABLE graft_ap (k BIGINT) USING parquet PARTITIONED BY (st STRING)")
        Seq("F", "O").foreach { st =>
          s.sql(sql(s"""INSERT INTO graft_ap PARTITION (st='$st')
                        SELECT o_orderkey FROM graft_ap_src
                        WHERE o_orderstatus = '$st'"""))
        }
        // two empty partitions in ONE statement, then a duplicate that
        // only survives because of IF NOT EXISTS
        s.sql("ALTER TABLE graft_ap ADD PARTITION (st='X') PARTITION (st='Y')")
        s.sql("ALTER TABLE graft_ap ADD IF NOT EXISTS PARTITION (st='F')")
        // bounded catalog metadata (≤5 partitions) joined to the data
        // census — empty partitions must appear with n = 0
        val sq = s; import sq.implicits._
        val parts = s.sql("SHOW PARTITIONS graft_ap").as[String].collect()
          .map(_.stripPrefix("st=")).toSeq.toDF("st")
        val counts = s.sql("SELECT st, count(*) AS cnt FROM graft_ap GROUP BY st")
        parts.join(counts, Seq("st"), "left")
          .select(col("st"), coalesce(col("cnt"), lit(0L)).as("n"))
      },
      Some(sql("""
        SELECT 'F' AS st,
               (SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS n
        UNION ALL SELECT 'O',
               (SELECT count(*) FROM orders WHERE o_orderstatus = 'O')
        UNION ALL SELECT 'X', 0 UNION ALL SELECT 'Y', 0"""))),

    // ── truncate_table: partition truncate, then table truncate ───────
    Q("sql_truncate_stages",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_tr_src")
        dropManaged(s, "graft_tr")
        s.sql("CREATE TABLE graft_tr (k BIGINT) USING parquet PARTITIONED BY (st STRING)")
        Seq("F", "O", "P").foreach { st =>
          s.sql(sql(s"""INSERT INTO graft_tr PARTITION (st='$st')
                        SELECT o_orderkey FROM graft_tr_src
                        WHERE o_orderstatus = '$st'"""))
        }
        val full = s.table("graft_tr").count()
        s.sql("TRUNCATE TABLE graft_tr PARTITION (st='F')")
        val afterPart = s.table("graft_tr").count()
        val partsLeft = s.sql("SHOW PARTITIONS graft_tr").count()
        s.sql("TRUNCATE TABLE graft_tr")
        val afterAll = s.table("graft_tr").count()
        val sq = s; import sq.implicits._
        Seq(("full", full), ("after_part_truncate", afterPart),
          ("parts_after_truncate", partsLeft), ("after_table_truncate", afterAll))
          .toDF("stage", "n")
      },
      Some(sql("""
        SELECT 'full' AS stage, count(*) AS n FROM orders
        UNION ALL SELECT 'after_part_truncate',
          (SELECT count(*) FROM orders WHERE o_orderstatus <> 'F')
        UNION ALL SELECT 'parts_after_truncate', 3
        UNION ALL SELECT 'after_table_truncate', 0"""))),

    // ── drop_partitions_filter: comparator drop, Spark-idiomatically ──
    // Hive's `DROP PARTITION (yr < 1998)`; Spark DDL takes exact specs,
    // so the analog is catalog list → filter → drop each — a pure
    // metadata operation (no data scan) at any table size.
    Q("sql_drop_partitions_filter",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_dpf_src")
        dropManaged(s, "graft_dpf")
        s.sql("CREATE TABLE graft_dpf (k BIGINT) USING parquet PARTITIONED BY (yr INT)")
        s.sql(sql("""INSERT INTO graft_dpf
                     SELECT o_orderkey, year(o_orderdate) FROM graft_dpf_src"""))
        val sq = s; import sq.implicits._
        val doomed = s.sql("SHOW PARTITIONS graft_dpf").as[String].collect()
          .map(_.stripPrefix("yr=").toInt).filter(_ < 1998)
        doomed.foreach(y => s.sql(s"ALTER TABLE graft_dpf DROP PARTITION (yr=$y)"))
        s.sql(sql("""SELECT yr, count(*) AS n, CAST(sum(k) AS BIGINT) AS ksum
                     FROM graft_dpf GROUP BY yr"""))
      },
      Some(sql("""
        SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS ksum
        FROM orders WHERE year(o_orderdate) >= 1998 GROUP BY 1"""))),

    // ── timestamp_udf: unix roundtrip + date_format grid ──────────────
    // Session TZ is UTC on both engines; pre-epoch seconds are negative
    // and from_unixtime must invert exactly.
    Q("ts_unix_grid",
      (s, _) => s.sql(sql(s"""
        SELECT v, unix_timestamp(ts) AS epoch_s,
               from_unixtime(unix_timestamp(ts)) AS roundtrip,
               date_format(ts, 'yyyy/MM/dd HH:mm') AS fmt,
               CAST(to_date(ts) AS STRING) AS d
        FROM (SELECT v, CAST(v AS TIMESTAMP) AS ts
              FROM VALUES $tsValues t(v))""")),
      Some(sql(s"""
        SELECT v, CAST(epoch(ts) AS BIGINT) AS epoch_s,
               strftime(make_timestamp(CAST(epoch(ts) AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS roundtrip,
               strftime(ts, '%Y/%m/%d %H:%M') AS fmt,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS d
        FROM (SELECT v, CAST(v AS TIMESTAMP) AS ts
              FROM (VALUES $tsValues) t(v))"""))),

    // ── cluster/groupby_sort: DISTRIBUTE BY + SORT BY ─────────────────
    // Co-locate by nation, order LOCALLY — no global sort, exactly one
    // exchange (the plan side is already fenced via sql_distribute_by in
    // PlanSpec). This row adds what the plan fence cannot: the RUNTIME
    // property, proven imperatively — mapPartitions walks each partition
    // once counting out-of-order adjacent pairs and nation keys split
    // across partitions; the oracle pins both counts to zero.
    Q("sql_cluster_sorted",
      (s, d) => {
        table(s, d, "customer").createOrReplaceTempView("graft_cl_c")
        val sq = s; import sq.implicits._
        val sorted = s.sql(sql("""
          SELECT c_nationkey AS k, c_custkey AS v FROM graft_cl_c
          DISTRIBUTE BY c_nationkey SORT BY c_nationkey, c_custkey"""))
          .as[(Int, Long)]
        val perPart = sorted.mapPartitions { it =>
          var n = 0L; var viol = 0L; var ksum = 0L
          var prev: (Int, Long) = null
          val keys = scala.collection.mutable.Set.empty[Int]
          it.foreach { r =>
            n += 1; ksum += r._2; keys += r._1
            if (prev != null &&
              (prev._1 > r._1 || (prev._1 == r._1 && prev._2 > r._2))) viol += 1
            prev = r
          }
          Iterator.single((n, viol, keys.toSet))
        }.collect()
        // a nation key must live in exactly one partition (co-location)
        val splitKeys = perPart.flatMap(_._3).groupBy(identity)
          .count { case (_, v) => v.length > 1 }
        Seq((perPart.map(_._1).sum, perPart.map(_._2).sum, splitKeys.toLong))
          .toDF("n_rows", "sort_violations", "split_keys")
      },
      Some(sql("""
        SELECT count(*) AS n_rows, CAST(0 AS BIGINT) AS sort_violations,
               CAST(0 AS BIGINT) AS split_keys
        FROM customer"""))),

    // ── annotate_stats_join/union: exact stats propagation ────────────
    // ANALYZE'd row counts must flow through the logical plan EXACTLY:
    // scan = catalog count, Union = sum of children, GlobalLimit = the
    // limit. These are the numbers CBO reorder and broadcast selection
    // decide on; the fixed key slices make all three SF-independent.
    Q("sql_stats_propagation",
      (s, d) => {
        val src = table(s, d, "customer")
        dropManaged(s, "graft_sp_a"); dropManaged(s, "graft_sp_b")
        src.where("c_custkey <= 120").write.saveAsTable("graft_sp_a")
        src.where("c_custkey > 120 AND c_custkey <= 150").write.saveAsTable("graft_sp_b")
        s.sql("ANALYZE TABLE graft_sp_a COMPUTE STATISTICS")
        s.sql("ANALYZE TABLE graft_sp_b COMPUTE STATISTICS")
        withConfs(s, Map("spark.sql.cbo.enabled" -> "true")) {
          def rc(df: org.apache.spark.sql.DataFrame): Long =
            df.queryExecution.optimizedPlan.stats.rowCount
              .map(_.toLong).getOrElse(-1L)
          val scan = rc(s.table("graft_sp_a"))
          val union = rc(s.table("graft_sp_a").union(s.table("graft_sp_b")))
          val limit = rc(s.table("graft_sp_a").limit(50))
          val sq = s; import sq.implicits._
          Seq(("scan", scan), ("union", union), ("limit", limit))
            .toDF("node", "est_rows")
        }
      },
      Some(sql("""
        SELECT 'scan' AS node,
               (SELECT count(*) FROM customer WHERE c_custkey <= 120) AS est_rows
        UNION ALL SELECT 'union', (SELECT count(*) FROM customer WHERE c_custkey <= 150)
        UNION ALL SELECT 'limit', 50"""))),

    // ── rename_column (38 files): the v2 DDL lifecycle ────────────────
    // Hive renames columns with ALTER TABLE … CHANGE; Spark's v1 parquet
    // tables refuse RENAME COLUMN (metastore schemas are positional), so
    // the Spark-first crossing is the V2 path: a TableCatalog plugin
    // (sources/MemCatalog) routes CREATE TABLE → INSERT →
    // ALTER TABLE RENAME COLUMN → ALTER TABLE RENAME TO through the
    // public connector API. Data must survive both renames untouched.
    Q("sql_v2_rename_column",
      (s, d) => {
        s.conf.set("spark.sql.catalog.graftmem", "graft.sources.MemCatalog")
        table(s, d, "customer").createOrReplaceTempView("graft_rc_src")
        Seq("graft_rc", "graft_rc2").foreach(t =>
          s.sql(s"DROP TABLE IF EXISTS graftmem.$t"))
        s.sql("CREATE TABLE graftmem.graft_rc (k BIGINT, seg STRING)")
        s.sql(sql("""INSERT INTO graftmem.graft_rc
                     SELECT c_custkey, c_mktsegment FROM graft_rc_src
                     WHERE c_custkey <= 200"""))
        s.sql("ALTER TABLE graftmem.graft_rc RENAME COLUMN seg TO segment")
        // v2 RENAME TO takes a CATALOG-RELATIVE target: `graft_rc2`, not
        // `graftmem.graft_rc2` — the prefixed spelling renames into
        // NAMESPACE ["graftmem"] inside the catalog. The store's old
        // bare-name keying masked exactly this (r15 ADVICE #4); the
        // namespace-aware store surfaced it as table-not-found.
        s.sql("ALTER TABLE graftmem.graft_rc RENAME TO graft_rc2")
        s.sql(sql("""SELECT segment, count(*) AS n, CAST(sum(k) AS BIGINT) AS ksum
                     FROM graftmem.graft_rc2 GROUP BY segment"""))
      },
      Some(sql("""
        SELECT c_mktsegment AS segment, count(*) AS n,
               CAST(sum(c_custkey) AS BIGINT) AS ksum
        FROM customer WHERE c_custkey <= 200 GROUP BY c_mktsegment"""))),

    // ── correlationoptimizer4: agg keyed on a UNION ALL output ────────
    // Two status slices union, aggregate per customer, join the customer
    // dim ON the agg key, re-aggregate per segment. The union feeds ONE
    // shuffle (the custkey agg); the dim joins broadcast (PlanSpec).
    Q("sql_union_shared_key_agg",
      (s, d) => {
        table(s, d, "orders").createOrReplaceTempView("graft_uka_o")
        table(s, d, "customer").createOrReplaceTempView("graft_uka_c")
        s.sql(sql("""
          WITH u AS (
            SELECT o_custkey AS k, o_totalprice AS p FROM graft_uka_o
            WHERE o_orderstatus = 'F'
            UNION ALL
            SELECT o_custkey, o_totalprice FROM graft_uka_o
            WHERE o_orderstatus = 'O'),
          g AS (SELECT k, count(*) AS n,
                       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents
                FROM u GROUP BY k)
          SELECT c.c_mktsegment AS seg, CAST(sum(g.n) AS BIGINT) AS orders_n,
                 CAST(sum(g.cents) AS BIGINT) AS cents
          FROM g JOIN graft_uka_c c ON g.k = c.c_custkey
          GROUP BY c.c_mktsegment"""))
      },
      Some(sql("""
        WITH u AS (
          SELECT o_custkey AS k, o_totalprice AS p FROM orders
          WHERE o_orderstatus = 'F'
          UNION ALL
          SELECT o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'),
        g AS (SELECT k, count(*) AS n,
                     CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents
              FROM u GROUP BY k)
        SELECT c.c_mktsegment AS seg, CAST(sum(g.n) AS BIGINT) AS orders_n,
               CAST(sum(g.cents) AS BIGINT) AS cents
        FROM g JOIN customer c ON g.k = c.c_custkey
        GROUP BY c.c_mktsegment""")))
  )
}
