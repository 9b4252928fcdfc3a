package graft.queries

import graft.Engine.table
import org.apache.spark.sql.{SaveMode, SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import Registry.{ioPath, sql, withConfs}

/** Round-12 golden wave — the `ppr_pushdown` family (35 golden files):
  * predicate pushdown into PARTITION pruning, including predicates that
  * are EXPRESSIONS over partition columns (modulo arithmetic, string
  * concat, IN/range disjunctions). The contract: such predicates must be
  * evaluated against the partition VALUES at file-listing time
  * (PartitionFilters on the scan node — PlanSpec-fenced), never as a
  * per-row data filter — at 100 TB this is the difference between
  * listing a handful of directories and scanning the lake.
  *
  * The fixture is orders re-laid-out as a two-level hive partitioning
  * (o_year=YYYY/o_orderstatus=S) — the canonical warehouse layout. The
  * staging is fingerprint-keyed and staged once (graft.Staging); oracle
  * SQL restates each predicate on the raw table via year(o_orderdate).
  */
object Source4Queries {

  /** Stage ONCE per source fingerprint (graft.Staging: atomic rename, no
    * mid-overwrite window for a concurrently-held DataFrame to read a
    * path being deleted) and read back the hive-partitioned orders
    * layout. */
  private[queries] def partitionedOrders(s: SparkSession, d: String): DataFrame = {
    val fp = graft.Staging.fingerprint(s"$d/orders.parquet")
    val path = graft.Staging.once(
      java.nio.file.Paths.get(ioPath(d, s"orders_ppr_$fp"))) { t =>
      table(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("o_year", "o_orderstatus").parquet(t.toString)
    }
    s.read.parquet(path.toString)
  }

  /** The partition_date golden fixture (45 files): orders re-laid-out
    * under a DATE-TYPED partition column (dt = month of o_orderdate,
    * ~84 directories). Partition values print as `dt=1995-03-01` and the
    * read-back path must INFER DateType for dt (partition-column type
    * inference) — date-typed partition predicates then exercise a
    * distinct discovery/pruning path (string→date casting at listing
    * time) that the int `o_year` fixture above cannot reach. */
  /** Staged location of the date-partitioned fixture — exposed so tests
    * (PlanSpec's DateType-inference probe) derive the path through the
    * same mangling as ioPath() instead of duplicating the sanitized
    * literal. */
  private[graft] def datePartitionedPath(d: String): String =
    ioPath(d, s"orders_pdate_${graft.Staging.fingerprint(s"$d/orders.parquet")}")

  private[queries] def datePartitionedOrders(s: SparkSession, d: String): DataFrame = {
    val path = graft.Staging.once(
      java.nio.file.Paths.get(datePartitionedPath(d))) { t =>
      table(s, d, "orders")
        .withColumn("dt", date_trunc("month", col("o_orderdate")).cast("date"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("dt").parquet(t.toString)
    }
    s.read.parquet(path.toString)
  }

  val all: Seq[Q] = Seq(

    // Arithmetic expression over the int partition column PLUS a plain
    // partition equality PLUS a data predicate: the first two must land
    // in PartitionFilters, the last in PushedFilters (fenced in
    // PlanSpec) — three different pushdown channels in one query.
    Q("src_ppr_expr",
      (s, d) => partitionedOrders(s, d)
        .filter(expr("(o_year % 2) = 1 AND o_orderstatus = 'F'"))
        .filter(col("o_totalprice") > 100000.0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_price")),
      Some(sql("""SELECT o_orderpriority, count(*) AS n,
                    round(avg(o_totalprice), 4) AS avg_price
                  FROM orders
                  WHERE (year(o_orderdate) % 2) = 1 AND o_orderstatus = 'F'
                    AND o_totalprice > 100000.0
                  GROUP BY o_orderpriority"""))),

    // String expression over the string partition column: concat +
    // equality still prunes at listing time (deterministic expressions
    // over partition attrs are evaluated against partition values).
    Q("src_ppr_concat",
      (s, d) => partitionedOrders(s, d)
        .filter(expr("concat(o_orderstatus, '_tag') = 'F_tag'"))
        .groupBy(col("o_year").cast("long").as("o_year"))
        .agg(count(lit(1)).as("n")),
      Some(sql("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                    count(*) AS n
                  FROM orders WHERE o_orderstatus || '_tag' = 'F_tag'
                  GROUP BY 1"""))),

    // Disjunction of IN-list and range over the partition column only —
    // the multi-directory prune (a handful of year=... dirs listed, the
    // rest never touched).
    Q("src_ppr_in_range",
      (s, d) => partitionedOrders(s, d)
        .filter(expr("o_year IN (1993, 1995) OR o_year >= 1997"))
        .groupBy(col("o_year").cast("long").as("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
            .as("cents")),
      Some(sql("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                    o_orderstatus, count(*) AS n,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                      AS cents
                  FROM orders
                  WHERE year(o_orderdate) IN (1993, 1995)
                     OR year(o_orderdate) >= 1997
                  GROUP BY 1, 2"""))),

    // DATE-typed partition equality — both the DATE-literal and the
    // STRING-literal spelling (the golden family tests both: the string
    // must cast to the partition's DATE type at listing time, not
    // degrade to a row filter).
    Q("src_pdate_eq",
      (s, d) => datePartitionedOrders(s, d)
        .filter(expr("dt = DATE '1995-03-01' OR dt = '1996-06-01'"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
            .as("cents")),
      Some(sql("""SELECT o_orderstatus, count(*) AS n,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                      AS cents
                  FROM orders
                  WHERE CAST(date_trunc('month', o_orderdate) AS DATE)
                          IN (DATE '1995-03-01', DATE '1996-06-01')
                  GROUP BY 1"""))),

    // DATE-typed partition range algebra: BETWEEN two date literals OR a
    // string-literal lower bound, <> exclusion — the multi-directory
    // date prune (a handful of month dirs listed, the rest never
    // touched).
    Q("src_pdate_range",
      (s, d) => datePartitionedOrders(s, d)
        .filter(expr(
          "(dt BETWEEN DATE '1994-01-01' AND DATE '1994-06-01' OR dt >= '1998-01-01') AND dt <> DATE '1994-03-01'"))
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n")),
      Some(sql("""SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR)
                      AS dt, count(*) AS n
                  FROM orders
                  WHERE (CAST(date_trunc('month', o_orderdate) AS DATE)
                           BETWEEN DATE '1994-01-01' AND DATE '1994-06-01'
                         OR CAST(date_trunc('month', o_orderdate) AS DATE)
                              >= DATE '1998-01-01')
                    AND CAST(date_trunc('month', o_orderdate) AS DATE)
                          <> DATE '1994-03-01'
                  GROUP BY 1"""))),

    // date_serde golden family (41 files): a DATE column must survive a
    // write→read roundtrip IDENTICALLY through every storage format —
    // the reference runs the same date table through its serde matrix;
    // here the matrix is parquet (INT32 days), ORC, CSV (text
    // yyyy-MM-dd), JSON (text). All four read-backs are unioned with a
    // format tag and must agree row-for-row with the raw computation.
    Q("src_date_roundtrip_formats",
      (s, d) => {
        val dates = table(s, d, "orders")
          .select(date_trunc("month", col("o_orderdate")).cast("date").as("dt"))
          .distinct()
        val fmts = Seq("parquet", "orc", "csv", "json")
        val staged = fmts.map { fmt =>
          val fp = graft.Staging.fingerprint(s"$d/orders.parquet")
          val p = graft.Staging.once(
            java.nio.file.Paths.get(ioPath(d, s"dates_${fmt}_$fp"))) { t =>
            dates.write.format(fmt).option("header", "true").save(t.toString)
          }
          s.read.format(fmt).option("header", "true").schema("dt DATE")
            .load(p.toString).withColumn("fmt", lit(fmt))
        }
        staged.reduce(_.unionAll(_))
          .groupBy(col("fmt"))
          .agg(count(lit(1)).as("n"),
            min(col("dt")).cast("string").as("min_dt"),
            max(col("dt")).cast("string").as("max_dt"),
            expr("CAST(sum(day(dt) + month(dt) * 100) AS BIGINT)").as("dsum"))
      },
      Some(sql("""
        WITH dates AS (SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE)
                         AS dt FROM orders),
             agg AS (SELECT count(*) AS n, CAST(min(dt) AS VARCHAR) AS min_dt,
                       CAST(max(dt) AS VARCHAR) AS max_dt,
                       CAST(sum(day(dt) + month(dt) * 100) AS BIGINT) AS dsum
                     FROM dates)
        SELECT f.fmt, agg.* FROM agg
        CROSS JOIN (VALUES ('parquet'), ('orc'), ('csv'), ('json')) f(fmt)"""))),

    // partition_varchar1 golden family (20 files) + the path-escaping
    // trap: partition VALUES containing spaces, '=', ':', ';' and '%'
    // must round-trip exactly through the hive directory layout (Spark
    // URL-escapes them to `pv=x%3Ay` etc. on disk) — at 100 TB a
    // warehouse's partition values are user data and silent path mangling
    // corrupts routing.
    Q("src_partition_escaping",
      (s, d) => {
        val fp = graft.Staging.fingerprint(s"$d/customer.parquet")
        val mapped = table(s, d, "customer")
          .selectExpr("c_custkey AS k",
            """CASE c_custkey % 5 WHEN 0 THEN 'a b' WHEN 1 THEN 'x:y'
               WHEN 2 THEN 'p=q' WHEN 3 THEN 'semi;colon'
               ELSE 'per%cent' END AS pv""")
        val path = graft.Staging.once(
          java.nio.file.Paths.get(ioPath(d, s"esc_$fp"))) { t =>
          mapped.write.mode(SaveMode.Overwrite).partitionBy("pv").parquet(t.toString)
        }
        s.read.parquet(path.toString)
          .groupBy(col("pv"))
          .agg(count(lit(1)).as("n"),
            expr("CAST(sum(k) AS BIGINT)").as("ksum"))
      },
      Some(sql("""
        SELECT CASE c_custkey % 5 WHEN 0 THEN 'a b' WHEN 1 THEN 'x:y'
                 WHEN 2 THEN 'p=q' WHEN 3 THEN 'semi;colon'
                 ELSE 'per%cent' END AS pv,
               count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS ksum
        FROM customer GROUP BY 1"""))),

    // ppr_pushdown2 golden family (22 files): string partition values
    // where one value is a PREFIX of another ('2' vs '22' vs '222') —
    // pruning must be exact-match, never prefix-match — plus a filter on
    // the INNER level only of a two-level partitioning (every outer dir
    // listed, inner dirs pruned).
    Q("src_ppr_prefix_vals",
      (s, d) => {
        val fp = graft.Staging.fingerprint(s"$d/customer.parquet")
        val path = graft.Staging.once(
          java.nio.file.Paths.get(ioPath(d, s"ppr2_$fp"))) { t =>
          table(s, d, "customer")
            .selectExpr("c_custkey AS k",
              "CASE c_custkey % 2 WHEN 0 THEN '1' ELSE '11' END AS pa",
              """CASE c_custkey % 3 WHEN 0 THEN '2' WHEN 1 THEN '22'
                 ELSE '222' END AS pb""")
            .write.mode(SaveMode.Overwrite).partitionBy("pa", "pb")
            .parquet(t.toString)
        }
        s.read.parquet(path.toString)
          .filter(expr("pb = '22'")) // inner level only + prefix trap
          .groupBy(col("pa"))
          .agg(count(lit(1)).as("n"),
            expr("CAST(sum(k) AS BIGINT)").as("ksum"))
      },
      Some(sql("""
        SELECT CASE c_custkey % 2 WHEN 0 THEN '1' ELSE '11' END AS pa,
               count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS ksum
        FROM customer WHERE c_custkey % 3 = 1
        GROUP BY 1"""))),

    // combine2/merge golden class, Spark-first: FileSourceScan BIN-PACKS
    // small files — 64 tiny parquet files must NOT become 64 tasks (the
    // 100 TB small-file death spiral: a billion 1 MB files ≠ a billion
    // tasks). Under the DEFAULTS they DO become 64 tasks: openCostInBytes
    // (4 MB) pads every file past the split size, and minPartitionNum
    // (= parallelism) shrinks maxSplitBytes to bytes/cores — both knobs
    // exist for big scans and invert on tiny ones. The row performs the
    // real-world tuning (openCost → 0, minPartitionNum → 1 for this
    // read, saved/restored) and pins the INVARIANT n_partitions ≤
    // files/4 rather than a brittle constant.
    Q("src_small_files_combine",
      (s, d) => {
        val fp = graft.Staging.fingerprint(s"$d/customer.parquet")
        val path = graft.Staging.once(
          java.nio.file.Paths.get(ioPath(d, s"smallfiles_$fp"))) { t =>
          table(s, d, "customer").repartition(64)
            .write.mode(SaveMode.Overwrite).parquet(t.toString)
        }
        val (nParts, nFiles, census) =
          withConfs(s, Map("spark.sql.files.openCostInBytes" -> "0",
              "spark.sql.files.minPartitionNum" -> "1")) {
            val df = s.read.parquet(path.toString)
            (df.rdd.getNumPartitions,
              new java.io.File(path.toString).listFiles()
                .count(f => f.getName.endsWith(".parquet")),
              df.agg(count(lit(1)).as("n"),
                expr("CAST(sum(c_custkey) AS BIGINT)").as("ksum")).collect()(0))
          }
        val sq = s; import sq.implicits._
        Seq((census.getLong(0), census.getLong(1), nFiles >= 32,
          nParts <= nFiles / 4))
          .toDF("n", "ksum", "many_files", "combined")
      },
      Some(sql("""
        SELECT count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS ksum,
               true AS many_files, true AS combined
        FROM customer""")))
  )
}
