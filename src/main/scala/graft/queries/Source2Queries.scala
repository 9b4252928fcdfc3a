package graft.queries

import graft.Engine.table
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import Registry.{ioPath, sql, withConfs}

/** §2.1 continued — the two scan-time pruning/locality contracts that
  * decide fact-table cost at 100 TB and exist only in the modern engine
  * (the reference's ParquetRelation2 prunes on STATIC filters only, and
  * its data-source SPI — sources/interfaces.scala — cannot report a
  * layout at all):
  *
  *  - dynamic partition pruning: a runtime filter derived from the dim
  *    side of a join reaches the fact scan's PartitionFilters, so the
  *    fact table lists only the partitions the dim rows name;
  *  - storage-partitioned join: a DSv2 connector reports its key layout
  *    (sources/KeyedSource.scala) and a fact⋈dim join on that key moves
  *    ZERO bytes over the network.
  *
  * Both are PlanSpec-asserted (the result alone cannot distinguish a
  * pruned scan from a full one).
  */
object Source2Queries {

  val all: Seq[Q] = Seq(

    // Dynamic partition pruning: orders written partitioned by
    // o_orderstatus; the dim table (one row per status, with a
    // NON-partition attribute) is filtered, broadcast for the join, and
    // its surviving keys are replayed into the FACT SCAN as a
    // dynamicpruningexpression — the fact side lists 1 of 3 partition
    // directories at runtime without the query ever naming 'F'. At
    // 100 TB (date-partitioned facts ⋈ filtered date dims) this is the
    // canonical lake-join accelerator. PlanSpec asserts the pruning
    // subquery reached PartitionFilters; the oracle restates the
    // surviving-partition aggregate.
    Q("src_dpp",
      (s, d) => {
        val fact = ioPath(d, "dpp_fact")
        val dim = ioPath(d, "dpp_dim")
        table(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .write.partitionBy("o_orderstatus").mode(SaveMode.Overwrite).parquet(fact)
        // the dim filter must be a COMPARISON (cls = 'final'): the DPP
        // rule gates on isLikelySelective, and a bare boolean attribute
        // (what `is_final = true` simplifies to) does not qualify
        table(s, d, "orders").select(col("o_orderstatus")).distinct()
          .withColumn("cls",
            when(col("o_orderstatus") === lit("F"), lit("final")).otherwise(lit("open")))
          .write.mode(SaveMode.Overwrite).parquet(dim)
        val f = s.read.parquet(fact)
        val dm = s.read.parquet(dim).filter(col("cls") === lit("final"))
        f.join(dm, Seq("o_orderstatus"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      },
      Some(sql("""SELECT o_orderstatus, count(*) AS n,
                    round(sum(o_totalprice), 4) AS total
                  FROM orders WHERE o_orderstatus = 'F'
                  GROUP BY o_orderstatus"""))),

    // Storage-partitioned join (DSv2 SupportsReportPartitioning +
    // HasPartitionKey, sources/KeyedSource.scala): both sides of the
    // join come from a connector that DECLARES KeyGroupedPartitioning
    // on k, so with v2 bucketing enabled EnsureRequirements plans the
    // sort-merge join with NO exchange on either side, and the
    // downstream per-key aggregate rides the same layout. The data is
    // formula-generated per key, so the oracle regenerates it with
    // generate_series — fact: (k, k*31+i) for i in 0..k+2; dim:
    // (k, 'key_'||k). PlanSpec asserts zero Exchange.
    Q("src_dsv2_spj",
      (s, d) => {
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        val f = s.read.format("graft.sources.KeyedSource")
          .option("side", "fact").load()
        val dm = s.read.format("graft.sources.KeyedSource")
          .option("side", "dim").load()
        f.hint("merge").join(dm, Seq("k"))
          .groupBy(col("k"))
          .agg(max(col("label")).as("label"),
            count(lit(1)).as("n"), sum(col("v")).as("sv"))
          .select(col("k").cast("long").as("k"), col("label"), col("n"), col("sv"))
      },
      Some(sql("""WITH ks AS (SELECT unnest(generate_series(0, 7)) AS k),
                    f AS (SELECT k, k*31 + unnest(generate_series(0, k+2)) AS v FROM ks)
                  SELECT k, 'key_' || CAST(k AS VARCHAR) AS label,
                    count(*) AS n, CAST(sum(v) AS BIGINT) AS sv
                  FROM f GROUP BY k"""))),

    // MERGE INTO through the DSv2 row-level-operation SPI
    // (SupportsRowLevelOperations on sources/MemTableSource.scala):
    // all THREE clause families in one statement — conditional
    // MATCHED UPDATE with MATCHED DELETE fallback, NOT MATCHED INSERT *,
    // and NOT MATCHED BY SOURCE conditional DELETE. The table is
    // group-based (no SupportsDelta), so Spark plans the copy-on-write
    // rewrite: scan ⟗ source, per-row clause resolution, replacement
    // write. The oracle restates the post-merge table with set algebra.
    // Source keys are constructed disjoint (suppkey+1000 inserts vs
    // suppkey%3 updates), so the ON-clause cardinality contract holds.
    Q("src_dsv2_merge",
      (s, d) => {
        table(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .write.format("graft.sources.MemTableSource")
          .option("name", "graft_mrgmem").mode(SaveMode.Overwrite).save()
        s.conf.set("spark.sql.catalog.graftmem", "graft.sources.MemCatalog")
        table(s, d, "supplier").filter(col("s_suppkey") < 8)
          .select((col("s_suppkey") + lit(1000)).cast("long").as("s_suppkey"),
            col("s_nationkey"), (col("s_acctbal") + lit(50.0)).as("s_acctbal"))
          .unionAll(table(s, d, "supplier").filter(col("s_suppkey") % 3 === 0)
            .select(col("s_suppkey").cast("long").as("s_suppkey"),
              col("s_nationkey"), (col("s_acctbal") * 2).as("s_acctbal")))
          .createOrReplaceTempView("graft_mrg_src")
        s.sql(sql("""MERGE INTO graftmem.graft_mrgmem t
                     USING graft_mrg_src s ON t.s_suppkey = s.s_suppkey
                     WHEN MATCHED AND s.s_acctbal > 0
                       THEN UPDATE SET s_acctbal = s.s_acctbal
                     WHEN MATCHED THEN DELETE
                     WHEN NOT MATCHED THEN INSERT *
                     WHEN NOT MATCHED BY SOURCE AND t.s_acctbal < 0
                       THEN DELETE"""))
        s.read.format("graft.sources.MemTableSource")
          .option("name", "graft_mrgmem").load()
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 4).as("bal"))
      },
      Some(sql("""WITH src AS (
                    SELECT s_suppkey + 1000 AS k, s_nationkey AS nk,
                           s_acctbal + 50.0 AS bal
                    FROM supplier WHERE s_suppkey < 8
                    UNION ALL
                    SELECT s_suppkey, s_nationkey, s_acctbal * 2
                    FROM supplier WHERE s_suppkey % 3 = 0),
                  finaltab AS (
                    SELECT t.s_nationkey AS nk, s.bal
                    FROM supplier t JOIN src s ON t.s_suppkey = s.k
                    WHERE s.bal > 0
                    UNION ALL
                    SELECT t.s_nationkey, t.s_acctbal
                    FROM supplier t
                    WHERE t.s_suppkey NOT IN (SELECT k FROM src)
                      AND t.s_acctbal >= 0
                    UNION ALL
                    SELECT s.nk, s.bal FROM src s
                    WHERE s.k NOT IN (SELECT s_suppkey FROM supplier))
                  SELECT nk AS s_nationkey, count(*) AS n,
                         round(sum(bal), 4) AS bal
                  FROM finaltab GROUP BY nk"""))),

    // UPDATE through the same row-level SPI: the RewriteUpdateTable
    // path — untouched rows union updated rows, one replacement write.
    Q("src_dsv2_update",
      (s, d) => {
        table(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .write.format("graft.sources.MemTableSource")
          .option("name", "graft_updmem").mode(SaveMode.Overwrite).save()
        s.conf.set("spark.sql.catalog.graftmem", "graft.sources.MemCatalog")
        s.sql(sql("""UPDATE graftmem.graft_updmem
                     SET s_acctbal = s_acctbal + 100.0
                     WHERE s_nationkey < 10"""))
        s.read.format("graft.sources.MemTableSource")
          .option("name", "graft_updmem").load()
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 4).as("bal"))
      },
      Some(sql("""SELECT s_nationkey, count(*) AS n,
                    round(sum(CASE WHEN s_nationkey < 10
                                   THEN s_acctbal + 100.0
                                   ELSE s_acctbal END), 4) AS bal
                  FROM supplier GROUP BY s_nationkey"""))),

    // Limit / top-N / offset pushdown through the V2 paging SPI
    // (sources/RangeSource.scala SupportsPushDownLimit/TopN/Offset):
    // three probes against the 10k-row generated table — a DESC top-7
    // (the scan generates only [9993,10000)), an ASC page LIMIT 5
    // OFFSET 9990 (Spark pushes topN(9995) then the offset → the scan
    // generates exactly [9990,9995)), and a bare LIMIT 5 counted. At
    // 100 TB this is "show me the latest 20 events" NOT reading the
    // table. PlanSpec asserts the narrowed ranges in the scan text.
    Q("src_dsv2_topn",
      (s, _) => {
        def base = s.read.format("graft.sources.RangeSource")
          .option("n", "10000").load()
        val topn = base.orderBy(col("id").desc).limit(7)
          .select(lit("topn_desc").as("probe"), col("id"))
        val page = base.orderBy(col("id")).offset(9990).limit(5)
          .select(lit("page").as("probe"), col("id"))
        val lim = base.limit(5)
          .agg(count(lit(1)).as("c"))
          .select(lit("limit_count").as("probe"), col("c").as("id"))
        // unsorted OFFSET pushes alone (after a partially-pushed top-N
        // Spark correctly refuses it — the authoritative sort+cut is
        // still Spark's); any 9995 rows may be skipped, so the count is
        // the only deterministic observable
        val off = base.offset(9995)
          .agg(count(lit(1)).as("c"))
          .select(lit("offset_count").as("probe"), col("c").as("id"))
        topn.unionAll(page).unionAll(lim).unionAll(off)
      },
      Some(sql("""SELECT 'topn_desc' AS probe, CAST(x AS BIGINT) AS id
                  FROM (SELECT unnest(generate_series(9993, 9999)) AS x)
                  UNION ALL
                  SELECT 'page', CAST(x AS BIGINT)
                  FROM (SELECT unnest(generate_series(9990, 9994)) AS x)
                  UNION ALL
                  SELECT 'limit_count', 5
                  UNION ALL
                  SELECT 'offset_count', 5"""))),

    // Runtime V2 filtering (SupportsRuntimeV2Filtering on the range
    // scan): the connector-side twin of src_dpp — after the 2-row
    // broadcast dim materializes, Spark replays its join keys into the
    // fact scan as an IN predicate and the scan narrows its generated
    // range BEFORE planning splits. The query never names the surviving
    // ids; only the runtime filter carries them. PlanSpec asserts the
    // dynamicpruning expression lands in the BatchScan's RuntimeFilters.
    Q("src_dsv2_runtime_filter",
      (s, d) => {
        val dim = ioPath(d, "rtf_dim")
        val sq = s; import sq.implicits._
        Seq((7L, "skip"), (4242L, "pick"), (77777L, "pick")).toDF("id", "cls")
          .write.mode(SaveMode.Overwrite).parquet(dim)
        val fact = s.read.format("graft.sources.RangeSource")
          .option("n", "100000").option("partitions", "8").load()
        val dm = s.read.parquet(dim)
          .filter(col("cls") === lit("pick")).select(col("id"))
        fact.join(dm, Seq("id")).select(col("id"), col("val"))
      },
      Some(sql("""SELECT CAST(x AS BIGINT) AS id,
                    (CAST(x AS BIGINT) * CAST(x AS BIGINT)) % 997 AS val
                  FROM (VALUES (4242), (77777)) t(x)"""))),

    // MSCK REPAIR TABLE (partition recovery): data arrives on storage
    // BYPASSING the catalog (the distcp/backfill shape — two st=…
    // directories written directly), an external partitioned table is
    // declared over the location, and MSCK REPAIR discovers the
    // partitions from the directory layout. SHOW PARTITIONS pins the
    // recovered count; the post-repair per-partition row counts pin
    // that pruning works against recovered metadata. The operational
    // contract every 100 TB lake hits weekly.
    Q("sql_repair_table",
      (s, d) => {
        val loc = ioPath(d, "repair_tbl")
        Registry.rmTree(new java.io.File(loc))
        table(s, d, "orders").filter(col("o_orderstatus") === lit("F"))
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode(SaveMode.Overwrite).parquet(s"$loc/st=F")
        table(s, d, "orders").filter(col("o_orderstatus") === lit("O"))
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode(SaveMode.Overwrite).parquet(s"$loc/st=O")
        Registry.dropManaged(s, "graft_repair")
        s.sql(sql(s"""CREATE TABLE graft_repair
                      (o_orderkey BIGINT, o_totalprice DOUBLE, st STRING)
                      USING parquet PARTITIONED BY (st) LOCATION '$loc'"""))
        s.sql("MSCK REPAIR TABLE graft_repair")
        s.sql("SHOW PARTITIONS graft_repair")
          .agg(count(lit(1)).as("n")).select(lit("partitions").as("probe"), col("n"))
          .unionAll(s.sql(sql("""SELECT 'rows_total' AS probe, count(*) AS n
                                 FROM graft_repair""")))
          .unionAll(s.sql(sql("""SELECT 'rows_F' AS probe, count(*) AS n
                                 FROM graft_repair WHERE st = 'F'""")))
      },
      Some(sql("""SELECT 'partitions' AS probe, 2 AS n
                  UNION ALL
                  SELECT 'rows_total', count(*) FROM orders
                  WHERE o_orderstatus IN ('F', 'O')
                  UNION ALL
                  SELECT 'rows_F', count(*) FROM orders
                  WHERE o_orderstatus = 'F'"""))),

    // Hidden file-metadata columns (_metadata.file_name / row_index):
    // per-file provenance without a provenance column — the contract a
    // 100 TB curation pipeline uses to trace any row back to its source
    // object. Two hand-named parquet files; the grouped row_index range
    // pins the 0-based per-file numbering.
    Q("src_file_metadata",
      (s, _) => {
        val dir = "/tmp/graft_io/meta_files"
        Registry.rmTree(new java.io.File(dir))
        new java.io.File(dir).mkdirs()
        val sq = s; import sq.implicits._
        Seq(Seq(1L, 2L, 3L), Seq(10L, 20L)).zipWithIndex.foreach { case (vs, i) =>
          val tmpd = s"$dir/_tmp$i"
          vs.toDF("v").coalesce(1).write.mode("overwrite").parquet(tmpd)
          val part = new java.io.File(tmpd).listFiles()
            .find(_.getName.startsWith("part-")).get
          java.nio.file.Files.move(part.toPath,
            new java.io.File(s"$dir/f$i.parquet").toPath): Unit
          Registry.rmTree(new java.io.File(tmpd))
        }
        s.read.parquet(dir)
          .select(col("v"), col("_metadata.file_name").as("fname"),
            col("_metadata.row_index").as("ri"))
          .groupBy(col("fname"))
          .agg(count(lit(1)).as("n"), min(col("ri")).as("ri_min"),
            max(col("ri")).as("ri_max"), sum(col("v")).as("sv"))
      },
      Some(sql("""SELECT fname, CAST(n AS BIGINT) AS n,
                    CAST(ri_min AS BIGINT) AS ri_min,
                    CAST(ri_max AS BIGINT) AS ri_max,
                    CAST(sv AS BIGINT) AS sv
                  FROM (VALUES
                    ('f0.parquet', 3, 0, 2, 6),
                    ('f1.parquet', 2, 0, 1, 30)
                  ) AS t(fname, n, ri_min, ri_max, sv)"""))),

    // File-reader options (recursiveFileLookup + pathGlobFilter): a
    // nested layout with a stray non-parquet file — the recursive read
    // must find both subdirectory datasets, the glob must exclude the
    // stray, and a plain subdirectory read scopes to one dataset. The
    // ingest-surface knobs for lakes that are not laid out as neat
    // partition trees.
    Q("src_file_options",
      (s, d) => {
        val root = ioPath(d, "opt_files")
        Registry.rmTree(new java.io.File(root))
        table(s, d, "nation").filter(col("n_regionkey") < 2)
          .select(col("n_nationkey"), col("n_regionkey"))
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/a")
        table(s, d, "nation").filter(col("n_regionkey") >= 2)
          .select(col("n_nationkey"), col("n_regionkey"))
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$root/b")
        val stray = new java.io.PrintWriter(s"$root/notes.txt")
        try stray.print("not parquet") finally stray.close()
        val rec = s.read
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.parquet")
          .parquet(root)
        rec.agg(count(lit(1)).as("n"))
          .select(lit("recursive_rows").as("probe"), col("n"))
          .unionAll(rec.select(col("_metadata.file_name")).distinct()
            .agg(count(lit(1)).as("n"))
            .select(lit("recursive_files").as("probe"), col("n")))
          .unionAll(s.read.parquet(s"$root/a")
            .agg(count(lit(1)).as("n"))
            .select(lit("subdir_a_rows").as("probe"), col("n")))
      },
      Some(sql("""SELECT 'recursive_rows' AS probe, count(*) AS n FROM nation
                  UNION ALL SELECT 'recursive_files', 2
                  UNION ALL SELECT 'subdir_a_rows', count(*) FROM nation
                  WHERE n_regionkey < 2"""))),

    // INSERT OVERWRITE DIRECTORY (the Hive-era export statement, modern
    // USING-format spelling): a query result lands in a RAW directory —
    // no table, no catalog entry — and reads back as plain files. The
    // extract-to-share shape that predates every lakehouse export API.
    Q("sql_insert_overwrite_dir",
      (s, d) => {
        val out = ioPath(d, "iod_out")
        table(s, d, "nation").createOrReplaceTempView("graft_nat_iod")
        s.sql(sql(s"""INSERT OVERWRITE DIRECTORY '$out' USING parquet
                      SELECT n_nationkey, n_name, n_regionkey
                      FROM graft_nat_iod WHERE n_regionkey < 3"""))
        s.read.parquet(out)
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"))
      },
      Some(sql("""SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
                  FROM nation WHERE n_regionkey < 3 GROUP BY n_regionkey"""))),

    // Column-level ANALYZE (CBO statistics): ANALYZE TABLE … COMPUTE
    // STATISTICS FOR COLUMNS computes ndv/min/max/null-count per column
    // and DESCRIBE EXTENDED <table> <column> reads them back — the
    // statistics the cost-based optimizer's join reorder feeds on. The
    // read-back values travel as data (exact at every SF: distinct
    // counts of a catalog-backed CTAS).
    Q("sql_analyze_columns",
      (s, d) => {
        Registry.dropManaged(s, "graft_stats_nat")
        table(s, d, "nation").createOrReplaceTempView("graft_nat_st")
        s.sql(sql("""CREATE TABLE graft_stats_nat USING parquet AS
                     SELECT n_nationkey, n_regionkey FROM graft_nat_st"""))
        s.sql(sql("""ANALYZE TABLE graft_stats_nat COMPUTE STATISTICS
                     FOR COLUMNS n_nationkey, n_regionkey"""))
        val desc = s.sql("DESCRIBE EXTENDED graft_stats_nat n_regionkey")
        desc.filter(col("info_name").isin(
            "distinct_count", "min", "max", "num_nulls"))
          .select(col("info_name"), col("info_value"))
      },
      Some(sql("""SELECT info_name, info_value FROM (
                    SELECT 'distinct_count' AS info_name,
                      CAST(count(DISTINCT n_regionkey) AS VARCHAR) AS info_value
                    FROM nation
                    UNION ALL
                    SELECT 'min', CAST(min(n_regionkey) AS VARCHAR) FROM nation
                    UNION ALL
                    SELECT 'max', CAST(max(n_regionkey) AS VARCHAR) FROM nation
                    UNION ALL
                    SELECT 'num_nulls',
                      CAST(sum(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END)
                           AS VARCHAR) FROM nation)"""))),

    // MERGE WITH SCHEMA EVOLUTION (Spark 4 syntax): the source carries a
    // column the target lacks (s_rank); the engine ALTERs the target
    // through the catalog (TableChange.AddColumn → MemTableStore pads
    // existing rows with null) BEFORE running the merge, so matched rows
    // take the new column via UPDATE SET * and unmatched target rows
    // hold null. The evolve-on-write contract lake tables live by.
    Q("src_dsv2_merge_evolve",
      (s, d) => {
        table(s, d, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))
          .write.format("graft.sources.MemTableSource")
          .option("name", "graft_evomem").mode(SaveMode.Overwrite).save()
        s.conf.set("spark.sql.catalog.graftmem", "graft.sources.MemCatalog")
        table(s, d, "nation").filter(col("n_nationkey") < 10)
          .select(col("n_nationkey"), col("n_regionkey"),
            (col("n_nationkey") * 100).as("s_rank"))
          .createOrReplaceTempView("graft_evo_src")
        s.sql(sql("""MERGE WITH SCHEMA EVOLUTION INTO graftmem.graft_evomem t
                     USING graft_evo_src s ON t.n_nationkey = s.n_nationkey
                     WHEN MATCHED THEN UPDATE SET *
                     WHEN NOT MATCHED THEN INSERT *"""))
        s.read.format("graft.sources.MemTableSource")
          .option("name", "graft_evomem").load()
      },
      Some(sql("""SELECT n_nationkey, n_regionkey,
                    CASE WHEN n_nationkey < 10 THEN n_nationkey * 100
                         ELSE NULL END AS s_rank
                  FROM nation"""))),

    // Multiline CSV (quoted embedded newlines): without multiLine=true a
    // CSV parser splits records at every newline and a quoted field
    // containing one silently corrupts the table — the first dirty
    // export every ingestion pipeline meets. The staged file holds a
    // record whose quoted field spans two lines; the read must yield 3
    // records, not 4, with the newline preserved inside the field
    // (travelling as its char count).
    Q("src_csv_multiline",
      (s, _) => {
        val dir = "/tmp/graft_io/csv_multiline"
        Registry.rmTree(new java.io.File(dir))
        new java.io.File(dir).mkdirs()
        val w = new java.io.PrintWriter(s"$dir/data.csv")
        try w.print("id,note\n1,\"line one\nline two\"\n2,plain\n3,\"also plain\"\n")
        finally w.close()
        s.read.option("header", "true").option("multiLine", "true")
          .schema("id BIGINT, note STRING").csv(dir)
          .select(col("id"), length(col("note")).as("note_len"),
            (instr(col("note"), "\n") > 0).cast("int").as("has_newline"))
      },
      Some(sql("""SELECT CAST(id AS BIGINT) AS id,
                    CAST(nl AS INTEGER) AS note_len,
                    CAST(hn AS INTEGER) AS has_newline
                  FROM (VALUES (1, 17, 1), (2, 5, 0), (3, 10, 0)) AS t(id, nl, hn)"""))),

    // wholetext: one row per FILE (the document-ingest shape for corpora
    // stored file-per-doc) — the text-source counterpart of the
    // binaryFile row.
    Q("src_text_wholetext",
      (s, _) => {
        val dir = "/tmp/graft_io/wholetext"
        Registry.rmTree(new java.io.File(dir))
        new java.io.File(dir).mkdirs()
        Seq(("a.txt", "alpha\nbeta\ngamma"), ("b.txt", "delta")).foreach {
          case (n, body) =>
            val w = new java.io.PrintWriter(s"$dir/$n")
            try w.print(body) finally w.close()
        }
        s.read.option("wholetext", "true").text(dir)
          .select(length(col("value")).as("n_chars"),
            (size(split(col("value"), "\n"))).as("n_lines"))
      },
      Some(sql("""SELECT CAST(c AS INTEGER) AS n_chars, CAST(l AS INTEGER) AS n_lines
                  FROM (VALUES (16, 3), (5, 1)) AS t(c, l)"""))),

    // Parquet compression codecs: the same slice written under zstd /
    // gzip / snappy / lz4, each read back with identical contents and
    // the codec PROVEN from the part-file suffix via _metadata.file_name
    // — the storage knob that decides lake cost (zstd) vs scan CPU
    // (snappy/lz4) at 100 TB.
    Q("src_parquet_codecs",
      (s, d) => {
        val base = ioPath(d, "codecs")
        val codecs = Seq("zstd", "gzip", "snappy", "lz4")
        val src = table(s, d, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))
        codecs.foreach { c =>
          src.coalesce(1).write.mode(SaveMode.Overwrite)
            .option("compression", c).parquet(s"$base/$c")
        }
        // parquet's on-disk extension differs from the option value for
        // gzip (.gz) and lz4 (.lz4hadoop — Spark's "lz4" is the Hadoop
        // LZ4 framing); the suffix probe uses the real extensions
        val ext = Map("zstd" -> "zstd", "gzip" -> "gz",
          "snappy" -> "snappy", "lz4" -> "lz4hadoop")
        codecs.map { c =>
          s.read.parquet(s"$base/$c")
            .select(lit(c).as("codec"), col("n_nationkey"),
              col("_metadata.file_name").endsWith(s".${ext(c)}.parquet")
                .cast("int").as("suffix_ok"))
        }.reduce(_ unionAll _)
          .groupBy(col("codec"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_nationkey")).as("key_sum"),
            min(col("suffix_ok")).as("suffix_ok"))
      },
      Some(sql("""SELECT codec, (SELECT count(*) FROM nation) AS n,
                    (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation) AS key_sum,
                    CAST(1 AS INTEGER) AS suffix_ok
                  FROM (VALUES ('zstd'), ('gzip'), ('snappy'), ('lz4')) AS t(codec)"""))),

    // multiLine JSON: a file whose whole content is ONE top-level JSON
    // ARRAY (the REST-API-dump shape) — without multiLine=true the
    // line-oriented reader sees corrupt records; with it the array
    // explodes into rows, including a nested struct field.
    Q("src_json_multiline",
      (s, _) => {
        val dir = "/tmp/graft_io/json_multiline"
        Registry.rmTree(new java.io.File(dir))
        new java.io.File(dir).mkdirs()
        val w = new java.io.PrintWriter(s"$dir/dump.json")
        try w.print("""[
          {"id": 1, "tag": "a", "meta": {"score": 10}},
          {"id": 2, "tag": "b", "meta": {"score": 20}},
          {"id": 3, "tag": "a", "meta": {"score": 30}}
        ]""")
        finally w.close()
        s.read.option("multiLine", "true").json(dir)
          .select(col("id"), col("tag"), col("meta.score").as("score"))
      },
      Some(sql("""SELECT CAST(id AS BIGINT) AS id, tag, CAST(sc AS BIGINT) AS score
                  FROM (VALUES (1, 'a', 10), (2, 'b', 20), (3, 'a', 30))
                    AS t(id, tag, sc)"""))),

    // TRUNCATE TABLE: the fast whole-table clear (delete the data, keep
    // the catalog entry + schema) — probed by re-inserting after the
    // truncate so the result pins both the wipe and that the table
    // remains writable.
    Q("sql_truncate_table",
      (s, d) => {
        Registry.dropManaged(s, "graft_trunc")
        table(s, d, "region").createOrReplaceTempView("graft_reg_tr")
        s.sql(sql("""CREATE TABLE graft_trunc USING parquet AS
                     SELECT r_regionkey, r_name FROM graft_reg_tr"""))
        // the probes are EAGER collects (DDL-lifecycle exception class):
        // a lazy count plan would execute only after the later
        // mutations and observe the final table state three times
        def n(): Long = s.sql("SELECT count(*) FROM graft_trunc").collect()(0).getLong(0)
        val before = n()
        s.sql("TRUNCATE TABLE graft_trunc")
        val after = n()
        s.sql(sql("""INSERT INTO graft_trunc
                     SELECT r_regionkey, r_name FROM graft_reg_tr
                     WHERE r_regionkey < 2"""))
        val refill = n()
        val sq = s; import sq.implicits._
        Seq(("before", before), ("after_truncate", after), ("refilled", refill))
          .toDF("stage", "n")
      },
      Some(sql("""SELECT 'before' AS stage, count(*) AS n FROM region
                  UNION ALL SELECT 'after_truncate', 0
                  UNION ALL SELECT 'refilled', count(*) FROM region
                  WHERE r_regionkey < 2"""))),

    // Explicit partition DDL (ALTER TABLE ADD / DROP PARTITION): the
    // surgical counterpart of MSCK REPAIR — one partition registered by
    // hand, queried, then DROPPED from the catalog while the other
    // survives. SHOW PARTITIONS pins the catalog state after each step.
    Q("sql_alter_partitions",
      (s, d) => {
        val loc = ioPath(d, "alterpart")
        Registry.rmTree(new java.io.File(loc))
        table(s, d, "orders").filter(col("o_orderstatus") === lit("F"))
          .select(col("o_orderkey")).write.mode(SaveMode.Overwrite)
          .parquet(s"$loc/st=F")
        table(s, d, "orders").filter(col("o_orderstatus") === lit("O"))
          .select(col("o_orderkey")).write.mode(SaveMode.Overwrite)
          .parquet(s"$loc/st=O")
        Registry.dropManaged(s, "graft_alterpart")
        s.sql(sql(s"""CREATE TABLE graft_alterpart (o_orderkey BIGINT, st STRING)
                      USING parquet PARTITIONED BY (st) LOCATION '$loc'"""))
        s.sql(s"ALTER TABLE graft_alterpart ADD PARTITION (st='F') LOCATION '$loc/st=F'")
        s.sql(s"ALTER TABLE graft_alterpart ADD PARTITION (st='O') LOCATION '$loc/st=O'")
        // eager probes (DDL-lifecycle exception class): lazy counts would
        // all observe the post-DROP state
        def rows(): Long =
          s.sql("SELECT count(*) FROM graft_alterpart").collect()(0).getLong(0)
        def parts(): Long = s.sql("SHOW PARTITIONS graft_alterpart").count()
        val (p0, r0) = (parts(), rows())
        s.sql("ALTER TABLE graft_alterpart DROP PARTITION (st='O')")
        val (p1, r1) = (parts(), rows())
        val sq = s; import sq.implicits._
        Seq(("parts_added", p0), ("rows_both", r0),
          ("parts_after_drop", p1), ("rows_after_drop", r1)).toDF("probe", "n")
      },
      Some(sql("""SELECT 'parts_added' AS probe, 2 AS n
                  UNION ALL SELECT 'rows_both', count(*) FROM orders
                  WHERE o_orderstatus IN ('F', 'O')
                  UNION ALL SELECT 'parts_after_drop', 1
                  UNION ALL SELECT 'rows_after_drop', count(*) FROM orders
                  WHERE o_orderstatus = 'F'"""))),

    // SaveMode semantics grid: Ignore must leave existing data untouched
    // (a silent no-op), ErrorIfExists must RAISE, and Append must
    // accumulate — the writer contract that decides whether a re-run
    // job duplicates, destroys, or skips. Eager probes per step; the
    // ErrorIfExists raise travels as a string row.
    Q("src_save_modes",
      (s, d) => {
        val path = ioPath(d, "savemodes")
        Registry.rmTree(new java.io.File(path))
        val src = table(s, d, "region").select(col("r_regionkey"))
        src.write.mode(SaveMode.Overwrite).parquet(path)
        src.filter(col("r_regionkey") < 2).write.mode(SaveMode.Ignore).parquet(path)
        val afterIgnore = s.read.parquet(path).count()
        val raised = scala.util.Try(
          src.write.mode(SaveMode.ErrorIfExists).parquet(path)).isFailure
        src.filter(col("r_regionkey") < 2).write.mode(SaveMode.Append).parquet(path)
        val afterAppend = s.read.parquet(path).count()
        val sq = s; import sq.implicits._
        Seq(("after_ignore", afterIgnore, ""),
          ("error_if_exists", -1L, if (raised) "raised" else "no_error"),
          ("after_append", afterAppend, ""))
          .toDF("probe", "n", "note")
      },
      Some(sql("""SELECT 'after_ignore' AS probe, count(*) AS n, '' AS note FROM region
                  UNION ALL SELECT 'error_if_exists', -1, 'raised'
                  UNION ALL
                  SELECT 'after_append',
                    count(*) + (SELECT count(*) FROM region WHERE r_regionkey < 2),
                    '' FROM region"""))),

    // CREATE TABLE LIKE: clone the SCHEMA of an existing table into an
    // empty one — the scaffold for staging tables; pinned by the cloned
    // column signature plus the empty-then-insert counts.
    Q("sql_create_table_like",
      (s, d) => {
        Registry.dropManaged(s, "graft_like_src")
        Registry.dropManaged(s, "graft_like_dst")
        table(s, d, "region").createOrReplaceTempView("graft_reg_like")
        s.sql(sql("""CREATE TABLE graft_like_src USING parquet AS
                     SELECT r_regionkey, r_name FROM graft_reg_like"""))
        s.sql("CREATE TABLE graft_like_dst LIKE graft_like_src USING parquet")
        val empty = s.sql("SELECT count(*) FROM graft_like_dst").collect()(0).getLong(0)
        s.sql(sql("""INSERT INTO graft_like_dst
                     SELECT r_regionkey, r_name FROM graft_reg_like
                     WHERE r_regionkey >= 3"""))
        val filled = s.sql("SELECT count(*) FROM graft_like_dst").collect()(0).getLong(0)
        val schemaSig = s.table("graft_like_dst").schema.simpleString
        val sq = s; import sq.implicits._
        Seq(("empty_clone", empty, schemaSig), ("after_insert", filled, schemaSig))
          .toDF("stage", "n", "schema_sig")
      },
      Some(sql("""SELECT 'empty_clone' AS stage, 0 AS n,
                    'struct<r_regionkey:int,r_name:string>' AS schema_sig
                  UNION ALL
                  SELECT 'after_insert', count(*),
                    'struct<r_regionkey:int,r_name:string>'
                  FROM region WHERE r_regionkey >= 3"""))),

    // TYPED PARTITION-VALUE INFERENCE: a fact partitioned by an INTEGER
    // column — partition discovery must type the directory values back
    // to INT (not string), comparisons must prune directories
    // numerically, and the inferred type travels as a schema signature.
    // The classic gotcha: '9' < '10' is false as strings.
    Q("src_partition_typed",
      (s, d) => {
        val path = ioPath(d, "part_typed")
        table(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            pmod(col("o_custkey"), lit(12)).cast("int").as("pmod12"))
          .write.partitionBy("pmod12").mode(SaveMode.Overwrite).parquet(path)
        val back = s.read.parquet(path)
        back.filter(col("pmod12") < 10) // numeric pruning: keeps 0..9
          .groupBy(col("pmod12"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
          .withColumn("ptype", lit(back.schema("pmod12").dataType.simpleString))
      },
      Some(sql("""SELECT CAST(o_custkey % 12 AS INTEGER) AS pmod12,
                    count(*) AS n, round(sum(o_totalprice), 4) AS total,
                    'int' AS ptype
                  FROM orders WHERE o_custkey % 12 < 10
                  GROUP BY 1"""))),

    // ignoreCorruptFiles: a directory mixing healthy parquet with a
    // truncated-garbage file — the default read RAISES (no silent data
    // loss), and with spark.sql.files.ignoreCorruptFiles=true the scan
    // survives on the healthy files. Both halves of the resilience
    // contract as data; the flag is restored in a finally.
    Q("src_ignore_corrupt_files",
      (s, d) => {
        val dir = "/tmp/graft_io/corrupt_files"
        Registry.rmTree(new java.io.File(dir))
        new java.io.File(dir).mkdirs()
        val sq = s; import sq.implicits._
        (0 until 20).map(_.toLong).toDF("v").coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/_tmp")
        val part = new java.io.File(s"$dir/_tmp").listFiles()
          .find(_.getName.startsWith("part-")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(s"$dir/good.parquet").toPath): Unit
        Registry.rmTree(new java.io.File(s"$dir/_tmp"))
        val w = new java.io.FileOutputStream(s"$dir/broken.parquet")
        try w.write("PAR1garbage-not-a-footer".getBytes) finally w.close()
        val raised = scala.util.Try(
          s.read.schema("v BIGINT").parquet(dir).count()).isFailure
        val survived = withConfs(s, Map("spark.sql.files.ignoreCorruptFiles" -> "true")) {
          s.read.schema("v BIGINT").parquet(dir)
            .agg(count(lit(1)), sum(col("v"))).collect()(0)
        }
        Seq((if (raised) "raised" else "no_error",
          survived.getLong(0), survived.getLong(1)))
          .toDF("default_read", "n_survived", "sum_survived")
      },
      Some(sql("""SELECT 'raised' AS default_read, CAST(20 AS BIGINT) AS n_survived,
                    CAST(190 AS BIGINT) AS sum_survived"""))),

    // PARQUET BLOOM FILTERS (beyond-ref; parquet-format SBBF): the
    // point-lookup skip index for high-cardinality columns that min/max
    // row-group stats can't serve (random keys span every range). At
    // 100 TB a `WHERE key = x` probe skips every row group whose bloom
    // says "definitely absent" — written here per column via the
    // `parquet.bloom.filter.enabled#col` writer option, and proven
    // on-disk by reading the footer's bloom-filter offset back through
    // parquet-hadoop (bounded: ONE file, driver-side — the documented
    // declaration-time exception pattern). The lookup itself and the
    // full round-trip are oracled on data.
    Q("src_parquet_bloom",
      (s, d) => {
        val base = ioPath(d, "bloom")
        table(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .option("parquet.bloom.filter.enabled#o_custkey", "true")
          .option("parquet.bloom.filter.expected.ndv#o_custkey", "2000")
          // parquet DROPS the bloom when a chunk ends up fully
          // dictionary-encoded (the dictionary already answers exact
          // membership); a 1.5k-distinct test column dict-encodes, so
          // turn the dictionary off for JUST this column to exercise
          // the bloom path the way a 100 TB high-cardinality key would
          .option("parquet.enable.dictionary#o_custkey", "false")
          .parquet(base)
        val file = new java.io.File(base).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(file.getAbsolutePath),
            new org.apache.hadoop.conf.Configuration()))
        val bloomWritten = try {
          import scala.jdk.CollectionConverters._
          reader.getFooter.getBlocks.asScala.forall(
            _.getColumns.asScala.exists(c =>
              c.getPath.toDotString == "o_custkey" && c.getBloomFilterOffset >= 0))
        } finally reader.close()
        s.read.parquet(base)
          .groupBy()
          .agg(count(lit(1)).as("roundtrip_n"),
            sum(when(col("o_custkey") === 7, 1L).otherwise(0L)).as("lookup_n"))
          .select(col("roundtrip_n"), col("lookup_n"),
            lit(bloomWritten).as("bloom_written"))
      },
      Some(sql("""SELECT count(*) AS roundtrip_n,
                    CAST(sum(CASE WHEN o_custkey = 7 THEN 1 ELSE 0 END) AS BIGINT)
                      AS lookup_n,
                    TRUE AS bloom_written
                  FROM orders"""))),

    // COMPRESSED TEXT INGEST: line formats infer the codec from the
    // file EXTENSION (.gz here) — no option needed, the transparent
    // decompression every log-ingest pipeline leans on. (Caveat worth
    // pinning: gzip is NOT splittable, so at 100 TB one .gz file = one
    // task — shard compressed logs or use a splittable codec.) Staged
    // gzip file, read back through spark.read.text, field-parsed.
    Q("src_text_gzip",
      (s, _) => {
        val dir = "/tmp/graft_io/text_gz"
        Registry.rmTree(new java.io.File(dir))
        new java.io.File(dir).mkdirs()
        val w = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
          new java.io.FileOutputStream(s"$dir/lines.txt.gz")))
        try (0 until 500).foreach(i => w.println(s"row,$i,${i * i % 41}"))
        finally w.close()
        s.read.text(dir)
          .select(split(col("value"), ",").as("p"))
          .select(col("p").getItem(1).cast("long").as("i"),
            col("p").getItem(2).cast("long").as("v"))
          .agg(count(lit(1)).as("n"), sum(col("i")).as("sum_i"),
            sum(col("v")).as("sum_v"))
      },
      Some(sql("""SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_i,
                    CAST(sum(k * k % 41) AS BIGINT) AS sum_v
                  FROM (SELECT unnest(generate_series(0, 499)) AS k)""")))
  )
}
