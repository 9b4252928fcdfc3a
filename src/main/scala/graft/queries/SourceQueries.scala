package graft.queries

import graft.Engine.table
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import Registry.{dropManaged, ioPath, sql}

/** SURVEY §2.1 — sources and sinks: JSON (write + schema-inferred read,
  * JSONRelation/JsonRDD analog), CSV (text-format round-trip), raw text
  * (textFile/saveAsTextFile analog), and partitioned parquet with
  * directory partition discovery + pruning (ParquetRelation2/newParquet
  * analog). Each query round-trips through a real on-disk sink and is
  * oracle-checked against the original table, so writer AND reader paths
  * are both verified. JDBC (§2.1 JDBCRelation) is omitted: no database is
  * reachable in this environment; `spark.read/write.jdbc` is the
  * documented built-in mapping.
  *
  * Scale posture: writers shuffle-free (write from the scan's own
  * partitioning); the partitioned-parquet read proves partition pruning
  * (only the o_orderstatus=F directory is listed), which at 100 TB is the
  * difference between scanning one partition and the whole lake.
  */
object SourceQueries {

  val all: Seq[Q] = Seq(

    // JSON round-trip with inferred schema (JsonRDD.inferSchema analog).
    Q("src_json_roundtrip",
      (s, d) => {
        val path = ioPath(d, "orders_json")
        table(s, d, "orders").filter(col("o_totalprice") > 200000.0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode(SaveMode.Overwrite).json(path)
        s.read.json(path) // schema inferred by sampling
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      },
      Some(sql("""SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS total
                  FROM orders WHERE o_totalprice > 200000.0 GROUP BY o_orderstatus"""))),

    // JSON inference WIDENING (reference json/JsonRDD.scala:44
    // inferSchema, :156 compatibleType): lines with CONFLICTING field
    // types must resolve by the widening ladder — int→double→string
    // fallback (original text preserved on string fallback), structs
    // field-merged across lines, untyped nulls pinning nothing. The
    // staged fixture holds one conflict per class; the inferred schema
    // itself travels as a data column (schema_sig) so the oracle pins
    // TYPES as well as values.
    Q("src_json_widening",
      (s, d) => {
        val path = ioPath(d, "json_widening")
        new java.io.File(path).mkdirs()
        val w = new java.io.PrintWriter(s"$path/data.json")
        try w.print(Seq(
          """{"id": 1, "a": 1,    "b": "x",  "c": 7,    "d": 1,   "s": {"p": 1}}""",
          """{"id": 2, "a": 2.5,  "b": 3,    "c": 8,    "d": 2.5, "s": {"q": "z"}}""",
          """{"id": 3, "a": "w7", "b": null, "c": null, "d": 3,   "s": {"p": 4, "q": "y"}}""",
          """{"id": 4, "a": null, "b": true, "c": 9,    "d": 4}""").mkString("\n"))
        finally w.close()
        val df = s.read.json(path)
        df.select(col("id"), col("a"), col("b"), col("c"), col("d"),
            col("s.p").as("s_p"), col("s.q").as("s_q"))
          .withColumn("schema_sig", lit(df.schema.simpleString))
      },
      Some(sql("""
        SELECT CAST(id AS BIGINT) AS id, a, b, CAST(c AS BIGINT) AS c,
               CAST(d AS DOUBLE) AS d, CAST(s_p AS BIGINT) AS s_p, s_q,
               'struct<a:string,b:string,c:bigint,d:double,id:bigint,s:struct<p:bigint,q:string>>' AS schema_sig
        FROM (VALUES
          (1, '1',    'x',    7,    1.0, 1,    NULL),
          (2, '2.5',  '3',    8,    2.5, NULL, 'z'),
          (3, 'w7',   NULL,   NULL, 3.0, 4,    'y'),
          (4, NULL,   'true', 9,    4.0, NULL, NULL)
        ) AS t(id, a, b, c, d, s_p, s_q)"""))),

    // JSON corrupt-record modes (reference json/JSONRelation.scala:121,
    // JsonRDD.scala:40 columnNameOfCorruptRecords): a file mixing valid
    // lines, a type-violating line, and non-JSON garbage, read under all
    // three parser modes. PERMISSIVE pins the `_corrupt_record` contract
    // (garbage → whole raw line, every data field null; a TYPE violation
    // → the parsable fields keep their values, the violating field nulls,
    // AND the raw line is preserved — Spark's partial-results semantics);
    // DROPMALFORMED pins the survivor count — 3, NOT 2: a line that
    // parses as JSON but violates the schema type is NOT "malformed"
    // (its violating field nulls out and the record survives); only the
    // non-JSON garbage line is dropped. FAILFAST pins that the read
    // RAISES (travelling as a boolean row). The FAILFAST probe runs one
    // count at declaration — documented exception to the zero-jobs
    // contract (same class as the stat truth tables): an error contract
    // can only be observed by executing.
    Q("src_json_corrupt",
      (s, d) => {
        val path = ioPath(d, "json_corrupt")
        new java.io.File(path).mkdirs()
        val w = new java.io.PrintWriter(s"$path/data.json")
        try w.print(Seq(
          """{"id": 1, "v": 10}""",
          """garbage not json""",
          """{"id": 2, "v": "abc"}""",
          """{"id": 3, "v": 30}""").mkString("\n"))
        finally w.close()
        val perm = s.read.schema("id BIGINT, v BIGINT, _corrupt_record STRING")
          .json(path)
          .select(lit("permissive").as("mode"), col("id"), col("v"),
            col("_corrupt_record").as("corrupt"), lit(null).cast("long").as("n"))
        val drop = s.read.schema("id BIGINT, v BIGINT")
          .option("mode", "DROPMALFORMED").json(path)
          .agg(count(lit(1)).as("cnt"))
          .select(lit("dropmalformed").as("mode"), lit(null).cast("long").as("id"),
            lit(null).cast("long").as("v"), lit(null).cast("string").as("corrupt"),
            col("cnt").as("n"))
        val raised = scala.util.Try(
          s.read.schema("id BIGINT, v BIGINT").option("mode", "FAILFAST")
            .json(path).count()).isFailure
        val fail = s.range(1).select(lit("failfast").as("mode"),
          lit(null).cast("long").as("id"), lit(null).cast("long").as("v"),
          lit(if (raised) "raised" else "no_error").as("corrupt"),
          lit(null).cast("long").as("n"))
        perm.unionAll(drop).unionAll(fail)
      },
      Some(sql("""SELECT mode, CAST(id AS BIGINT) AS id, CAST(v AS BIGINT) AS v,
            corrupt, CAST(n AS BIGINT) AS n FROM (VALUES
          ('permissive', 1, 10,   NULL, NULL),
          ('permissive', NULL, NULL, 'garbage not json', NULL),
          ('permissive', 2, NULL, '{"id": 2, "v": "abc"}', NULL),
          ('permissive', 3, 30,   NULL, NULL),
          ('dropmalformed', NULL, NULL, NULL, 3),
          ('failfast', NULL, NULL, 'raised', NULL)
        ) AS t(mode, id, v, corrupt, n)"""))),

    // Row-level DELETE through the DSv2 SPI (SupportsDeleteV2 +
    // TableCatalog, sources/MemTableSource.scala): SQL `DELETE FROM`
    // resolves the mem table via the graftmem catalog, the engine
    // translates the WHERE into connector Predicates, and the SOURCE
    // filters its own storage — the row-level-operation half of the
    // data-source SPI that InsertableRelation-era interfaces never had.
    // canDeleteWhere accepts only predicates the metadata evaluator can
    // prove; anything else falls back to the group-based row-level
    // rewrite (scan, filter, replace — src_dsv2_merge's machinery), so
    // an untranslatable delete is slower, never wrong.
    Q("src_dsv2_delete",
      (s, d) => {
        table(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .write.format("graft.sources.MemTableSource")
          .option("name", "graft_delmem").mode(SaveMode.Overwrite).save()
        s.conf.set("spark.sql.catalog.graftmem", "graft.sources.MemCatalog")
        s.sql("DELETE FROM graftmem.graft_delmem WHERE s_suppkey < 3")
        s.read.format("graft.sources.MemTableSource")
          .option("name", "graft_delmem").load()
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 4).as("bal"))
      },
      Some(sql("""SELECT s_nationkey, count(*) AS n,
                    round(sum(s_acctbal), 4) AS bal
                  FROM supplier WHERE s_suppkey >= 3
                  GROUP BY s_nationkey"""))),

    // Nested-schema pruning: a parquet file of deeply nested structs
    // read back with only two LEAVES referenced — the scan must read
    // struct<meta:struct<lang,n_chars>> and nothing else (no text, no
    // payload struct), the columnar contract that decides whether a
    // 100 TB nested-event corpus reads 2 columns or 200. PlanSpec
    // asserts the pruned ReadSchema; the result oracles against the
    // flat source table.
    Q("src_nested_pruning",
      (s, d) => {
        val path = ioPath(d, "docs_nested")
        table(s, d, "documents")
          .select(col("doc_id"),
            struct(struct(col("lang"), col("n_chars")).as("meta"),
              col("source").as("origin")).as("info"),
            struct(col("text"), length(col("text")).as("len")).as("payload"))
          .write.mode(SaveMode.Overwrite).parquet(path)
        s.read.parquet(path)
          .filter(col("info.meta.n_chars") > 200)
          .groupBy(col("info.meta.lang").as("lang"))
          .agg(count(lit(1)).as("n"))
      },
      Some(sql("""SELECT lang, count(*) AS n FROM documents
                  WHERE n_chars > 200 GROUP BY lang"""))),

    // CSV malformed-record modes — the CSV sibling of src_json_corrupt,
    // pinning where the two sources DISAGREE about what "malformed"
    // means: in CSV a type-violating field marks the whole record
    // malformed (dropped by DROPMALFORMED), whereas JSON keeps it as a
    // partial result; SHORT and over-long rows are malformed too —
    // PERMISSIVE still salvages the parsable prefix (partial values
    // with _corrupt_record set). PERMISSIVE pins per-row
    // partial values + _corrupt_record, DROPMALFORMED the survivor
    // count, FAILFAST the raised error (same declaration-time probe
    // exception as src_json_corrupt).
    Q("src_csv_corrupt",
      (s, d) => {
        val path = ioPath(d, "csv_corrupt")
        new java.io.File(path).mkdirs()
        val w = new java.io.PrintWriter(s"$path/data.csv")
        try w.print(Seq(
          "1,10",
          "2,abc",
          "3",
          "4,40,99",
          "5,50").mkString("\n"))
        finally w.close()
        val perm = s.read.schema("id BIGINT, v BIGINT, _corrupt_record STRING")
          .csv(path)
          .select(lit("permissive").as("mode"), col("id"), col("v"),
            col("_corrupt_record").as("corrupt"), lit(null).cast("long").as("n"))
        // CSV parses only the REFERENCED columns (parser column pruning),
        // so a bare count() observes no malformed fields at all — the
        // drop/failfast probes must reference every schema column to pin
        // the documented semantics. The survivor checksum sum(id+v)
        // rides in `corrupt` to also pin WHICH rows survived.
        val drop = s.read.schema("id BIGINT, v BIGINT")
          .option("mode", "DROPMALFORMED").csv(path)
          .agg(count(lit(1)).as("cnt"),
            sum(col("id") + col("v")).cast("string").as("chk"))
          .select(lit("dropmalformed").as("mode"), lit(null).cast("long").as("id"),
            lit(null).cast("long").as("v"), col("chk").as("corrupt"),
            col("cnt").as("n"))
        val raised = scala.util.Try(
          s.read.schema("id BIGINT, v BIGINT").option("mode", "FAILFAST")
            .csv(path).selectExpr("sum(id + v)").collect()).isFailure
        val fail = s.range(1).select(lit("failfast").as("mode"),
          lit(null).cast("long").as("id"), lit(null).cast("long").as("v"),
          lit(if (raised) "raised" else "no_error").as("corrupt"),
          lit(null).cast("long").as("n"))
        perm.unionAll(drop).unionAll(fail)
      },
      Some(sql("""SELECT mode, CAST(id AS BIGINT) AS id, CAST(v AS BIGINT) AS v,
            corrupt, CAST(n AS BIGINT) AS n FROM (VALUES
          ('permissive', 1, 10,   NULL, NULL),
          ('permissive', 2, NULL, '2,abc', NULL),
          ('permissive', 3, NULL, '3', NULL),
          ('permissive', 4, 40,   '4,40,99', NULL),
          ('permissive', 5, 50,   NULL, NULL),
          ('dropmalformed', NULL, NULL, '66', 2),
          ('failfast', NULL, NULL, 'raised', NULL)
        ) AS t(mode, id, v, corrupt, n)"""))),

    // XML round-trip (Spark 4 merged the spark-xml data source into
    // sql/core — a source format the reference era never had): write
    // with an explicit rowTag, read back with schema inference, and
    // aggregate. Verifies the full writer/reader option surface of the
    // newest built-in format.
    Q("src_xml_roundtrip",
      (s, d) => {
        val path = ioPath(d, "supplier_xml")
        table(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .write.mode(SaveMode.Overwrite)
          .option("rowTag", "supplier").xml(path)
        s.read.option("rowTag", "supplier").xml(path)
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 4).as("total"))
      },
      Some(sql("""SELECT s_nationkey, count(*) AS n,
                    round(sum(s_acctbal), 4) AS total
                  FROM supplier GROUP BY s_nationkey"""))),

    // CSV round-trip with header + explicit schema on read.
    Q("src_csv_roundtrip",
      (s, d) => {
        val path = ioPath(d, "nation_csv")
        table(s, d, "nation").write.mode(SaveMode.Overwrite)
          .option("header", "true").csv(path)
        s.read.option("header", "true")
          .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, n_comment STRING")
          .csv(path)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      },
      Some(sql("SELECT n_nationkey, n_name, n_regionkey FROM nation"))),

    // Raw text sink + source (textFile/saveAsTextFile analog).
    Q("src_text_roundtrip",
      (s, d) => {
        val path = ioPath(d, "docs_text")
        table(s, d, "documents").select(concat_ws("\t", col("doc_id"), col("text")))
          .write.mode(SaveMode.Overwrite).text(path)
        s.read.text(path)
          .select(split(col("value"), "\t").getItem(0).cast("long").as("doc_id"),
            length(split(col("value"), "\t").getItem(1)).cast("long").as("n_chars_rt"))
      },
      Some(sql("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_rt FROM documents"))),

    // Partitioned parquet write → partition discovery → PRUNED read: the
    // filter on the partition column must prune directories, not rows.
    Q("src_parquet_partitioned",
      (s, d) => {
        val path = ioPath(d, "orders_part")
        table(s, d, "orders")
          .write.mode(SaveMode.Overwrite).partitionBy("o_orderstatus").parquet(path)
        s.read.parquet(path)
          .filter(col("o_orderstatus") === "F") // partition pruning
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_price"))
      },
      Some(sql("""SELECT o_orderpriority, count(*) AS n,
                   round(avg(o_totalprice), 4) AS avg_price
                  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority"""))),

    // Parquet schema-merging read (mergeSchema, newParquet.scala:175):
    // two writes with different column subsets, one merged scan.
    Q("src_parquet_merge_schema",
      (s, d) => {
        val base = ioPath(d, "merge_schema")
        val r = table(s, d, "region")
        r.select(col("r_regionkey")).write.mode(SaveMode.Overwrite).parquet(s"$base/p=1")
        r.select(col("r_regionkey"), col("r_name")).write.mode(SaveMode.Overwrite).parquet(s"$base/p=2")
        s.read.option("mergeSchema", "true").parquet(base)
          .groupBy(col("p"))
          .agg(count(lit(1)).as("n"), count(col("r_name")).as("n_named"))
      },
      Some(sql("""SELECT 1 AS p, count(*) AS n, 0 AS n_named FROM region
                  UNION ALL
                  SELECT 2 AS p, count(*) AS n, count(r_name) AS n_named FROM region"""))),

    // Object-file round-trip (RDD.saveAsObjectFile:1570 / objectFile —
    // the java-serialized RDD sink of §2.1).
    Q("src_object_file",
      (s, d) => {
        import s.implicits._
        val path = ioPath(d, "obj_rdd")
        val dir = new java.io.File(path)
        if (dir.exists()) Registry.rmTree(dir)
        table(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
          .as(org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
          .rdd.saveAsObjectFile(path)
        s.sparkContext.objectFile[(Long, Long)](path)
          .toDF("s_suppkey", "s_nationkey")
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), sum(col("s_suppkey")).as("key_sum"))
      },
      // CAST: DuckDB sum(BIGINT) yields HUGEINT whose rendering diverges
      // from Spark's long at the harness hash (sum-of-double queries are
      // unaffected — this is the repo's only integer-sum oracle).
      Some(sql("""SELECT s_nationkey, count(*) AS n,
                   CAST(sum(s_suppkey) AS BIGINT) AS key_sum
                  FROM supplier GROUP BY s_nationkey"""))),

    // binaryFile source (the built-in whole-file binary reader — the
    // ingest format for the multimodal pipelines, which otherwise read
    // pre-packed parquet binary columns): stage one file per nation
    // (content = the name bytes; 25 fixed rows, the bounded staging
    // class of the stat rows), read the directory back as
    // (path, length, content), and fingerprint each file. The oracle
    // recomputes name lengths + md5 from the nation table itself.
    Q("src_binary_files",
      (s, d) => {
        val path = ioPath(d, "bin_files")
        val dir = new java.io.File(path)
        if (dir.exists()) Registry.rmTree(dir)
        dir.mkdirs()
        table(s, d, "nation").select(col("n_nationkey"), col("n_name"))
          .collect().foreach { r =>
            val key = r.get(0).asInstanceOf[Number].longValue
            java.nio.file.Files.write(
              new java.io.File(dir, f"n_$key%03d.bin").toPath,
              r.getString(1).getBytes("UTF-8")): Unit
          }
        s.read.format("binaryFile").load(path)
          .select(element_at(split(col("path"), "/"), -1).as("fname"),
            col("length"), md5(col("content")).as("content_md5"))
      },
      Some(sql("""SELECT concat('n_', lpad(CAST(n_nationkey AS VARCHAR), 3, '0'), '.bin') AS fname,
                    CAST(length(n_name) AS BIGINT) AS length,
                    md5(n_name) AS content_md5
                  FROM nation"""))),

    // Sequence-file round-trip (SequenceFileRDDFunctions — the Hadoop
    // Writable sink of §2.1).
    Q("src_sequence_file",
      (s, d) => {
        import s.implicits._
        val path = ioPath(d, "seq_rdd")
        val dir = new java.io.File(path)
        if (dir.exists()) Registry.rmTree(dir)
        table(s, d, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"))
          .as(org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING))
          .rdd.saveAsSequenceFile(path)
        s.sparkContext.sequenceFile[Long, String](path)
          .toDF("n_nationkey", "n_name")
      },
      Some(sql("SELECT n_nationkey, n_name FROM nation"))),

    // saveAsTable + insertInto (DataFrame.scala:1013/:1204): managed table
    // in the session warehouse, overwritten then appended → exactly two
    // copies every run (repetition-safe).
    Q("src_save_as_table",
      (s, d) => {
        val src = table(s, d, "nation")
        dropManaged(s, "graft_nation_tbl")
        src.write.mode(SaveMode.Overwrite).saveAsTable("graft_nation_tbl")
        src.write.insertInto("graft_nation_tbl")
        s.table("graft_nation_tbl")
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n_rows"), countDistinct(col("n_nationkey")).as("n_distinct"))
      },
      Some(sql("""SELECT n_regionkey, count(*) * 2 AS n_rows,
                   count(DISTINCT n_nationkey) AS n_distinct
                  FROM nation GROUP BY n_regionkey"""))),

    // REAL Hive table lifecycle (HiveTableScan.scala:43 +
    // InsertIntoHiveTable.scala:53): hive-SERDE parquet table in the
    // HiveExternalCatalog (sessions run enableHiveSupport over an
    // embedded metastore), INSERT INTO appends (full set + region-0
    // copy), read back through the catalog. PlanSpec asserts the table's
    // provider is `hive`, not a Spark datasource table.
    Q("src_hive_table",
      (s, d) => {
        dropManaged(s, "graft_hive_nation")
        table(s, d, "nation").createOrReplaceTempView("graft_hive_src")
        s.sql(sql("""CREATE TABLE graft_hive_nation
                     (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)
                     STORED AS PARQUET"""))
        s.sql(sql("""INSERT INTO graft_hive_nation
                     SELECT n_nationkey, n_name, n_regionkey FROM graft_hive_src"""))
        s.sql(sql("""INSERT INTO graft_hive_nation
                     SELECT n_nationkey, n_name, n_regionkey FROM graft_hive_src
                     WHERE n_regionkey = 0"""))
        s.sql(sql("""SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
                     FROM graft_hive_nation GROUP BY n_regionkey"""))
      },
      Some(sql("""SELECT n_regionkey,
                   count(*) * (CASE WHEN n_regionkey = 0 THEN 2 ELSE 1 END) AS n,
                   min(n_name) AS first_name
                  FROM nation GROUP BY n_regionkey"""))),

    // ORC round-trip (the second columnar format of §2.1 — the reference
    // era's parquet/orc pair): write with a partition column, read back
    // with predicate pushdown into the ORC scan.
    Q("src_orc_roundtrip",
      (s, d) => {
        val path = ioPath(d, "orders_orc")
        table(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode(SaveMode.Overwrite).orc(path)
        s.read.orc(path)
          .filter(col("o_totalprice") > 100000.0)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      },
      Some(sql("""SELECT o_orderstatus, count(*) AS n,
                   round(sum(o_totalprice), 4) AS total
                  FROM orders WHERE o_totalprice > 100000.0
                  GROUP BY o_orderstatus"""))),

    // SQL DDL lifecycle (sources/ddl.scala DDLParser `CREATE … USING` +
    // InsertIntoHiveTable semantics via SQL, not the API): CTAS into a
    // managed parquet table, INSERT INTO appends, read back through the
    // catalog. Complements src_save_as_table which drives the same
    // machinery through DataFrameWriter.
    Q("src_sql_ddl",
      (s, d) => {
        dropManaged(s, "graft_ddl_nation")
        table(s, d, "nation").createOrReplaceTempView("graft_ddl_src")
        s.sql(sql("""CREATE TABLE graft_ddl_nation USING parquet AS
                     SELECT n_nationkey, n_name, n_regionkey
                     FROM graft_ddl_src WHERE n_regionkey < 3"""))
        s.sql(sql("""INSERT INTO graft_ddl_nation
                     SELECT n_nationkey, n_name, n_regionkey
                     FROM graft_ddl_src WHERE n_regionkey >= 3"""))
        s.sql(sql("""SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
                     FROM graft_ddl_nation GROUP BY n_regionkey"""))
      },
      Some(sql("""SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
                  FROM nation GROUP BY n_regionkey"""))),

    // DataSource-V2 SPI (reference sources/interfaces.scala:136-197 +
    // filters.scala:23-101): graft.sources.RangeSource is a custom
    // TableProvider with filter pushdown (range narrowing) and column
    // pruning; the oracle recomputes the generator formula in DuckDB.
    // PlanSpec asserts the narrowed range in the scan description.
    Q("src_dsv2_pushdown",
      (s, d) => s.read.format("graft.sources.RangeSource")
        .option("n", "1000").option("partitions", "4").load()
        .filter(col("id") >= 100 && col("id") < 600)
        .groupBy((col("id") % 10).as("m"))
        .agg(count(lit(1)).as("cnt"), sum(col("val")).as("sv")),
      Some(sql("""SELECT i % 10 AS m, count(*) AS cnt,
                   CAST(sum((i*i) % 997) AS BIGINT) AS sv
                  FROM range(100, 600) t(i) GROUP BY 1"""))),

    // Bucketed tables (the co-located-join scale technique; the golden
    // smb_mapjoin_1-25 sort-merge-bucket family): both sides bucketed +
    // sorted on the join key → the sort-merge join needs NO exchange on
    // either side, and with ONE FILE PER BUCKET (the repartition below
    // aligns write tasks to buckets — repartition(8, key) and bucketBy
    // both place a row by murmur3(key) pmod 8) the scan also exposes the
    // sortBy order, so the SMJ needs NO per-side Sort either (both
    // asserted in PlanSpec). At 100 TB this is the difference between
    // re-shuffling + re-sorting the fact table per join and merging
    // pre-clustered, pre-sorted buckets straight off the scan.
    Q("src_bucketed_join",
      (s, d) => {
        dropManaged(s, "graft_ord_bkt")
        dropManaged(s, "graft_cust_bkt")
        table(s, d, "orders")
          .repartition(8, col("o_custkey"))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable("graft_ord_bkt")
        table(s, d, "customer")
          .repartition(8, col("c_custkey"))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable("graft_cust_bkt")
        s.table("graft_ord_bkt")
          .join(s.table("graft_cust_bkt"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      },
      Some(sql("""SELECT c_nationkey, count(*) AS n,
                   round(sum(o_totalprice), 4) AS total
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  GROUP BY c_nationkey"""))),

    // BUCKET-COALESCED JOIN (golden smb_mapjoin family, the mismatched-
    // count half): tables bucketed 8 and 4 on the same key still join
    // WITHOUT shuffling either side — the 8-bucket side's pairs of
    // buckets are read coalesced onto the 4 coarser buckets
    // (spark.sql.bucketing.coalesceBucketsInJoin, an Engine default
    // here). The 100 TB posture for fact-fact joins between tables
    // bucketed independently by different teams. PlanSpec asserts zero
    // Exchange under the join.
    Q("src_bucket_coalesce_join",
      (s, d) => {
        dropManaged(s, "graft_ord_bkt8")
        dropManaged(s, "graft_cust_bkt4")
        table(s, d, "orders")
          .repartition(8, col("o_custkey"))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable("graft_ord_bkt8")
        table(s, d, "customer")
          .repartition(4, col("c_custkey"))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(4, "c_custkey").sortBy("c_custkey")
          .saveAsTable("graft_cust_bkt4")
        s.table("graft_ord_bkt8")
          .join(s.table("graft_cust_bkt4").hint("merge"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      },
      Some(sql("""SELECT c_nationkey, count(*) AS n,
                   round(sum(o_totalprice), 4) AS total
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  GROUP BY c_nationkey"""))),

    // Dynamic partition overwrite (InsertIntoHiveTable's dynamic-partition
    // INSERT OVERWRITE semantics): rewrite ONLY the partitions present in
    // the incoming data — here the 'F' partition gets re-priced while O/P
    // stay untouched. The read-back proves per-partition surgical
    // replacement, the SaveMode.Overwrite + dynamic mode pairing that a
    // daily re-run of one day's partition relies on at 100 TB.
    Q("src_dynamic_overwrite",
      (s, d) => {
        // fixed path: the query starts with a full Overwrite write, so
        // re-runs are idempotent — a pid suffix would leak one partitioned
        // copy of orders per JVM run
        val path = ioPath(d, "orders_dynpart")
        val base = table(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        base.write.mode(SaveMode.Overwrite).partitionBy("o_orderstatus").parquet(path)
        val patch = base.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), round(col("o_totalprice") * 1.1, 4).as("o_totalprice"),
            col("o_orderstatus"))
        patch.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("o_orderstatus").parquet(path)
        s.read.parquet(path)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      },
      Some(sql("""SELECT o_orderstatus, count(*) AS n,
                    round(sum(CASE WHEN o_orderstatus = 'F'
                                   THEN round(o_totalprice * 1.1, 4)
                                   ELSE o_totalprice END), 4) AS total
                  FROM orders GROUP BY o_orderstatus"""))),

    // CSV with non-default dialect options: ';' delimiter, quoted fields
    // containing the delimiter, custom nullValue token — the full
    // writer/reader option surface round-tripped with an explicit schema.
    Q("src_csv_options",
      (s, d) => {
        val path = ioPath(d, "customer_csv_opts")
        table(s, d, "customer")
          .select(col("c_custkey"),
            concat(col("c_name"), lit(";addr")).as("c_name"), // force quoting
            when(col("c_nationkey") % 5 === 0, lit(null).cast("int"))
              .otherwise(col("c_nationkey")).as("nk"))
          .write.mode(SaveMode.Overwrite)
          .option("header", "true").option("delimiter", ";")
          .option("quote", "\"").option("nullValue", "\\N")
          .csv(path)
        s.read
          .schema("c_custkey LONG, c_name STRING, nk INT")
          .option("header", "true").option("delimiter", ";")
          .option("quote", "\"").option("nullValue", "\\N")
          .csv(path)
          .groupBy((col("c_custkey") % 7).as("grp"))
          .agg(count(lit(1)).as("n"),
            count(col("nk")).as("n_nk"),
            sum(length(col("c_name"))).as("name_len"))
      },
      Some(sql("""SELECT c_custkey % 7 AS grp, count(*) AS n,
                    CAST(count(CASE WHEN c_nationkey % 5 <> 0 THEN 1 END) AS BIGINT) AS n_nk,
                    CAST(sum(length(c_name) + 5) AS BIGINT) AS name_len
                  FROM customer GROUP BY 1"""))),

    // DSv2 SINK (InsertableRelation/CreatableRelationProvider analog,
    // reference sources/interfaces.scala:199-203): the full V2 write
    // protocol — overwrite (TRUNCATE) then append through per-task
    // DataWriters + driver-side commit — followed by a read-back through
    // the same provider. Deterministic under re-runs: the first write
    // truncates.
    Q("src_dsv2_sink",
      (s, d) => {
        val fmt = "graft.sources.MemTableSource"
        val name = s"cust_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
        val base = table(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        base.filter(col("c_acctbal") >= 0)
          .write.format(fmt).option("name", name).mode("overwrite").save()
        base.filter(col("c_acctbal") < 0)
          .write.format(fmt).option("name", name).mode("append").save()
        s.read.format(fmt).option("name", name).load()
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 4).as("total"))
      },
      Some(sql("""SELECT c_mktsegment, count(*) AS n,
                    round(sum(c_acctbal), 4) AS total
                  FROM customer GROUP BY c_mktsegment"""))),

    // STATE STORE as a batch SOURCE (Spark 4's statestore reader —
    // sql/core datasources/v2/state/StateDataSource): run a stateful
    // streaming aggregation to a checkpoint, then read the operator's
    // state back as a DataFrame and verify it equals the batch truth.
    // This is the debugging/repair surface every production streaming
    // job eventually needs — inspect (or migrate) checkpointed state
    // WITHOUT replaying the stream. The state rows are the aggregation
    // buffers (count + sum per user_id); the oracle is the same
    // aggregate computed batch-side. The scratch dirs are deleted AFTER
    // the state read materializes (collect + re-parallelize), the one
    // query where the checkpoint must outlive the streaming query itself.
    Q("src_state_store",
      (s, d) => graft.streaming.StreamRunner.scratch(s, "statesrc") { sc =>
        graft.Engine.events(s, d).select(col("user_id"), col("event_id"))
          .coalesce(1).write.mode("overwrite").parquet(sc.src)
        val schema = s.read.parquet(sc.src).schema
        graft.streaming.StreamRunner.run(s.readStream.schema(schema).parquet(sc.src)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
          .writeStream.format("memory").queryName(sc.id).outputMode("update"),
          "src_state_store", sc.ckpt)
        // batch-read the checkpointed state: key struct = group key,
        // value struct = the aggregation buffer (count, sum)
        val state = s.read.format("statestore").load(sc.ckpt)
          .select(col("key.user_id"), col("value.*"))
          .toDF("user_id", "n_events", "sum_ids")
        // materialize BEFORE the checkpoint dir is deleted
        val rows = state.collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 4), state.schema)
      },
      Some(sql("""SELECT user_id, count(*) AS n_events,
                    CAST(sum(event_id) AS BIGINT) AS sum_ids
                  FROM events GROUP BY 1""")))
  )
}
