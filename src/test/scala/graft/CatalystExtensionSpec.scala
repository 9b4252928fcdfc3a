package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom-Catalyst surface: Hamming64 native expression correctness
  * (interpreted + codegen paths agree) and the SimplifySelfHamming
  * optimizer rule folding graft_hamming64(x, x) to a literal 0. */
class CatalystExtensionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("MemTableSource round-trips nested array/struct rows without aliasing") {
    // Spark reuses the incoming UnsafeRow across write() calls; without
    // deep-copying, every buffered row's array/struct views would alias
    // the LAST row's buffer. Distinct per-row nested values prove the fix.
    val in = Seq(
      (1L, Seq("a", "b"), ("x", 10L)),
      (2L, Seq("c"), ("y", 20L)),
      (3L, Seq("d", "e", "f"), ("z", 30L)))
      .toDF("id", "tags", "meta")
    in.write.format("graft.sources.MemTableSource")
      .option("name", "graft_nested_rt").mode("overwrite").save()
    val back = spark.read.format("graft.sources.MemTableSource")
      .option("name", "graft_nested_rt").load()
      .selectExpr("id", "concat_ws(',', tags) AS t", "meta._2 AS m")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(back === Array((1L, "a,b", 10L), (2L, "c", 20L), (3L, "d,e,f", 30L)))
  }

  test("DSv2 DELETE filters source storage; untranslatable predicates take the row-level fallback") {
    Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")).toDF("id", "tag")
      .write.format("graft.sources.MemTableSource")
      .option("name", "graft_del_spec").mode("overwrite").save()
    spark.conf.set("spark.sql.catalog.graftmem", "graft.sources.MemCatalog")
    // compound translatable predicate: comparison AND equality
    spark.sql("DELETE FROM graftmem.graft_del_spec WHERE id >= 3 AND tag = 'a'")
    val left = spark.read.format("graft.sources.MemTableSource")
      .option("name", "graft_del_spec").load()
      .as[(Long, String)].collect().sortBy(_._1)
    assert(left.toSeq === Seq((1L, "a"), (2L, "b"), (4L, "c")))
    // an expression the metadata evaluator can't prove (id % 2 = 0) no
    // longer errors: since the table implements SupportsRowLevelOperations
    // the engine falls back to the GROUP-BASED rewrite (scan, filter,
    // replace) — slower but exact, the Iceberg-style contract. The
    // remaining rows prove the fallback deleted exactly the even ids.
    spark.sql("DELETE FROM graftmem.graft_del_spec WHERE id % 2 = 0")
    val after = spark.read.format("graft.sources.MemTableSource")
      .option("name", "graft_del_spec").load()
      .as[(Long, String)].collect().sortBy(_._1)
    assert(after.toSeq === Seq((1L, "a")))
  }

  test("graft_hamming64 computes popcount of xor") {
    val rows = Seq((255L, 240L), (0L, 0L), (1L, -1L)).toDF("a", "b")
      .selectExpr("graft_hamming64(a, b) AS h").as[Int].collect()
    assert(rows.toSeq === Seq(4, 0, 63))
  }

  test("graft_hamming64 is null-safe") {
    val r = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .selectExpr("graft_hamming64(a, b) AS h").collect()(0)
    assert(r.isNullAt(0))
  }

  test("SimplifySelfHamming folds hamming(x, x) to literal 0") {
    val df = Seq(42L).toDF("x").selectExpr("graft_hamming64(x, x) AS h")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_hamming64"), optimized)
    assert(df.as[Int].collect().toSeq === Seq(0))
  }

  test("graft_hamming64 rejects non-bigint inputs at analysis") {
    val e = intercept[Exception] {
      Seq(("a", "b")).toDF("a", "b").selectExpr("graft_hamming64(a, b)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("bigint"))
  }

  test("graft_cosine matches the composable zip_with form on equal-length input") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)))
      .toDF("a", "b")
    val native = df.selectExpr("graft_cosine(a, b) AS c").as[Double].collect()(0)
    val composed = df.select(
      (aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x) /
        (sqrt(aggregate(transform(col("a"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x)) *
         sqrt(aggregate(transform(col("b"), x => x.cast("double") * x.cast("double")),
           lit(0.0), (acc, x) => acc + x)))).as("c")).as[Double].collect()(0)
    assert(native === composed)
  }

  test("graft_cosine null-propagates on ragged lengths and null elements") {
    // ragged: 3 vs 2 elements → NULL (mirrors zip_with null propagation)
    val ragged = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .selectExpr("graft_cosine(a, b) AS c").collect()(0)
    assert(ragged.isNullAt(0))
    // null element → NULL
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList(Row(Seq[Any](1.0f, null), Seq[Any](1.0f, 2.0f))), schema)
      .selectExpr("graft_cosine(a, b) AS c").collect()(0)
    assert(withNull.isNullAt(0))
  }

  test("graft_minhash16 equals the 16 composed array_min minhashes") {
    import graft.functions.Portable
    val docs = Seq("the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs and more",
        "a b c")
      .toDF("text")
      .select(Portable.shingleHashes(Portable.shingles3(org.apache.spark.sql.functions.col("text"))).as("hs"))
    val fused = docs.selectExpr("graft_minhash16(hs) AS mh").collect()
      .map(_.getSeq[Long](0).toSeq)
    val composed = docs.select(
        org.apache.spark.sql.functions.array(
          (0 until 16).map(i => Portable.minhashFromHashes(org.apache.spark.sql.functions.col("hs"), i)): _*).as("mh"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(fused.toSeq === composed.toSeq)
  }

  test("graft_minhash16 of an empty hash array is null (array_min parity)") {
    val r = Seq(Seq.empty[Long]).toDF("hs").selectExpr("graft_minhash16(hs) AS mh").collect()(0)
    assert(r.isNullAt(0))
  }

  test("native as-of join equals the window-composition as-of join") {
    val native = SparkEntry.queries("join_asof_native")(spark, TestSpark.Sf)
      .collect().map(_.toString).sorted.toSeq
    val composed = SparkEntry.queries("join_asof")(spark, TestSpark.Sf)
      .collect().map(_.toString).sorted.toSeq
    assert(native === composed)
    assert(native.nonEmpty)
  }

  test("graft_topk keeps the best k by (score desc, id asc) across partitions") {
    // 1000 rows over 8 partitions forces real partial/merge; scores tie
    // in pairs (score = id/2) so the id-asc tie-break is exercised
    val rows = (0L until 1000L).map(i => (i % 3, (i / 2).toDouble, i))
    val out = rows.toDF("g", "score", "id").repartition(8)
      .groupBy($"g")
      .agg(expr("graft_topk(score, id, 4)").as("top"))
      .selectExpr("g", "inline(top)")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (g, rs) => g -> rs.map(r => (r.getDouble(1), r.getLong(2))).toSeq }
    // per group: best 4 of the group's rows ordered score desc, id asc
    for (g <- 0L to 2L) {
      val expected = rows.filter(_._1 == g).map(t => (t._2, t._3))
        .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(4)
      assert(out(g) === expected, s"group $g")
    }
  }

  test("graft_topk matches a window top-k over 200k high-cardinality rows") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 200000)
      .selectExpr("id % 7 AS g", "CAST((id * 131) % 997 AS DOUBLE) AS score", "id")
      .repartition(16)
    val native = df.groupBy($"g")
      .agg(expr("graft_topk(score, id, 5)").as("top"))
      .selectExpr("g", "inline(top)")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
    val windowed = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
      .select($"g", $"score", $"id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(native === windowed)
    assert(native.size === 35)
  }

  test("native as-of join handles synthetic edge cases (no match, future-only, equal ts)") {
    // key 1: clicks before and after; key 2: only future clicks (no
    // match); key 3: no clicks at all; key 4: click at EXACTLY the
    // purchase ts (>= must match)
    val right = Seq(
      (1L, 100L, 10L), (1L, 200L, 11L), (1L, 400L, 12L),
      (2L, 900L, 20L),
      (4L, 500L, 40L))
      .toDF("c_user", "c_ts_raw", "c_id")
      .selectExpr("c_user", "timestamp_micros(c_ts_raw) AS c_ts", "c_id")
    val left = Seq(
      (1L, 300L, 1000L), (2L, 300L, 2000L), (3L, 300L, 3000L), (4L, 500L, 4000L))
      .toDF("user_id", "p_ts_raw", "p_id")
      .selectExpr("user_id", "timestamp_micros(p_ts_raw) AS p_ts", "p_id")
    val out = graft.plans.AsOfJoin.asof(left, "user_id", "p_ts", right, "c_user", "c_ts")
      .selectExpr("p_id", "c_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(1000L -> 11L, 2000L -> -1L, 3000L -> -1L, 4000L -> 40L))
  }

  test("graft_topk skips null inputs and caps state at k") {
    val out = Seq[(java.lang.Double, java.lang.Long)](
      (1.0, 10L), (null, 11L), (2.0, null), (3.0, 12L))
      .toDF("score", "id")
      .selectExpr("graft_topk(score, id, 2) AS top")
      .selectExpr("inline(top)").collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(out === Seq((3.0, 12L), (1.0, 10L)))
  }

  test("graft_intl2 matches the composable zip_with form") {
    val df = Seq((Array(5L, -3L, 10L), Array(1L, 2L, 10L))).toDF("a", "b")
    val native = df.selectExpr("graft_intl2(a, b) AS d").as[Long].collect()(0)
    val composed = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x).as("d")).as[Long].collect()(0)
    assert(native === composed)
    assert(native === 41L) // 16 + 25 + 0
  }

  test("graft_intl2 null-propagates on ragged lengths and rejects non-bigint") {
    val ragged = Seq((Array(1L, 2L, 3L), Array(1L, 2L))).toDF("a", "b")
      .selectExpr("graft_intl2(a, b) AS d").collect()(0)
    assert(ragged.isNullAt(0))
    val e = intercept[Exception] {
      Seq((Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b")
        .selectExpr("graft_intl2(a, b)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("bigint"))
  }

  test("graft_overlap64 matches size(array_intersect) on sorted arrays") {
    // includes duplicates (hash collisions count once), ragged lengths,
    // negative values, and disjoint / identical / empty cases
    val cases = Seq(
      (Array(-5L, 1L, 2L, 2L, 7L, 9L), Array(-5L, 2L, 3L, 7L, 7L, 11L)),
      (Array(1L, 2L, 3L), Array(4L, 5L)),
      (Array(1L, 1L, 1L), Array(1L)),
      (Array.empty[Long], Array(1L, 2L)),
      (Array(3L, 3L, 4L), Array(3L, 3L, 4L)))
    val df = cases.toDF("a", "b")
    val got = df.selectExpr("graft_overlap64(a, b) AS o").as[Long].collect().toSeq
    val want = df.select(size(array_intersect(col("a"), col("b"))).cast("long").as("o"))
      .as[Long].collect().toSeq
    assert(got === want)
    // self-overlap = distinct cardinality
    val selfD = df.selectExpr("graft_overlap64(a, a) AS d").as[Long].collect().toSeq
    val wantD = df.select(size(array_distinct(col("a"))).cast("long").as("d"))
      .as[Long].collect().toSeq
    assert(selfD === wantD)
  }

  test("graft_overlap64 equals array_intersect on scalacheck-generated sorted arrays") {
    import org.scalacheck.Gen
    // skewed element domain (0..40) forces dense duplicate/overlap
    // structure that uniform 64-bit values would never produce
    val arr = Gen.listOf(Gen.chooseNum(0L, 40L)).map(_.sorted.toArray)
    val pair = for { a <- arr; b <- arr } yield (a, b)
    val cases = Iterator.continually(Gen.listOfN(50, pair).sample)
      .flatten.take(1).toSeq.flatten
    val df = cases.toDF("a", "b")
    val got = df.selectExpr("graft_overlap64(a, b) AS o").as[Long].collect().toSeq
    val want = df.select(size(array_intersect(col("a"), col("b"))).cast("long").as("o"))
      .as[Long].collect().toSeq
    assert(got === want)
  }

  test("graft_overlap64 is null-safe and rejects non-bigint arrays") {
    val r = Seq((Some(Array(1L)), Option.empty[Array[Long]])).toDF("a", "b")
      .selectExpr("graft_overlap64(a, b) AS o").collect()(0)
    assert(r.isNullAt(0))
    val e = intercept[Exception] {
      Seq((Array(1.0), Array(2.0))).toDF("a", "b")
        .selectExpr("graft_overlap64(a, b)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("bigint"))
  }

  test("graft_overlap64 yields NULL, never a miscount, on null array ELEMENTS") {
    // getLong would read a null element as 0 — the guard must return
    // NULL instead of silently counting the phantom zero. Exercise both
    // the codegen path (column input) and a case where only one side
    // carries the null.
    val df = Seq(
      (Seq[Option[Long]](Some(1L), None, Some(3L)), Seq[Option[Long]](Some(1L), Some(3L))),
      (Seq[Option[Long]](Some(1L), Some(3L)), Seq[Option[Long]](None)),
      (Seq[Option[Long]](Some(1L), Some(3L)), Seq[Option[Long]](Some(3L)))
    ).toDF("a", "b")
    val rows = df.selectExpr("graft_overlap64(a, b) AS o").collect()
    assert(rows(0).isNullAt(0), "null element on the left not detected")
    assert(rows(1).isNullAt(0), "null element on the right not detected")
    assert(rows(2).getLong(0) === 1L, "null-free row must still count overlap")
  }

  test("overlap64 codegen drops the null-element scan when the schema proves it") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def gen(containsNull: Boolean): String = {
      val t = ArrayType(LongType, containsNull)
      val e = graft.plans.Overlap64(
        BoundReference(0, t, nullable = false), BoundReference(1, t, nullable = false))
      e.genCode(new CodegenContext).code.toString
    }
    assert(!gen(containsNull = false).contains("isNullAt"),
      "guard passes survive in code the schema proves unnecessary")
    assert(gen(containsNull = true).contains("isNullAt"),
      "generic nullable inputs must keep the guard")
    // value parity through the no-guard path (array_compact retypes)
    val got = Seq((Seq(1L, 2L, 7L), Seq(2L, 7L, 9L))).toDF("a", "b")
      .select(array_compact(col("a")).as("a"), array_compact(col("b")).as("b"))
      .selectExpr("graft_overlap64(a, b) AS o").as[Long].collect().toSeq
    assert(got === Seq(2L))
  }

  test("mem store throws TYPED catalog errors atomically under its lock (r13 ADVICE)") {
    // the TableCatalog error contract: create-over-existing and
    // rename-to-existing/rename-missing are the typed analysis errors,
    // decided inside the store's synchronized block — a racer can never
    // see a bare require failure (the pre-r14 window: names.contains
    // check in MemCatalog, require in the store)
    import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sch = StructType(Seq(StructField("k", LongType)))
    val a = s"spec_typed_a_${System.nanoTime()}"
    val b = s"spec_typed_b_${System.nanoTime()}"
    graft.sources.MemTableStore.create(a, sch)
    try {
      intercept[TableAlreadyExistsException] {
        graft.sources.MemTableStore.create(a, sch)
      }
      intercept[NoSuchTableException] {
        graft.sources.MemTableStore.renameTable(b, s"${b}_new")
      }
      graft.sources.MemTableStore.create(b, sch)
      intercept[TableAlreadyExistsException] {
        graft.sources.MemTableStore.renameTable(b, a)
      }
    } finally {
      graft.sources.MemTableStore.drop(a): Unit
      graft.sources.MemTableStore.drop(b): Unit
    }
  }

  test("mem store keys by FULL identifier — namespaces never collide (r15 ADVICE)") {
    // pre-fix the store keyed by ident.name() alone: ns1.t and ns2.t
    // collided, a cross-namespace rename "succeeded" by bare name, and a
    // typed error could name a namespaced path never created there
    import graft.sources.MemTableStore
    import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sch = StructType(Seq(StructField("k", LongType)))
    val n = s"spec_ns_${System.nanoTime()}"
    val i1 = Identifier.of(Array("ns1"), n)
    val i2 = Identifier.of(Array("ns2"), n)
    val i3 = Identifier.of(Array("ns3"), n)
    MemTableStore.create(i1, sch)
    try {
      // same bare name in a DIFFERENT namespace is not a collision...
      MemTableStore.create(i2, sch)
      // ...but the same full identifier is
      intercept[TableAlreadyExistsException] { MemTableStore.create(i2, sch) }
      // a cross-namespace rename MOVES the table (pre-fix: keyed by bare
      // name, it left the key unchanged and the source "existed" still)
      MemTableStore.renameTable(i1, i3)
      intercept[NoSuchTableException] {
        MemTableStore.renameTable(i1, Identifier.of(Array("ns4"), n))
      }
      // per-namespace listing sees exactly its own tables
      assert(MemTableStore.namesIn(Array("ns2")).contains(n))
      assert(MemTableStore.namesIn(Array("ns3")).contains(n))
      assert(!MemTableStore.namesIn(Array("ns1")).contains(n))
      assert(!MemTableStore.namesIn(Array.empty[String]).contains(n))
    } finally {
      Seq(i1, i2, i3).foreach(i => MemTableStore.drop(MemTableStore.key(i)): Unit)
    }
  }
}
