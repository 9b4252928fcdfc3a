package graft

import graft.queries.Fuzz
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz (r16 verdict #1): N seeded shapes from the claimed
  * join/agg/null-key grammar, each executed through TWO front-ends of
  * the SAME engine — the DataFrame API plan and the generated Spark SQL
  * text — and, for null-safe shapes, with the graft optimizer rules ON
  * vs OFF. Any divergence is shrunk to a minimal repro before failing,
  * so the fix lands as a readable pinned registry row. The third leg
  * (independent DuckDB execution) is the driver's: FuzzQueries packs
  * seeds 1001-1003 into digest oracle rows.
  *
  * The suite is deterministic (fixed seed, specified LCG), so the
  * coverage census below is exact, not probabilistic: every join type,
  * both equality operators, and the having/limit/filter decorations all
  * appear with double-digit counts in the 200-shape stream.
  */
class FuzzSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val Seed = 42L
  private val N = 200
  private lazy val shapes = Fuzz.shapes(Seed, N)

  /** Canonical multiset of result rows (order- and type-insensitive for
    * the integral-only fuzz schema). */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq
      .map(r => (0 until r.length)
        .map(i => if (r.isNullAt(i)) "NULL" else r.get(i).toString)
        .mkString("|"))
      .sorted

  test(s"coverage census: the $N-shape stream at seed $Seed covers the grammar") {
    val byJoin = shapes.groupBy(_.joinType).view.mapValues(_.size).toMap
    info(s"join types: $byJoin")
    for (jt <- Seq("inner", "left", "right", "full", "semi", "anti"))
      assert(byJoin.getOrElse(jt, 0) >= 15, s"join type $jt under-covered: $byJoin")
    val ns = shapes.count(_.nullSafe)
    info(s"null-safe shapes: $ns / $N")
    assert(ns >= 40 && ns <= 120, s"null-safe coverage off: $ns")
    assert(shapes.count(_.postFilter.nonEmpty) >= 30, "post-filter under-covered")
    assert(shapes.count(_.havingMin.nonEmpty) >= 15, "HAVING under-covered")
    assert(shapes.count(_.limit.nonEmpty) >= 15, "ORDER/LIMIT under-covered")
    assert(shapes.count(_.groupKeys.isEmpty) >= 20, "global aggregates under-covered")
    assert(shapes.count(_.groupKeys.size == 2) >= 30, "two-key grouping under-covered")
    val chains = shapes.flatMap(_.chain)
    info(s"two-hop chains: ${chains.size} / $N " +
      s"(${chains.groupBy(_.joinType).view.mapValues(_.size).toMap})")
    assert(chains.size >= 20, "two-hop join chains under-covered")
    // per-type floor (r18 review): right/full are deliberately
    // double-weighted, but every chain type must still APPEAR — a menu
    // tweak must not silently zero the inner/left reorder coverage the
    // earlier rings established
    for (jt <- Seq("inner", "left", "semi", "anti", "right", "full"))
      assert(chains.count(_.joinType == jt) >= 2,
        s"chain type $jt under-covered: ${chains.groupBy(_.joinType).view.mapValues(_.size).toMap}")
    // r18 ring census — each new class must appear with a solid count
    val nComposite = shapes.count(_.composite)
    info(s"composite-key shapes: $nComposite / $N")
    assert(nComposite >= 30, s"composite two-column keys under-covered: $nComposite")
    assert(shapes.count(s => s.composite && s.nullSafe) >= 8,
      "null-safe composite keys under-covered (the extra-conjunct rule guard)")
    val outerChains = chains.count(c => c.joinType == "right" || c.joinType == "full")
    info(s"right/full second hops: $outerChains")
    assert(outerChains >= 10, s"outer (right/full) chains under-covered: $outerChains")
    val exprKeys = shapes.count(_.groupKeys.exists(g => Set("g4", "g5")(g.name)))
    info(s"expression-key shapes: $exprKeys")
    assert(exprKeys >= 20, s"CASE/arith grouping keys under-covered: $exprKeys")
    val exprAggs = shapes.count(_.aggs.exists(a => Set("a7", "a9")(a.name)))
    info(s"expression-aggregate shapes: $exprAggs")
    assert(exprAggs >= 20, s"expression-argument aggregates under-covered: $exprAggs")
    val tvAggs = shapes.count(s =>
      s.aggs.exists(_.name == "a8") || s.groupKeys.exists(_.name == "g6"))
    info(s"chain-column consumers (a8 or g6): $tvAggs")
    assert(tvAggs >= 3, s"chain-table column consumption under-covered: $tvAggs")
    // r18 ring 2: IN-subquery filters and string group keys
    val inFs = shapes.count(_.inFilter.nonEmpty)
    info(s"IN-subquery filters: $inFs")
    assert(inFs >= 20, s"IN-subquery filters under-covered: $inFs")
    val strKeys = shapes.count(_.groupKeys.exists(_.name == "g7"))
    info(s"string group keys: $strKeys")
    assert(strKeys >= 8, s"string-typed group keys under-covered: $strKeys")
    // r19 ring 3 census — three-valued logic, decorrelation, decimals,
    // NULL-run limit cuts
    val notIns = shapes.count(_.notInFilter.nonEmpty)
    val notInNulls = shapes.count(_.notInFilter.exists(_._2))
    info(s"NOT IN filters: $notIns (with NULL in the subquery: $notInNulls)")
    assert(notIns >= 20, s"NOT IN subqueries under-covered: $notIns")
    assert(notInNulls >= 8,
      s"NULL-bearing NOT IN (the three-valued trap) under-covered: $notInNulls")
    val exists = shapes.count(_.existsFilter.nonEmpty)
    val notExists = shapes.count(_.existsFilter.exists(_._2))
    info(s"correlated EXISTS filters: $exists (negated: $notExists)")
    assert(exists >= 20, s"correlated EXISTS under-covered: $exists")
    assert(notExists >= 8, s"NOT EXISTS under-covered: $notExists")
    val decKeys = shapes.count(_.groupKeys.exists(_.name == "g8"))
    val decAggs = shapes.count(_.aggs.exists(a => Set("a10", "a11")(a.name)))
    info(s"DECIMAL keys: $decKeys, DECIMAL-argument aggregates: $decAggs")
    assert(decKeys >= 10, s"DECIMAL(12,2) group keys under-covered: $decKeys")
    assert(decAggs >= 15, s"DECIMAL-argument aggregates under-covered: $decAggs")
    val nullRunCuts = shapes.count(s =>
      s.groupKeys.headOption.exists(_.name == "g0") && s.limit.exists(_ <= 3))
    info(s"NULL-run limit cuts: $nullRunCuts")
    assert(nullRunCuts >= 8,
      s"limits cutting at/inside the NULLS-FIRST g0 run under-covered: $nullRunCuts")
    // r19 ring 3g: ROLLUP/CUBE shapes (the Expand aggregation path);
    // r20 ring 5b: explicit GROUPING SETS lists (all three floors are
    // structural — the generator's grouping-mode lap cycles the modes)
    val rollups = shapes.count(_.groupMode == 1)
    val cubes = shapes.count(_.groupMode == 2)
    val gsets = shapes.filter(_.groupMode == 3)
    info(s"ROLLUP shapes: $rollups, CUBE shapes: $cubes, " +
      s"GROUPING SETS shapes: ${gsets.size}")
    assert(rollups >= 5, s"ROLLUP under-covered: $rollups")
    assert(cubes >= 5, s"CUBE under-covered: $cubes")
    assert(gsets.size >= 5, s"explicit GROUPING SETS under-covered: ${gsets.size}")
    // the lists must actually be IRREGULAR — at least one multi-set
    // list and at least one list carrying the empty () set (shapes the
    // ROLLUP/CUBE sugar can't spell in isolation)
    info(s"grouping-set lists: ${gsets.map(_.groupSets).mkString("; ")}")
    assert(gsets.exists(_.groupSets.size > 1),
      "no multi-set GROUPING SETS list generated")
    assert(gsets.exists(_.groupSets.exists(_.isEmpty)),
      "no GROUPING SETS list carries the () set")
    // r19 ring 3e/3f: scalar-subquery comparisons and non-equi EXISTS
    val scalars = shapes.count(_.scalarFilter.nonEmpty)
    val ineqs = shapes.count(_.existsIneq.nonEmpty)
    info(s"scalar-subquery comparisons: $scalars, non-equi EXISTS: $ineqs")
    assert(scalars >= 12, s"scalar subqueries under-covered: $scalars")
    assert(ineqs >= 12, s"non-equi correlated EXISTS under-covered: $ineqs")
    // r20 ring 5a: CORRELATED scalar subqueries (the decorrelation-to-
    // left-outer-aggregate path — distinct from ring 3e's uncorrelated
    // cross-join lowering)
    val corrs = shapes.count(_.corrScalar.nonEmpty)
    info(s"correlated scalar subqueries: $corrs")
    assert(corrs >= 12, s"correlated scalar subqueries under-covered: $corrs")
    // r20 ring 5c: set operators — per-variant floor is structural (the
    // generator's set-op lap cycles the 6 variants twice)
    val setOps = shapes.flatMap(_.setOp)
    val byOp = setOps.groupBy(identity).view.mapValues(_.size).toMap
    info(s"set-operator shapes: ${setOps.size} ($byOp)")
    assert(setOps.size >= 20, s"set operators under-covered: ${setOps.size}")
    for (op <- Seq("UNION", "UNION ALL", "EXCEPT", "EXCEPT ALL",
      "INTERSECT", "INTERSECT ALL"))
      assert(byOp.getOrElse(op, 0) >= 2, s"set operator $op under-covered: $byOp")
    // r20 ring 5e: set-op branches as JOIN subtrees (bag arithmetic
    // over join-multiplied rows); both the joined and plain-scan
    // regimes must stay covered (the plain branches keep NULL stripes
    // an inner-join branch drops)
    val joinedBranches = shapes.count(s =>
      s.setOp.nonEmpty && (s.setJoinL.nonEmpty || s.setJoinR.nonEmpty))
    val plainSetOps = shapes.count(s =>
      s.setOp.nonEmpty && s.setJoinL.isEmpty && s.setJoinR.isEmpty)
    val bothJoined = shapes.count(s =>
      s.setOp.nonEmpty && s.setJoinL.nonEmpty && s.setJoinR.nonEmpty)
    info(s"set-op branch joins: $joinedBranches joined / $plainSetOps plain " +
      s"($bothJoined both-branch)")
    assert(joinedBranches >= 10, s"joined set-op branches under-covered: $joinedBranches")
    assert(plainSetOps >= 5, s"plain-scan set-op shapes under-covered: $plainSetOps")
    // determinism spot-pin: the same seed must regenerate the same
    // stream (the digest oracle rows depend on it)
    assert(Fuzz.shapes(Seed, 5).map(_.sqlFor(duck = true)) ===
      shapes.take(5).map(_.sqlFor(duck = true)))
  }

  test("dialect pin: ROLLUP/CUBE over an EMPTY input emit no rows in Spark (DuckDB emits the standard's grand-total row)") {
    // The duck rendering of grouping-set fuzz shapes carries
    // `HAVING count(*) > 0` to mirror THIS behavior (Fuzz.sqlFor). If
    // a future Spark version starts emitting the SQL standard's
    // ()-set row over empty input, this pin fails FIRST with a
    // direct pointer: remove the duck-side guard or every
    // grouping-set digest row goes red at the driver.
    val rollup = spark.sql(
      "SELECT count(*) AS c FROM (SELECT 1 AS a WHERE false) GROUP BY ROLLUP(a)")
    assert(rollup.count() === 0,
      "Spark now emits the empty-input grand-total row for ROLLUP — " +
        "remove the HAVING count(*) > 0 guard from Fuzz.sqlFor's duck leg")
    val cube = spark.sql(
      "SELECT count(*) AS c FROM (SELECT 1 AS a, 2 AS b WHERE false) GROUP BY CUBE(a, b)")
    assert(cube.count() === 0,
      "Spark now emits the empty-input grand-total row for CUBE — " +
        "remove the HAVING count(*) > 0 guard from Fuzz.sqlFor's duck leg")
    // the non-grouping-set contrast BOTH engines agree on: a global
    // aggregate over empty input is ONE row — the guard must never be
    // applied to plain GROUP BY () shapes
    assert(spark.sql("SELECT count(*) AS c FROM (SELECT 1 AS a WHERE false)")
      .count() === 1)
  }

  test("window census + differential: machine-generated OVER shapes agree across front-ends (r19 ring 4)") {
    val N = 80 // 7 fn classes — 60 left the lag class at 3 draws at this seed
    val ws = Fuzz.winShapes(Seed, N)
    // census: every function and (aggregate) frame spelling appears
    val byFn = ws.groupBy(_.fn).view.mapValues(_.size).toMap
    info(s"window fns: $byFn")
    // 0-8: incl. lag (offset), ntile (distribution), and — r20 — the
    // DOUBLE-valued percent_rank/cume_dist (digest-defused via
    // scale-round-cast; the r19 exclusion note is closed)
    for (fn <- 0 to 8)
      assert(byFn.getOrElse(fn, 0) >= 4, s"window fn $fn under-covered: $byFn")
    val aggFrames = ws.filter(s => s.fn == 3 || s.fn == 4)
      .groupBy(_.frame).view.mapValues(_.size).toMap
    info(s"aggregate frames: $aggFrames")
    // 0-3: r20 adds the explicit-offset RANGE frame; floor 2 per class
    // is structural (the generator's frame lap cycles the spellings)
    for (fr <- 0 to 3)
      assert(aggFrames.getOrElse(fr, 0) >= 2,
        s"frame spelling $fr under-covered: $aggFrames")
    assert(ws.count(_.desc) >= 15, "DESC ordering under-covered")
    // ring 4b: windows over JOIN outputs (inner and left both present —
    // the left legs feed NULL-extended rows into the partitions)
    val joined = ws.flatMap(_.join)
    info(s"window-over-join shapes: ${joined.size} " +
      s"(${joined.groupBy(_._2).view.mapValues(_.size).toMap})")
    assert(joined.size >= 15, s"window-over-join under-covered: ${joined.size}")
    for (how <- Seq("inner", "left"))
      assert(joined.count(_._2 == how) >= 5,
        s"window-over-$how-join under-covered")
    // every shape PARTITIONS (by construction — pin the discipline so a
    // generator edit cannot smuggle in a global window)
    ws.foreach { s =>
      assert(s.sqlFor(duck = true).contains("PARTITION BY k"),
        s"window shape ${s.id} lost its partition: ${s.sqlFor(duck = true)}")
    }
    // differential: DF Window leg vs SQL front-end on every shape
    Seq("orders", "customer", "supplier", "lineitem")
      .foreach(t => Engine.table(spark, TestSpark.Sf, t)
        .createOrReplaceTempView(s"fuzz_$t"))
    ws.foreach { s =>
      val a = canon(s.df(spark, TestSpark.Sf))
      val b = canon(spark.sql(s.sqlFor(duck = false)))
      assert(a === b,
        s"window shape ${s.id} diverged:\n  spark-sql: ${s.sqlFor(duck = false)}" +
          s"\n  duckdb   : ${s.sqlFor(duck = true)}\n  spec     : $s")
    }
    info(s"checked $N window shapes (df vs sql)")
  }

  test(s"differential: DataFrame plan == SQL front-end == rules-off on $N seeded shapes") {
    // the generated Spark-dialect SQL references fuzz_-prefixed views
    // (bare names would shadow the shared session's catalog)
    Seq("orders", "customer", "supplier", "lineitem")
      .foreach(t => Engine.table(spark, TestSpark.Sf, t)
        .createOrReplaceTempView(s"fuzz_$t"))

    def legDf(s: Fuzz.ShapeSpec): Seq[String] = canon(s.df(spark, TestSpark.Sf))
    def legSql(s: Fuzz.ShapeSpec): Seq[String] =
      canon(spark.sql(s.sqlFor(duck = false)))
    def legRulesOff(s: Fuzz.ShapeSpec): Seq[String] =
      TestSpark.withoutGraftRules(canon(s.df(spark, TestSpark.Sf)))

    def describeFailure(s: Fuzz.ShapeSpec, kind: String): String = {
      // shrink to the minimal still-failing spec so the repro is
      // readable (and pinnable as a registry row)
      // r19 (r18 ADVICE): distinguish "candidate invalid" (BOTH legs
      // throw — not a smaller repro, reject the step) from "candidate
      // crashed ONE engine" (itself a divergence class — keep shrinking
      // toward it rather than silently masking the smaller repro)
      def fails(c: Fuzz.ShapeSpec): Boolean = {
        def leg(f: => Seq[String]): Either[Throwable, Seq[String]] =
          try Right(f) catch { case t: Throwable => Left(t) }
        val a = leg(legDf(c))
        val b = kind match {
          case "sql" => leg(legSql(c))
          case _ => leg(legRulesOff(c))
        }
        (a, b) match {
          case (Right(x), Right(y)) => x != y
          case (Left(_), Left(_)) => false
          case _ => true
        }
      }
      val min = Fuzz.shrink(s, fails)
      s"shape ${s.id} diverged ($kind). Minimal repro:\n" +
        s"  spark-sql: ${min.sqlFor(duck = false)}\n" +
        s"  duckdb   : ${min.sqlFor(duck = true)}\n" +
        s"  spec     : $min"
    }

    // r21 (r20 verdict #1 — suite wall): this single test was 560 s of
    // the 35-minute suite, dominated by 200 independent shape
    // executions run strictly one-at-a-time on the shared session. The
    // df and sql legs now run through a small thread pool (concurrent
    // jobs in one SparkSession back-fill each other's stage tails —
    // guide §2.6); every shape is still checked and any diverging or
    // throwing shape is re-run SEQUENTIALLY so the assertion message
    // (and the shrinker) behave exactly as before. The rules-off leg
    // stays sequential below: it mutates the session-global
    // experimental-optimizations list, which must not race other legs.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val legs: Seq[(Fuzz.ShapeSpec, Option[(Seq[String], Seq[String])])] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val fs = shapes.map { s =>
          scala.concurrent.Future(
            s -> (try Some((legDf(s), legSql(s))) catch { case _: Throwable => None }))
        }
        fs.map(f => scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration(900, "seconds")))
      } finally pool.shutdown()
    var checked = 0
    var rulesOffChecked = 0
    legs.foreach { case (s, pooled) =>
      // a pooled pair is trusted only when it agrees; a failed or
      // diverging pair is re-run sequentially and judged on that reading
      val (a, b) = pooled match {
        case Some((x, y)) if x == y => (x, y)
        case _ => (legDf(s), legSql(s))
      }
      assert(a === b, describeFailure(s, "sql"))
      checked += 1
      // rules on/off only differs where a graft rule can fire — the
      // null-safe shapes (LinearizeNullSafeCountAgg's domain)
      if (s.nullSafe) {
        val c = legRulesOff(s)
        assert(a === c, describeFailure(s, "rules"))
        rulesOffChecked += 1
      }
    }
    info(s"checked $checked shapes (df vs sql), $rulesOffChecked rules-on/off")
    assert(checked === N)
  }
}
