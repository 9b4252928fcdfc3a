package graft

import graft.queries.{EagerContract, WindowContract}
import org.apache.spark.sql.GraftShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap

/** Every declared capability runs end-to-end at sf0.001 and yields rows.
  * (Value-level correctness is the driver's DuckDB oracle; this guards
  * against regressions that break a query entirely.)
  *
  * The same pass feeds the two registry censuses, registered last so
  * they run after every row: each row is declared once, under its own
  * job group, and the suite records whether that declaration fired a
  * Spark job (the eager census, EagerContract) and whether its analyzed
  * plan holds an unpartitioned Window (the window census,
  * WindowContract). A row without a record, as in a `-z` filtered run,
  * is declared by the census itself. */
class RegistrySpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = TestSpark.spark
  private val sc = spark.sparkContext
  private val fns = SparkEntry.queries

  private def group(name: String, pass: Int) = s"registry$pass-$name"

  /** job groups that started at least one job while this suite ran */
  private val firedGroups = ConcurrentHashMap.newKeySet[String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("registry")).foreach(firedGroups.add)
  }
  override def beforeAll(): Unit = sc.addSparkListener(listener)
  override def afterAll(): Unit = sc.removeSparkListener(listener)

  /** query name → its analyzed plan holds an unpartitioned Window */
  private val windowed = TrieMap.empty[String, Boolean]

  /** Declares `name` under its job group `pass` and, on the first pass,
    * records its unpartitioned windows. */
  private def declare(name: String, pass: Int = 1): DataFrame = {
    sc.setJobGroup(group(name, pass), name)
    val df = try fns(name)(spark, TestSpark.Sf) finally sc.clearJobGroup()
    if (pass == 1) windowed(name) = WindowContract.unpartitionedWindows(df).nonEmpty
    df
  }

  /** Declares every row the per-row tests left unrecorded; a declaration
    * that throws reads as plan-without-window, its job group as usual. */
  private def declareUnrecorded(names: Seq[String]): Unit =
    names.filterNot(windowed.contains).foreach { n =>
      try declare(n): Unit catch { case _: Throwable => windowed(n) = false }
    }

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(fns.keySet))
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Legitimately empty at sf0.001 (tiny data): the oracle still verifies
  // value-level equality for these.
  private val mayBeEmpty = Set("except_set", "dedup_cosine")

  SparkEntry.registry.foreach { q =>
    test(s"${q.name} runs and returns rows at sf0.001") {
      val df = declare(q.name)
      assert(df.columns.nonEmpty)
      // ORACLE TYPING LINT (r11 verdict #2): no raw integer sum() may be
      // exposed to a BIGINT output column — DuckDB would hash it HUGEINT.
      // KNIFE-EDGE LINT (r15 verdict #2): no bare floor / float→int cast
      // over a transcendental without half-up, on EITHER side — the text
      // lint sweeps the oracle SQL, the plan lint the Spark analyzed plan.
      // KEY-EQUALITY LINT (r17, the r16 watch-item): no grouping /
      // distinct / join key may be a transcendental-bearing float.
      // FP-ACCUMULATION LINT (r18, the r17 driver red): no exposed raw
      // FP-accumulated aggregate without a defusing round/decimal-cast,
      // on EITHER side.
      q.oracle.foreach { o =>
        val v = queries.OracleLint.check(q.name, df.schema, o) ++
          queries.OracleLint.knifeEdge(q.name, o) ++
          queries.OracleLint.knifeEdgePlan(q.name, df.queryExecution.analyzed) ++
          queries.OracleLint.knifeEdgeKeys(q.name, df.queryExecution.analyzed) ++
          queries.OracleLint.knifeEdgeFpAgg(q.name, df.queryExecution.analyzed, o)
        assert(v.isEmpty, v.mkString("; "))
      }
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("full-registry census: EXACTLY the declared eagerByDesign set fires declaration-time jobs (r15 verdict #3)") {
    // SkewGuardSpec's probe spot-checks rows with a de-eagering history;
    // this census closes the loophole it left (its name list simply
    // omitted pipe_bloom_prefilter when that row grew an eager count()
    // in r15): EVERY registry row is declared and any that fires a job
    // in its STEADY state must be a key of EagerContract.eagerByDesign,
    // with a rationale — and every declared-eager row must actually
    // fire, so the exception set cannot rot either. One-time declaration
    // effects (first-read footer inference, fixture staging, managed-
    // table creation) are filtered by re-declaring every first-pass
    // mismatch once and judging the second, settled reading. Job groups
    // are thread-local, so concurrent suites in the shared session
    // cannot pollute the attribution.
    val names = fns.keys.toSeq.sorted
    val declared = EagerContract.eagerByDesign.keySet
    val dead = declared -- names.toSet
    assert(dead.isEmpty,
      s"eagerByDesign names not in the registry (dead entries): ${dead.toSeq.sorted.mkString(", ")}")
    def fired(n: String, pass: Int) = firedGroups.contains(group(n, pass))
    declareUnrecorded(names)
    GraftShim.drainListenerBus(sc)
    // pass 2 (mismatches only): one-time effects self-heal under a
    // settled re-declaration
    val mismatched = names.filter(n => fired(n, 1) != declared(n)).toSet
    mismatched.foreach(n => try declare(n, pass = 2): Unit catch { case _: Throwable => () })
    GraftShim.drainListenerBus(sc)
    val finalFired = names.map(n => n -> fired(n, if (mismatched(n)) 2 else 1)).toMap
    val undeclaredEager = names.filter(n => finalFired(n) && !declared(n))
    val deadEager = names.filter(n => !finalFired(n) && declared(n))
    assert(undeclaredEager.isEmpty,
      "rows fire declaration-time jobs but are NOT in EagerContract.eagerByDesign " +
        s"(add with a rationale or make them lazy): ${undeclaredEager.mkString(", ")}")
    assert(deadEager.isEmpty,
      "rows declared eagerByDesign fired NO declaration-time job (stale " +
        s"entries — remove them): ${deadEager.mkString(", ")}")
  }

  test("census: EXACTLY the declared domainBounded set plans unpartitioned windows") {
    val names = fns.keys.toSeq.sorted
    val declared = WindowContract.domainBounded.keySet
    val dead = declared -- names.toSet
    assert(dead.isEmpty,
      s"domainBounded names not in the registry (dead entries): ${dead.toSeq.sorted.mkString(", ")}")
    declareUnrecorded(names)
    val planned = names.filter(windowed).toSet
    val undeclared = (planned -- declared).toSeq.sorted
    assert(undeclared.isEmpty,
      "rows plan an unpartitioned Window but are NOT in WindowContract.domainBounded " +
        "(declare with a boundedness rationale + bound, or partition the window): " +
        undeclared.mkString(", "))
    val stale = (declared -- planned).toSeq.sorted
    assert(stale.isEmpty,
      "domainBounded entries whose plan no longer contains an unpartitioned " +
        s"Window (stale — remove them): ${stale.mkString(", ")}")
  }
}
