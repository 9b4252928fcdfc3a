package graft

import graft.plans.PlanWalk
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PlanWalk.equiJoinRows: the one reader of equi-join output rows that
  * Bench, tools.Profile and ScaleGrowthSpec share. */
class PlanWalkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Two equi-joins: the lower one (100 ⋈ 50 → 50 rows) feeds an
    * aggregate, so it runs inside an AQE shuffle query stage; the top
    * one (5 groups ⋈ 3 → 3 rows) sits above that stage. The adaptive
    * root is a leaf to a plain tree walk, so the 50-row join is found
    * only through PlanWalk's query-stage expansion. */
  private def twoJoins() = {
    val a = spark.range(100).toDF("k")
    val b = spark.range(50).toDF("k")
    val g = spark.range(3).toDF("g")
    a.join(b, "k").groupBy((col("k") % 5).as("g")).count().join(g, "g")
  }

  test("equiJoinRows returns the joins pre-order, topmost first, through AQE query stages") {
    assert(PlanWalk.equiJoinRows(twoJoins()) === Seq(3L, 50L))
  }

  test("equiJoinRows on dedup_containment keeps the candidate volume read before the shared helper") {
    // 97,572 gram-level candidates at sf0.001, the value ScaleGrowthSpec's
    // own join walk read; the topmost join feeds the verify
    val rows = PlanWalk.equiJoinRows(SparkEntry.queries("dedup_containment")(spark, TestSpark.Sf))
    assert(rows.max === 97572L)
    assert(rows.head === 5985L)
  }
}
