package graft

import graft.queries.WindowContract
import org.apache.spark.sql.GraftShim
import org.scalatest.funsuite.AnyFunSuite

/** Every member of WindowContract.domainBounded has its claim EXECUTED:
  * the child subplan of each unpartitioned window is run at the
  * driver's SFs and its row count asserted under the member's declared
  * bound — "domain-bounded" is measured, not prose. That EXACTLY these
  * rows plan such a window is RegistrySpec's window census (r16
  * verdict #5). */
class WindowContractSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("boundedness: every member's unpartitioned-window input stays under its declared bound at BOTH driver SFs (r17 verdict #4)") {
    // Window preserves cardinality, so in a window STACK the deepest
    // child is the largest input; still, every unpartitioned window's
    // own child is counted (parallel branches may differ).
    //
    // r18: measured at TWO scale points — a bound that is genuinely
    // DOMAIN-derived (distinct cents, calendar buckets, partition
    // heads) saturates, so it must hold unchanged on 10× the corpus;
    // a corpus-tracking input would sail past it at sf0.1 exactly the
    // way every other fence in the repo is built to catch.
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      WindowContract.domainBounded.toSeq.sortBy(_._1).foreach { case (name, (why, bound)) =>
        val ws = WindowContract.unpartitionedWindows(SparkEntry.queries(name)(spark, sf))
        assert(ws.nonEmpty, s"$name: no unpartitioned window at $sf (census drift?)")
        val counts = ws.map(w => GraftShim.ofRows(spark, w.child).count())
        info(f"$name%-24s $sf%-24s max input ${counts.max}%6d (bound $bound) — $why")
        assert(counts.max <= bound,
          s"$name: unpartitioned window input ${counts.max} at $sf exceeds the " +
            s"declared domain bound $bound — the '$why' claim no longer holds")
      }
    }
  }
}
