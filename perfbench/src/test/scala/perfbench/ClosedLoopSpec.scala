package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ClosedLoopSpec extends AnyFunSuite {

  private def plan = Iterator.continually(Seq(Request("sf", "ok"),
    Request("sf", "throws"), Request("sf", "slow"))).flatten

  test("a throwing request keeps its latency and error and the loop goes on") {
    val (recs, windowNs) = ClosedLoop.run(plan, block = 3, seconds = 0.05) { (_, r) =>
      r.query match {
        case "throws" => Thread.sleep(2); throw new IllegalStateException("boom")
        case "slow" => Thread.sleep(5)
        case _ =>
      }
    }
    assert(recs.size % 3 == 0 && recs.size >= 3)
    assert(recs.map(_.id) == recs.indices)
    val thrown = recs.filter(_.request.query == "throws")
    assert(thrown.size == recs.size / 3)
    thrown.foreach { r =>
      assert(r.error.contains("java.lang.IllegalStateException" -> "boom"))
      assert(r.endNs - r.startNs >= 2000000L)
    }
    assert(recs.filterNot(_.request.query == "throws").forall(_.error.isEmpty))
    assert(windowNs == recs.last.endNs && windowNs >= 50000000L)
  }

  test("with no time limit the loop runs its requests to the end") {
    val (recs, _) = ClosedLoop.run(plan.take(7), block = 3, Double.PositiveInfinity)((_, _) => ())
    assert(recs.map(_.request.query) == plan.take(7).map(_.query).toSeq)
  }

  test("each request starts after the previous one returned") {
    val (recs, _) = ClosedLoop.run(plan, block = 3, seconds = 0.02)((_, _) => Thread.sleep(1))
    recs.sliding(2).foreach { case Seq(a, b) => assert(b.startNs >= a.endNs) }
  }
}
