package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench` timing contract: a query that throws is a failure, never a
  * time — a crash that records its elapsed time reads as a speedup. */
class BenchSpec extends AnyFunSuite {

  test("timeQueries records no time for a query that throws") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    val (timed, failed) = Bench.timeQueries(Seq("q_ok", "q_boom", "q_ok2")) {
      case "q_boom" => throw new IllegalStateException("boom")
      case _ => ()
    } { (name, r) => seen += name -> r.isRight }
    assert(timed.map(_._1) == Seq("q_ok", "q_ok2"))
    assert(timed.forall(_._2 >= 0.0))
    assert(failed == Seq("q_boom"))
    assert(seen.toSeq == Seq("q_ok" -> true, "q_boom" -> false, "q_ok2" -> true))
  }

  test("a query that failed in any pass is left out of every timing") {
    val (perQuery, failed) = Bench.overPasses(Seq(
      (Seq("q_a" -> 2.0, "q_b" -> 0.1), Seq.empty),
      (Seq("q_a" -> 1.5), Seq("q_b"))))
    assert(perQuery == Seq("q_a" -> Seq(2.0, 1.5)))
    assert(failed == Seq("q_b"))
  }
}
