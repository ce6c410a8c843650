package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-query status: a query that throws is a failure, never a
  * timing sample. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query yields its error, a clean one its seconds") {
    val failed = Bench.attempt(throw new IllegalStateException("boom"))
    assert(failed.left.map(_.getMessage) === Left("boom"))
    val ok = Bench.attempt(Thread.sleep(5))
    assert(ok.exists(_ >= 0.005))
  }
}
