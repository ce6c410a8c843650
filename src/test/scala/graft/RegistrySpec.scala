package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry integrity — no Spark session needed. */
class RegistrySpec extends AnyFunSuite {

  test("no two registrations share a name (a duplicate silently " +
      "shadows a green query in the driver's Map — the r14 " +
      "q_dsir_weights incident)") {
    // the guard lives in SparkEntry.registry; touching `queries`
    // forces it, so a duplicate fails HERE, loudly, instead of
    // shrinking the correctness gate by one query
    assert(SparkEntry.queries.nonEmpty)
  }

  test("every oracle belongs to a registered query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every streamed twin q_x_stream carries q_x's oracle verbatim " +
      "(a stream is correct when it returns what its batch query returns)") {
    val qs = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql
    val pairs = qs.toSeq.sorted.filter(_.endsWith("_stream"))
      .map(n => n -> n.stripSuffix("_stream")).filter(p => qs(p._2))
    assert(pairs.size >= 19, s"streamed twins with a registered batch query: $pairs")
    val off = pairs.filter { case (stream, batch) =>
      !oracles.contains(batch) || oracles.get(stream) != oracles.get(batch) }
    assert(off.isEmpty, s"streamed twins without their batch query's oracle: $off")
  }

  test("registry is large and mostly oracled (the coverage floor " +
      "cannot silently regress)") {
    val n = SparkEntry.queries.size
    val oracled = SparkEntry.oracleSql.size
    assert(n >= 375, s"registry shrank to $n")
    assert(oracled >= 364, s"oracled count shrank to $oracled")
  }
}
