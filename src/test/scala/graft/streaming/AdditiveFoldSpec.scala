package graft.streaming

import graft.SparkSpec

/** [[AdditiveFold]]'s batch-id contract, driven through
  * [[StreamingEval]]: distinct ids always add (even byte-identical
  * batches), a replayed id rewrites its delta and counts once, before
  * and after a compaction, and an empty delta adds nothing. */
class AdditiveFoldSpec extends SparkSpec {

  private type Card = (Long, Long, Long, Long)

  private val rows: Seq[(Long, Long)] =
    Seq((1L, 1L), (1L, 0L), (0L, 0L), (0L, 1L), (1L, 1L))

  private def freshBase(): String = {
    val base = java.nio.file.Files.createTempDirectory("graft_afold")
      .toString + "/state"
    StreamingEval.init(spark, base)
    base
  }

  private def fold(base: String, xs: Seq[(Long, Long)], id: Long) = {
    import spark.implicits._
    StreamingEval.fold(spark, base, xs.toDF("y", "p"), "y", "p", id)
  }

  private def card(base: String): Seq[Card] = {
    import spark.implicits._
    StreamingEval.scorecard(spark, base)
      .selectExpr("class", "tp", "fp", "fn").as[Card]
      .collect().sortBy(_._1).toSeq
  }

  /** The batch scorecard over `k` copies of [[rows]]. */
  private def batchOf(k: Int): Seq[Card] = {
    import spark.implicits._
    graft.operators.Perceptron.classifierEval(
        Seq.fill(k)(rows).flatten.toDF("y", "p"), "y", "p")
      .selectExpr("class", "tp", "fp", "fn").as[Card]
      .collect().sortBy(_._1).toSeq
  }

  test("two byte-identical batches with distinct ids both count") {
    val base = freshBase()
    fold(base, rows, 0L)
    fold(base, rows, 1L)
    assert(card(base) === batchOf(2))
    assert(card(base) !== batchOf(1))
  }

  test("re-folding id 0 after id 1 counts once, before and after a " +
      "compact") {
    val base = freshBase()
    fold(base, rows, 0L)
    fold(base, rows, 1L)
    fold(base, rows, 0L) // crash replay of batch 0
    assert(card(base) === batchOf(2))
    StreamingEval.compact(spark, base)
    assert(card(base) === batchOf(2))
    // idempotence holds again for the folds staged since the compact
    fold(base, rows, 2L)
    fold(base, rows, 2L)
    assert(card(base) === batchOf(3))
  }

  test("an empty delta leaves the answer unchanged") {
    val base = freshBase()
    fold(base, Seq.empty, 0L)
    assert(card(base).isEmpty)
    fold(base, rows, 1L)
    fold(base, Seq.empty, 2L)
    assert(card(base) === batchOf(1))
    StreamingEval.compact(spark, base)
    fold(base, Seq.empty, 3L)
    assert(card(base) === batchOf(1))
  }
}
