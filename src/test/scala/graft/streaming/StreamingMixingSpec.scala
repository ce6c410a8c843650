package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class StreamingMixingSpec extends SparkSpec {

  private def freshBase(name: String): String = {
    val base = s"/tmp/graft_test_tempmix/$name"
    StreamingMixing.init(spark, base)
    base
  }

  test("folded sample equals the batch operator for any split") {
    val docs = Tables.t(spark, sfDir, "documents")
    val base = freshBase("split")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    for (i <- 0L until 3L)
      StreamingMixing.fold(spark, base,
        docs.where(col("doc_id") >= i * maxId / 3 &&
          col("doc_id") < (i + 1) * maxId / 3),
        "lang", batchId = i)
    val streamed = StreamingMixing.sample(spark, base, docs,
      "doc_id", "lang").collect().map(_.toSeq).toSet
    val batch = graft.operators.Mixing.temperatureSample(
      docs, "doc_id", "lang").collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("mid-run compaction is answer-preserving") {
    val docs = Tables.t(spark, sfDir, "documents")
    val base = freshBase("compact")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    for (i <- 0L until 3L) {
      StreamingMixing.fold(spark, base,
        docs.where(col("doc_id") >= i * maxId / 3 &&
          col("doc_id") < (i + 1) * maxId / 3),
        "lang", batchId = i)
      if (i == 1L) StreamingMixing.compact(spark, base)
    }
    val streamed = StreamingMixing.sample(spark, base, docs,
      "doc_id", "lang").collect().map(_.toSeq).toSet
    val batch = graft.operators.Mixing.temperatureSample(
      docs, "doc_id", "lang").collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("two byte-identical batches with distinct ids both count") {
    import spark.implicits._
    val base = freshBase("alias")
    val f = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "lang")
    StreamingMixing.fold(spark, base, f, "lang", 0L)
    StreamingMixing.fold(spark, base, f, "lang", 1L)
    StreamingMixing.fold(spark, base,
      Seq((3L, "cc")).toDF("doc_id", "lang"), "lang", 2L)
    // folded counts aa=2, cc=1 -> aa keeps sqrt(1/2) = 707106 ppm; had
    // id 1 aliased id 0, every count would be 1 and every rate 1e6
    val rates = StreamingMixing.sample(spark, base,
        (1L to 200L).map(i => (i, "aa")).toDF("doc_id", "lang"),
        "doc_id", "lang")
      .select("rate_ppm").as[Long].collect().toSet
    assert(rates === Set(707106L))
  }
}
