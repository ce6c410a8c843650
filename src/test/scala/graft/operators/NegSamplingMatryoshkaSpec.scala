package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class NegSamplingMatryoshkaSpec extends SparkSpec {

  test("negative-sampling table: intervals tile [0, total) exactly") {
    val docs = Tables.t(spark, sfDir, "documents")
    val rows = NegativeSampling.table(docs, "text")
      .orderBy(col("word")).collect()
    assert(rows.nonEmpty)
    // contiguous half-open tiling in word order, starting at zero
    var expectLo = 0L
    rows.foreach { r =>
      assert(r.getLong(3) === expectLo, s"gap before ${r.getString(0)}")
      assert(r.getLong(4) === r.getLong(3) + r.getLong(2))
      expectLo = r.getLong(4)
    }
    // f^(3/4) smoothing: sub-linear but monotone in f
    val byF = rows.sortBy(_.getLong(1))
    assert(byF.head.getLong(2) <= byF.last.getLong(2))
    val (fMin, wMin) = (byF.head.getLong(1), byF.head.getLong(2))
    val (fMax, wMax) = (byF.last.getLong(1), byF.last.getLong(2))
    if (fMax > fMin) {
      // weight ratio strictly below count ratio (the 3/4 dampening)
      assert(wMax.toDouble / wMin < fMax.toDouble / fMin)
    }
    // hand arithmetic: weight = floor(1e6 * sqrt(f * sqrt(f)))
    rows.foreach { r =>
      val f = r.getLong(1).toDouble
      assert(r.getLong(2) === math.floor(1e6 * math.sqrt(f * math.sqrt(f))).toLong)
    }
  }

  test("matryoshka recall: full width anchors at 1e6, recall degrades") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val rows = Similarity.matryoshkaRecall(
      emb, emb.where(col("vec_id") < 8), "vec_id", "embedding",
      dims = Seq(64, 16, 4), k = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val np = rows(64L)._2
    assert(np > 0L)
    assert(rows(64L)._3 === 1000000L) // the anchor
    // truncation can only lose pairs, and ppm is exact arithmetic
    Seq(16L, 4L).foreach { d =>
      val (m, n, ppm) = rows(d)
      assert(n === np)
      assert(m <= np)
      assert(ppm === m * 1000000L / np)
    }
    // 4 of 64 dims should genuinely lose something on random vectors
    assert(rows(4L)._1 < np)
  }
}
