package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Greedy maximum-coverage data selection — the submodular "pick the
  * k documents that together cover the most distinct n-grams"
  * selector (facility-location/coverage data pruning; the greedy
  * algorithm is the classic (1 − 1/e)-approximation of Nemhauser,
  * Wolsey & Fisher 1978). Round by round the document with the most
  * NOT-YET-COVERED distinct 3-shingles wins (ties: smallest id), its
  * shingles join the covered set, and marginal gains shrink — the
  * diminishing-returns curve `covered_total` records is exactly the
  * submodularity the selector exploits. Complements [[Similarity
  * .kCenterGreedy]] (geometric diversity) with OVERLAP-AWARE textual
  * diversity: near-duplicate documents add almost no marginal
  * coverage, so the greedy never picks two of them early — coverage
  * selection is implicit deduplication.
  *
  * Determinism: shingles are the engine-wide md5-derived 60-bit
  * hashes (the `shingle_hashes` kernel, reproduced by the oracle),
  * gains are exact BIGINT counts, argmax ties break on the id.
  *
  * Distribution shape (the 100 TB contract): k rounds × (one
  * map-side-combinable gain groupBy + one distributed TakeOrdered
  * argmax + one hash anti-join on the shingle key) over a relation
  * that only SHRINKS; each round ends in an EAGER localCheckpoint
  * (the measured-winner idiom for iterative relations — BENCH_SCALE
  * round-10 notes) so lineage never compounds. Driver state is one
  * (id, gain) row per round — bounded by k. At larger k the
  * published scale paths are lazy/CELF evaluation and
  * stochastic-greedy subsampling; this operator fixes small k (the
  * "pick k exemplars" regime) and documents that boundary.
  *
  * Reference scope: the reference has no selection surface
  * (/root/reference/src/main/java/org/test/pcap4j/MainApp.java:44-63);
  * coverage selection belongs to the declared extension surface
  * (SURVEY.md §2.11).
  *
  * Output: `(round, doc_id, gain, covered_total)` — one row per pick
  * in selection order; stops early if the shingle space is exhausted.
  */
object Coverage {

  def maxCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"need 1 <= k <= 64, got $k")
    val spark = docs.sparkSession
    var rel = docs
      .where(expr(s"size(${Dedup.wordsExpr(textCol)}) >= ${Dedup.ShingleK}"))
      .select(col(idCol).cast("long").as("doc_id"),
        explode(call_function("shingle_hashes", col(textCol))).as("h"))
      .localCheckpoint(true)
    val picks = ArrayBuffer.empty[(Long, Long, Long)]
    var total = 0L
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      // 1-row TakeOrdered argmax — distributed, never a global sort
      val top = rel.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("gain"))
        .orderBy(col("gain").desc, col("doc_id").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (id, gain) = (top.head.getLong(0), top.head.getLong(1))
        total += gain
        picks += ((id, gain, total))
        val covered = rel.where(col("doc_id") === id).select(col("h"))
        rel = rel.join(covered, Seq("h"), "left_anti")
          .localCheckpoint(true)
        round += 1
      }
    }
    val rows = picks.zipWithIndex.map { case ((id, gain, cum), i) =>
      Row(i + 1L, id, gain, cum)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows.toSeq: _*),
      StructType(Seq(
        StructField("round", LongType, nullable = false),
        StructField("doc_id", LongType, nullable = false),
        StructField("gain", LongType, nullable = false),
        StructField("covered_total", LongType, nullable = false))))
  }
}
