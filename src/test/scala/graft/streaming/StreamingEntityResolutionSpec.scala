package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Incremental entity resolution: per-micro-batch folds into the stored
  * artifact must equal the batch recompute on the union — blocking is
  * lossless and cluster labels are min-member ids, so the batch split
  * cannot show through. */
class StreamingEntityResolutionSpec extends SparkSpec {

  private def freshBase(): String = {
    val p = tempDir("er_stream").toString
    StreamingEntityResolution.init(spark, p)
    p
  }

  test("3-batch streamed fold equals the batch recompute on the union") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val rows = Seq(
      (1L, "Customer#0001"), (2L, "Customer#0002"), (3L, "Customer#0103"),
      (4L, "Customer#9999"), (5L, "Customer#0001x"), (6L, "Custoner#0002"),
      (7L, "Kustomer#0103"), (8L, "Wholly Different"), (9L, "Customer#01x3"))
    val base = freshBase()
    val in = MemoryStream[(Long, String)]
    val q = StreamingEntityResolution.attach(in.toDF().toDF("id", "name"),
      base, "id", "name", k = 2, checkpoint = s"$base/_ckpt")
    try rows.grouped(3).foreach { g => in.addData(g: _*); q.processAllAvailable() }
    finally q.stop()
    val got = StreamingEntityResolution.resolved(spark, base)
      .as[(Long, Long, String)].collect().toSet

    val all = rows.toDF("id", "s")
    val pairs = graft.operators.FuzzyJoin.selfJoinDeletion(all, "id", "s", 2)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val clusters = graft.operators.Dedup.dupClusters(pairs)
    val expected = all
      .join(clusters.select(col("doc_id").as("id"), col("cluster_id")),
        Seq("id"), "left")
      .withColumn("entity_id", coalesce(col("cluster_id"), col("id")))
      .join(all.select(col("id").as("entity_id"), col("s").as("canonical_name")),
        Seq("entity_id"))
      .select(col("id"), col("entity_id"), col("canonical_name"))
      .as[(Long, Long, String)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty && got.exists { case (id, e, _) => id != e })
  }

  test("a later bridge record merges two existing entities") {
    import spark.implicits._
    val base = freshBase()
    def fold(rows: (Long, String)*): Unit =
      StreamingEntityResolution.foldBatch(spark, base,
        rows.toDF("id", "name"), "id", "name", k = 2)
    def view(): Map[Long, Long] =
      StreamingEntityResolution.resolved(spark, base)
        .as[(Long, Long, String)].collect().map(r => r._1 -> r._2).toMap

    fold((100L, "zeta aaaa"))
    fold((110L, "zeta bbbb"))                   // dist 4 from 100: separate
    assert(view() === Map(100L -> 100L, 110L -> 110L))
    fold((120L, "zeta aabb"))                   // dist 2 to BOTH: bridges
    assert(view() === Map(100L -> 100L, 110L -> 100L, 120L -> 100L))
    val canon = StreamingEntityResolution.resolved(spark, base)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(canon(110L) === "zeta aaaa")         // entity 100's name wins
  }

  test("a replayed micro-batch is a no-op (at-least-once safety)") {
    import spark.implicits._
    val base = freshBase()
    val batch = Seq((1L, "alpha one"), (2L, "alpha onx"))
    StreamingEntityResolution.foldBatch(spark, base,
      batch.toDF("id", "name"), "id", "name", k = 2)
    val before = StreamingEntityResolution.resolved(spark, base)
      .as[(Long, Long, String)].collect().sorted.toSeq
    StreamingEntityResolution.foldBatch(spark, base,
      batch.toDF("id", "name"), "id", "name", k = 2)
    val after = StreamingEntityResolution.resolved(spark, base)
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(after === before)
    assert(before.map(_._1) === Seq(1L, 2L)) // no member duplication
  }

  private def clusterFiles(base: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(s"$base/clusters")
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    java.nio.file.Files.walk(root).forEach { p =>
      val f = p.toFile
      if (f.isFile && f.getName.endsWith(".parquet"))
        out(p.toString) = (f.lastModified(), f.length())
    }
    out.toMap
  }

  test("a fold writes ONLY its delta; stored cluster files are untouched (r8 verdict #4)") {
    import spark.implicits._
    val base = freshBase()
    def fold(rows: (Long, String)*): Unit =
      StreamingEntityResolution.foldBatch(spark, base,
        rows.toDF("id", "name"), "id", "name", k = 2)
    // seed folds: names are PAIRWISE distant (every id digit repeated 3×,
    // so two distinct ids differ by ≥3 > k=2) — distinct entities
    def seedName(i: Long): String = ("%03d".format(i) * 3) + " entity"
    fold((0L until 40L).map(i => (i, seedName(i))): _*)
    fold((100L until 140L).map(i => (i, seedName(i))): _*)

    val before = clusterFiles(base)
    assert(before.nonEmpty, "seed folds must materialize cluster state")

    // one NEW record near one existing entity: the fold appends one
    // delta dir — every pre-existing cluster file must remain
    // byte-identical (same path, same mtime, same length)
    Thread.sleep(1100) // mtime granularity
    fold((500L, seedName(7) + "x")) // 1 edit from entity 7, ≥3 from the rest
    val after = clusterFiles(base)
    assert(before.keySet.subsetOf(after.keySet), "no stored file may vanish")
    val rewritten = before.keySet.filter(p => before(p) != after(p))
    assert(rewritten.isEmpty,
      s"fold must not rewrite stored cluster files, but touched $rewritten")
    assert(after.size > before.size, "the fold must append a delta")
    // and the assignment is still right
    val view = StreamingEntityResolution.resolved(spark, base)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._2).toMap
    assert(view(500L) === view(7L), "new record must join entity 7's cluster")
  }

  test("deltas retire into a compacted base every CompactEvery folds") {
    import spark.implicits._
    val base = freshBase()
    def fold(rows: (Long, String)*): Unit =
      StreamingEntityResolution.foldBatch(spark, base,
        rows.toDF("id", "name"), "id", "name", k = 2)
    def seedName(i: Long): String = ("%04d".format(i) * 3) + " compacte"
    // CompactEvery folds → the last one triggers compaction
    (0 until StreamingEntityResolution.CompactEvery).foreach { f =>
      fold((f * 10L until f * 10L + 5L).map(i => (i, seedName(i))): _*)
    }
    val deltaDir = java.nio.file.Paths.get(s"$base/clusters/delta")
    val remaining =
      if (!java.nio.file.Files.exists(deltaDir)) 0
      else java.nio.file.Files.list(deltaDir).count()
    assert(remaining === 0, s"deltas must retire at compaction, $remaining left")
    val compacted = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$base/clusters")).toArray
      .map(_.toString).filter(_.matches(".*/c=\\d+$"))
    assert(compacted.length === 1, s"one committed base expected: ${compacted.toSeq}")
    // the compacted view equals a one-shot batch fold of the same rows
    val view = StreamingEntityResolution.resolved(spark, base)
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(view.length === 5 * StreamingEntityResolution.CompactEvery)
    val ref = freshBase()
    StreamingEntityResolution.foldBatch(spark, ref,
      (0 until StreamingEntityResolution.CompactEvery).flatMap(f =>
        (f * 10L until f * 10L + 5L).map(i => (i, seedName(i))))
        .toDF("id", "name"), "id", "name", k = 2)
    val oneShot = StreamingEntityResolution.resolved(spark, ref)
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(view === oneShot, "compacted streamed view must equal batch fold")
    // folds CONTINUE after compaction: the next delta's seq must top the
    // compacted epoch, or readers would exclude it as already-folded
    fold((9000L, seedName(0) + "x")) // near-dup of entity 0
    val after = StreamingEntityResolution.resolved(spark, base)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._2).toMap
    assert(after(9000L) === after(0L), "post-compaction fold must be visible")
    assert(after.size === view.length + 1)
  }
}
