package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Compaction: best-fit-decreasing pack properties, end-to-end file-count
  * reduction, and bit-for-bit content preservation through the rewrite. */
class CompactionSpec extends SparkSpec {

  test("pack: respects target, keeps oversized files alone, deterministic") {
    val files = Seq(("f1", 70L), ("f2", 30L), ("f3", 30L), ("f4", 30L),
      ("f5", 150L), ("f6", 10L))
    val bins = Compaction.pack(files, targetBytes = 100L)
    // every bin under target unless it is a single oversized file
    assert(bins.forall(b => b.bytes <= 100L || b.files.size == 1))
    assert(bins.find(_.files.contains("f5")).get.files === Seq("f5"))
    // nothing lost, nothing duplicated
    assert(bins.flatMap(_.files).sorted === files.map(_._1).sorted)
    // FFD on these sizes: [150], [70+30], [30+30+10] -> 3 bins
    assert(bins.size === 3)
    assert(Compaction.pack(files, 100L) === bins) // deterministic
  }

  test("pack: conservation + capacity properties at list scale, fast") {
    // deterministic pseudo-sizes; 20k files must pack in well under a
    // second (the TreeMap best-fit replaces an O(files x bins) scan)
    val files = (0 until 20000).map(i =>
      (f"f$i%05d", ((i * 2654435761L) % 8000000L).abs + 1))
    val t0 = System.nanoTime()
    val bins = Compaction.pack(files, targetBytes = 64L * 1024 * 1024)
    val dt = (System.nanoTime() - t0) / 1e9
    assert(dt < 2.0, f"pack took $dt%.1f s on 20k files")
    assert(bins.flatMap(_.files).sorted === files.map(_._1).sorted)
    val sizeOf = files.toMap
    assert(bins.forall(b => b.bytes === b.files.map(sizeOf).sum))
    assert(bins.forall(b => b.bytes <= 64L * 1024 * 1024 || b.files.size == 1))
  }

  test("compact refuses an empty/partitioned input loudly") {
    val root = tempDir("graft_cmp_empty").toString
    spark.read.parquet(s"$sfDir/orders.parquet").limit(10)
      .withColumn("p", org.apache.spark.sql.functions.lit("x"))
      .write.partitionBy("p").parquet(s"$root/in")
    val e = intercept[IllegalArgumentException] {
      Compaction.compact(spark, s"$root/in", s"$root/out", 1L << 20)
    }
    assert(e.getMessage.contains("leaf directory"),
      "partitioned layouts must fail loudly, not compact to empty")
  }

  test("compact: many small files -> few bins, content identical") {
    val root = tempDir("graft_compaction").toString
    val in = s"$root/in"
    val out = s"$root/out"
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
    src.repartition(32).write.parquet(in)
    val nIn = Files.list(Paths.get(in)).filter(_.toString.endsWith(".parquet"))
      .count()
    assert(nIn === 32L)

    val stats = Compaction.compact(spark, in, out, targetBytes = 64L * 1024 * 1024)
    val nBins = stats.count()
    assert(nBins >= 1 && nBins < nIn, s"expected < $nIn bins, got $nBins")
    // one output file per bin
    val outFiles = Files.walk(Paths.get(out)).filter(
      _.toString.endsWith(".parquet")).count()
    assert(outFiles === nBins)

    val back = Compaction.readCompacted(spark, out)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "compaction must preserve row multiset exactly")
  }
}
