package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing (SURVEY.md §2.11). */
class MultimodalSpec extends SparkSpec {

  test("decodeFeatures is a per-partition streamed decode with typed output") {
    import spark.implicits._
    val docs = Seq((1L, "AB"), (2L, "")).toDF("doc_id", "text")
    val feats = Multimodal.decodeFeatures(
      Multimodal.fromText(docs, "doc_id", "text")).collect()
      .map(f => f.doc_id -> f).toMap
    val a = feats(1L)
    assert(a.n_bytes === 2L)
    assert(a.byte_sum === ('A'.toLong + 'B'.toLong))
    assert(a.header_hex === "4142")
    // a non-media payload parses as unknown with null metadata — the
    // negative half of the real header-parser contract
    assert(a.format === "unknown")
    assert(a.width === None)
    assert(a.sample_rate === None)
    // empty payload degrades deterministically, not with an exception
    assert(feats(2L).n_bytes === 0L)
    assert(feats(2L).header_hex === "")
  }

  test("sampleFrames reads real stts/stsz arithmetic; non-MP4 rows drop") {
    import spark.implicits._
    // doc 1: n=11 samples, n1=5, d1=200, d2=240, mts=2000, per-sample stsz
    val recs = Seq(
      MediaRecord(1L, Multimodal.mp4SampleFixture(1L)),
      MediaRecord(9L, "not a container".getBytes("UTF-8")))
    val frames = Multimodal.sampleFrames(recs.toDS(), stride = 5)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    def size(i: Int) = (13L + i * 7) % 991 + 1
    assert(frames === Set(
      (1L, 0L, 0L, size(0), "avc1"),
      (1L, 5L, 500L, size(5), "avc1"),    // dts 5*200, at mts 2000
      (1L, 10L, 1100L, size(10), "avc1"))) // crosses into the d2=240 run
    assert(!frames.exists(_._1 == 9L))
  }

  test("resizeImage routes every format through the real pixel path") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(0L, Multimodal.pngFixture(0L)), // png (1x1 here)
      MediaRecord(1L, Multimodal.jpegFixture(1L)), // jpeg 16x16
      MediaRecord(2L, "not an image".getBytes("UTF-8"))) // passthrough
    val out = Multimodal.resizeImage(recs.toDS(), 4, 4)
      .collect().map(r => r.doc_id -> r.media).toMap
    // both decodable formats come back as REAL 4x4 PNGs
    for (id <- Seq(0L, 1L)) {
      val img = PngCodec.decode(out(id)).getOrElse(fail(s"doc $id not PNG"))
      assert(img.width === 4 && img.height === 4)
    }
    // the JPEG's resized pixels equal the closed-form NN sample of its
    // exact-basis decode (sx = x*16/4 → source cols 0,4,8,12)
    val jImg = PngCodec.decode(out(1L)).get
    val full = JpegCodec.decode(Multimodal.jpegFixture(1L)).get
    for (y <- 0 until 4; x <- 0 until 4; c <- 0 until 3)
      assert(jImg.pixels((y * 4 + x) * 3 + c) ===
        full.pixels(((y * 4) * 16 + x * 4) * 3 + c))
    assert(out(2L) === "not an image".getBytes("UTF-8")) // unchanged
  }

  test("documents corpus is pure ASCII (q_multimodal_features oracle invariant)") {
    import spark.implicits._
    // the q_multimodal_features oracle indexes text by CHARACTER while
    // the Spark side is byte-indexed; they agree only while the corpus
    // is ASCII-clean — pin that invariant where the fixture data lives
    val nonAscii = graft.Tables.t(spark, sfDir, "documents")
      .select($"text").as[String]
      .filter(t => t != null && t.exists(_ > 127)).count()
    assert(nonAscii === 0L)
  }

  test("decode → featurize → ANN search composes into one pipeline") {
    import spark.implicits._
    import graft.operators.Similarity
    val docs = Seq(
      (1L, "aaaa bbbb aaaa"), (2L, "aaaa bbbb aaab"), // near-identical bytes
      (3L, "zzzz qqqq wwww xxxx")).toDF("doc_id", "text")
    val emb = Multimodal.featureVectors(
      Multimodal.fromText(docs, "doc_id", "text"))
    val top1 = Similarity.bruteTopK(
      emb, emb.where($"doc_id" === 1), "doc_id", "embedding", 1).collect()
    assert(top1.length === 1)
    assert(top1.head.getAs[Long]("vec_id") === 2L) // byte-similar doc wins
    assert(top1.head.getAs[Double]("cosine") > 0.9)
  }

  test("imageDHash: in-group fixtures hash within hamming 1, cross-group far apart") {
    import spark.implicits._
    val ids = (0L until 16L).toDF("doc_id")
    val hashes = Multimodal.imageDHash(
        Multimodal.pngNearFixtures(ids, "doc_id"))
      .select($"doc_id", $"dhash").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
    for (a <- 0L until 8L; b <- a + 1 until 8L)
      assert(ham(a, b) <= 1, s"in-group ($a,$b)")
    assert(ham(0L, 8L) > 3, "cross-group hashes must not be near")
  }

  test("imageNearDupPairs recovers exactly the in-group pairs via banding") {
    import spark.implicits._
    val ids = (0L until 16L).toDF("doc_id")
    val (cached, pairs) = Multimodal.imageNearDupPairs(
      Multimodal.pngNearFixtures(ids, "doc_id"))
    val got = pairs.as[(Long, Long, Long)].collect()
    cached.unpersist(blocking = true)
    assert(got.length === 2 * 28, s"two full groups of 8: ${got.length}")
    assert(got.forall { case (a, b, h) => a / 8 == b / 8 && h <= 1 })
  }

  test("audioFingerprint64: in-group clips within hamming 2, cross-group far apart") {
    import spark.implicits._
    val ids = (0L until 16L).toDF("doc_id")
    val fps = Multimodal.audioFingerprint64(
        Multimodal.audioNearFixtures(ids, "doc_id"))
      .select($"doc_id", $"fingerprint").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fps(a) ^ fps(b))
    for (m <- 1L until 8L)
      assert(ham(0L, m) <= 2, s"base-vs-variant $m: ${ham(0L, m)}")
    assert(ham(0L, 8L) > 3, "cross-group fingerprints must not be near")
    // hex column mirrors the raw bits byte-for-byte, LSB-first
    val hex = Multimodal.audioFingerprint64(
        Multimodal.audioNearFixtures(ids, "doc_id"))
      .select($"doc_id", $"fp_hex").as[(Long, String)].collect().toMap
    val expect = (0 until 8)
      .map(j => f"${(fps(3L) >>> (8 * j)) & 0xffL}%02x").mkString
    assert(hex(3L) === expect)
  }

  test("crossFormatNearFixtures: GIF and its PNG re-encode pair at hamming 0") {
    import spark.implicits._
    val ids = (0L until 8L).toDF("doc_id")
    val (cached, pairs) = Multimodal.imageNearDupPairs(
      Multimodal.crossFormatNearFixtures(ids, "doc_id"))
    val got = pairs.as[(Long, Long, Long)].collect()
    cached.unpersist(blocking = true)
    // every doc's two containers must be found as an exact perceptual dup
    for (d <- 0L until 8L)
      assert(got.exists { case (a, b, h) => a == 2 * d && b == 2 * d + 1 && h == 0 },
        s"cross-format pair for doc $d missing")
  }

  test("videoNearDupPairs: clips sharing footage pair up regardless of which frame matches") {
    import spark.implicits._
    // ids 0,3,6,... (the %3 fixture subset) — two groups of 8 → members
    // 0,3,6 + 24,27,30 land in groups 0 and 24
    val ids = (0L until 48L).toDF("doc_id")
    val (cached, pairs) = Multimodal.videoNearDupPairs(
      Multimodal.videoNearFixtures(ids, "doc_id"))
    val got = pairs.as[(Long, Long, Long, Long)].collect()
    cached.unpersist(blocking = true)
    assert(got.nonEmpty)
    // in-group pairs: ≥1 bit-exact shared frame and closest distance 0
    for ((a, b) <- Seq((0L, 3L), (0L, 6L), (3L, 6L), (24L, 27L)))
      assert(got.exists { case (x, y, n, mh) =>
        x == a && y == b && n >= 1 && mh == 0 }, s"missing video pair ($a,$b)")
    // no cross-group pair (palettes decorrelate)
    assert(got.forall { case (a, b, _, _) => a / 8 == b / 8 })
  }

  test("binary payload round-trips through parquet (the 100 TB storage shape)") {
    import spark.implicits._
    val tmp = tempDir("mm").toString
    val docs = Seq((1L, "payload-1"), (2L, "x")).toDF("doc_id", "text")
    Multimodal.fromText(docs, "doc_id", "text").write
      .mode("overwrite").parquet(s"$tmp/media")
    val back = spark.read.parquet(s"$tmp/media").as[MediaRecord]
    val feats = Multimodal.decodeFeatures(back).collect().map(_.doc_id).toSet
    assert(feats === Set(1L, 2L))
  }
}
