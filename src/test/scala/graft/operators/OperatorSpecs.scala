package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** As-of join semantics (SURVEY.md §2.3 extension surface). */
class AsOfJoinSpec extends SparkSpec {

  test("backward as-of picks the latest right row at-or-before each left ts") {
    import spark.implicits._
    val quotes = Seq( // (key, ts, px)
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0)).toDF("sym", "ts", "px")
    val trades = Seq(
      ("A", 5L), ("A", 20L), ("A", 25L), ("A", 99L),
      ("B", 14L), ("C", 50L)).toDF("sym", "trade_ts")
    val got = AsOfJoin.asofBackward(
      trades, quotes, key = "sym", leftTs = "trade_ts", rightTs = "ts",
      valueCols = Seq(("px", "last_px")))
      .as[(String, Long, Option[Double])].collect().toSet
    assert(got === Set(
      ("A", 5L, None),         // nothing at or before 5
      ("A", 20L, Some(2.0)),   // tie: right row at 20 IS visible
      ("A", 25L, Some(2.0)),
      ("A", 99L, Some(3.0)),
      ("B", 14L, None),
      ("C", 50L, None)))       // key with no right rows survives (left join)
  }

  test("forward as-of picks the earliest right row at-or-after each ts") {
    import spark.implicits._
    val quotes = Seq(
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0)).toDF("sym", "ts", "px")
    val trades = Seq(
      ("A", 5L), ("A", 20L), ("A", 25L), ("A", 99L),
      ("B", 14L), ("C", 50L)).toDF("sym", "trade_ts")
    val got = AsOfJoin.asofForward(
      trades, quotes, key = "sym", leftTs = "trade_ts", rightTs = "ts",
      valueCols = Seq(("px", "next_px")))
      .as[(String, Long, Option[Double])].collect().toSet
    assert(got === Set(
      ("A", 5L, Some(1.0)),    // earliest at-or-after 5 is 10
      ("A", 20L, Some(2.0)),   // tie: right row at 20 IS visible
      ("A", 25L, Some(3.0)),
      ("A", 99L, None),        // nothing after 99
      ("B", 14L, Some(9.0)),
      ("C", 50L, None)))
  }

  test("nearest as-of picks the closer side, equidistant ties backward") {
    import spark.implicits._
    val quotes = Seq(
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0)).toDF("sym", "ts", "px")
    val trades = Seq(
      ("A", 5L), ("A", 20L), ("A", 25L), ("A", 99L),
      ("B", 14L), ("C", 50L)).toDF("sym", "trade_ts")
    val got = AsOfJoin.asofNearest(
      trades, quotes, key = "sym", leftTs = "trade_ts", rightTs = "ts",
      valueCols = Seq(("px", "near_px")))
      .as[(String, Long, Option[Double])].collect().toSet
    assert(got === Set(
      ("A", 5L, Some(1.0)),    // only forward exists
      ("A", 20L, Some(2.0)),   // exact hit
      ("A", 25L, Some(2.0)),   // 20 and 30 equidistant → backward
      ("A", 99L, Some(3.0)),   // only backward exists
      ("B", 14L, Some(9.0)),
      ("C", 50L, None)))
  }

  test("duplicate right timestamps: rightTie makes the match deterministic" +
      " (smallest tie wins in every direction)") {
    import spark.implicits._
    // three quotes share ts=20; rid 4 has the smallest tie and must win
    // regardless of partition sort order, in all three directions
    val quotes = Seq( // (sym, ts, rid, px)
      ("A", 10L, 9L, 1.0),
      ("A", 20L, 6L, 2.0), ("A", 20L, 4L, 7.0), ("A", 20L, 5L, 8.0),
      ("A", 30L, 1L, 3.0)).toDF("sym", "ts", "rid", "px")
    val trades = Seq(("A", 22L), ("A", 18L), ("A", 25L))
      .toDF("sym", "trade_ts")
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.as[(String, Long, Option[Double])].collect().toSet
    assert(run(AsOfJoin.asofBackward(trades, quotes, "sym", "trade_ts",
      "ts", Seq(("px", "px")), rightTie = Some("rid"))) === Set(
      ("A", 18L, Some(1.0)), ("A", 22L, Some(7.0)), ("A", 25L, Some(7.0))))
    assert(run(AsOfJoin.asofForward(trades, quotes, "sym", "trade_ts",
      "ts", Seq(("px", "px")), rightTie = Some("rid"))) === Set(
      ("A", 18L, Some(7.0)), ("A", 22L, Some(3.0)), ("A", 25L, Some(3.0))))
    assert(run(AsOfJoin.asofNearest(trades, quotes, "sym", "trade_ts",
      "ts", Seq(("px", "px")), rightTie = Some("rid"))) === Set(
      ("A", 18L, Some(7.0)),   // 20 closer than 10; smallest rid at 20
      ("A", 22L, Some(7.0)),   // backward 20 closer than forward 30
      ("A", 25L, Some(7.0))))  // equidistant 20/30 → backward, rid 4
  }
}

/** Best-exemplar keeper selection over duplicate clusters. */
class KeepBestSpec extends SparkSpec {

  test("keeps the longest member per cluster, ties to the smaller id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b"), (2L, "a b c d"), (3L, "x y z"), (4L, "p q r"))
      .toDF("doc_id", "text")
    val clusters = Seq(
      (1L, 1L), (2L, 1L),  // doc 2 longer → keeper despite larger id
      (3L, 3L), (4L, 3L))  // equal length → smaller id 3 keeps
      .toDF("doc_id", "cluster_id")
    val got = Dedup.keepBestExemplar(docs, "doc_id", "text", clusters)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got === Set(
      (1L, 1L, false), (2L, 1L, true),
      (3L, 3L, true), (4L, 3L, false)))
  }
}

/** Interval overlap join: binned equi-plan, exactly-once semantics. */
class OverlapJoinSpec extends SparkSpec {

  test("overlapBinned equals brute overlap; multi-bin pairs count once") {
    import spark.implicits._
    // [0, 100) spans bins 0..12 at width 8 and overlaps [40, 60) in
    // several shared bins — the canonical-bin rule must keep ONE match.
    // [0, 5) vs [5, 10): touching half-open intervals do NOT overlap.
    val left = Seq((1L, 0L, 100L), (2L, 0L, 5L), (3L, 90L, 95L))
      .toDF("lid", "lo_l", "hi_l")
    val right = Seq((10L, 40L, 60L), (11L, 5L, 10L), (12L, 94L, 99L))
      .toDF("rid", "lo_r", "hi_r")
    val got = RangeJoin.overlapBinned(
        left, "lo_l", "hi_l", right, "lo_r", "hi_r", binWidth = 8.0)
      .select("lid", "rid").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, s"duplicated pairs: ${got.toSeq}")
    assert(got.toSet === Set(
      (1L, 10L),   // [0,100) x [40,60): multi-bin overlap, once
      (1L, 11L),   // [0,100) x [5,10)
      (1L, 12L),   // [0,100) x [94,99)
      (3L, 12L)))  // [90,95) x [94,99): 1-day overlap
    // and (2,11) is absent: [0,5) touches [5,10) but does not overlap
  }

  test("equiKeys restrict matches to the same entity") {
    import spark.implicits._
    val left = Seq((1L, "x", 0L, 10L), (2L, "y", 0L, 10L))
      .toDF("lid", "k", "lo_l", "hi_l")
    val right = Seq((10L, "x", 5L, 15L)).toDF("rid", "k", "lo_r", "hi_r")
    val got = RangeJoin.overlapBinned(left, "lo_l", "hi_l",
        right, "lo_r", "hi_r", binWidth = 8.0, equiKeys = Seq("k"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 10L)))
  }
}

/** Dedup family (SURVEY.md §2.11). */
class DedupSpec extends SparkSpec {

  test("exactDedup groups identical text and keeps the smallest id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb"), (2L, "aa bb"), (3L, "cc"), (4L, "aa bb"))
      .toDF("doc_id", "text")
    val got = Dedup.exactDedup(docs, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 3L), (3L, 1L)))
  }

  test("binned range join matches the direct theta join for awkward bin widths") {
    import spark.implicits._
    val parts = Tables.t(spark, sfDir, "part")
    val intervals = Seq(
      ("a", 900.0, 903.0),     // narrower than any bin
      ("b", 900.0, 1000.0),    // spans many bins
      ("c", 949.99, 950.01),   // straddles a "round" boundary
      ("d", 0.0, 0.0),         // empty interval
      ("e", 950.0, 900.0)).toDF("band", "lo", "hi") // inverted: never matches
    def direct =
      parts.join(intervals, $"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
        .select($"p_partkey", $"band").as[(Long, String)].collect().toSet
    for (w <- Seq(7.3, 25.0, 1000.0)) {
      val got = RangeJoin.binned(parts, "p_retailprice", intervals, "lo", "hi", w)
        .select($"p_partkey", $"band").as[(Long, String)].collect().toSet
      assert(got === direct, s"binWidth=$w diverged from the theta join")
    }
  }

  test("dupClusters labels components transitively with min-id canonical keepers") {
    import spark.implicits._
    // chain 2–7–9 (2~9 only transitively) + a separate pair
    val pairs = Seq((2L, 7L), (7L, 9L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs).as[(Long, Long, Boolean)].collect().toSet
    assert(got === Set(
      (2L, 2L, true), (7L, 2L, false), (9L, 2L, false),
      (20L, 20L, true), (21L, 20L, false)))
  }

  test("dupClusters converges on a 300-node chain within default maxIters") {
    import spark.implicits._
    // a path graph has diameter = n-1: plain min-propagation needs ~300
    // rounds (beyond maxIters=50); the pointer-doubling shortcut must
    // close it in O(log n)
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(chain).as[(Long, Long, Boolean)].collect()
    assert(got.length === 300)
    assert(got.forall(_._2 == 0L), "all nodes must join component 0")
    assert(got.count(_._3) === 1, "exactly one canonical keeper")
  }

  test("groupAwareSplit never separates a near-dup pair across splits") {
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b")
    val split = Dedup.groupAwareSplit(docs, "doc_id",
      Dedup.dupClusters(pairs))
    val straddling = pairs
      .join(split.select($"doc_id".as("doc_a"), $"split".as("sa")), "doc_a")
      .join(split.select($"doc_id".as("doc_b"), $"split".as("sb")), "doc_b")
      .where($"sa" =!= $"sb")
    assert(straddling.count() === 0,
      "near-dup pair assigned to different splits — eval contamination")
    // and the split actually partitions every document
    assert(split.count() === docs.count())
    assert(split.select("split").distinct().count() >= 2)
  }

  test("dropExactDuplicates keeps exactly the first occurrence per text") {
    import spark.implicits._
    val docs = Seq(
      (2L, "x y"), (1L, "x y"), (3L, "z")).toDF("doc_id", "text")
    val got = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(1L, 3L))
  }

  test("simhash banding finds exactly the brute-force pairs for hd <= 3") {
    import spark.implicits._
    // near-identical docs (1 word changed) + unrelated docs
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = (
      Seq((1L, base), (2L, base + " tail"), (3L, base.replace("w7", "q7"))) ++
        (10L to 29L).map(i => i -> (1 to 40).map(j => s"u${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val fp = Dedup.simhashes(docs, "doc_id", "text")
    val brute = fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hd"))
      .where(col("hd") <= 3)
      .select("a.doc_id", "b.doc_id").as[(Long, Long)].collect().toSet
    assert(banded === brute)    // pigeonhole exactness, not just recall
    assert(banded.nonEmpty)     // the near-identical docs must collide
  }

  test("minhash est_jaccard approximates true jaccard on near-dups") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extra1 extra2"),
      (3L, (1 to 60).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")
    val rows = Dedup.minhashPairs(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b", "jaccard", "est_jaccard")
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    val (_, _, j, est) = rows.head
    assert(j > 0.9)                 // 58/62 shared shingles
    assert(math.abs(est - j) < 0.3) // 16 hashes → coarse but in range
  }
}

/** Similarity search (SURVEY.md §2.11). */
class SimilaritySpec extends SparkSpec {

  test("vec_cosine matches a reference implementation") {
    import spark.implicits._
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(-1.0f, 0.5f, 2.0f)
    val got = Seq((a, b)).toDF("a", "b")
      .select(Similarity.cos(col("a"), col("b"))).as[Double].head()
    def dot(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (u, v) => u.toDouble * v.toDouble }.sum
    val want = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    assert(math.abs(got - want) < 1e-12)
  }

  test("int8Quant: codes bounded, reconstruction within scale/2, cosine >= 0.999") {
    import spark.implicits._
    val rows = Similarity.int8Quant(
      graft.Tables.t(spark, sfDir, "embeddings"), "vec_id", "embedding")
      .as[(Long, Double, Double, Seq[Int], Seq[Float])].collect()
    assert(rows.nonEmpty)
    for ((id, amax, scale, codes, emb) <- rows) {
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id code range")
      val deq = codes.map(_ * scale)
      val err = emb.map(_.toDouble).zip(deq).map { case (v, d) => math.abs(v - d) }
      assert(err.max <= scale / 2 + 1e-12, s"vec $id max err ${err.max}")
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).map { case (u, v) => u * v }.sum
      val x = emb.map(_.toDouble)
      val cos = dot(x, deq) / (math.sqrt(dot(x, x)) * math.sqrt(dot(deq, deq)))
      assert(cos >= 0.999, s"vec $id cosine after dequant: $cos")
    }
  }

  test("bruteTopK returns k best-by-cosine with deterministic tiebreak") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val got = Similarity.bruteTopK(emb, emb.where(col("vec_id") === 0),
      "vec_id", "embedding", 3).collect()
    assert(got.length === 3)
    assert(got.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L))
    val cosines = got.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
    assert(cosines.zip(cosines.tail).forall { case (x, y) => x >= y })
  }

  test("bruteTopK ignores zero-norm (NaN-cosine) vectors instead of poisoning the heap") {
    import spark.implicits._
    // one partition, zero-norm vector FIRST: its NaN cosine used to sit at
    // the worst-on-top heap head, making the replace test false for every
    // later (better) row — the true top-k was silently rejected
    val base = Array(1.0f, 0.0f)
    val corpus = (Seq((999L, Array(0.0f, 0.0f))) ++
      (1L to 50L).map(i => i -> Array(1.0f, i.toFloat / 100)))
      .toDF("vec_id", "embedding").coalesce(1)
    val q = Seq((0L, base)).toDF("vec_id", "embedding")
    val got = Similarity.bruteTopK(corpus, q, "vec_id", "embedding", 3)
      .orderBy("rank").select("vec_id").as[Long].collect()
    // nearest to (1,0) are the smallest-slope vectors 1, 2, 3
    assert(got.toSeq === Seq(1L, 2L, 3L))
  }

  test("lshPairs derives the hyperplane width from the data (32-dim corpus)") {
    import spark.implicits._
    // 32-dim vectors: the old hardcoded dim=64 built 64-wide planes whose
    // tail the fold never saw consistently; signatures must now come from
    // 32-wide planes and find the planted near-identical pair
    def vec(seed: Int) = {
      val rr = new scala.util.Random(seed)
      Array.fill(32)(rr.nextFloat() * 2 - 1)
    }
    val a = vec(1)
    val b = a.clone(); b(0) = a(0) + 0.01f // near-identical to a
    val noise = (10L to 29L).map(i => i -> vec(i.toInt + 100))
    val vecs = (Seq(1L -> a, 2L -> b) ++ noise).toDF("vec_id", "embedding")
    val pairs = Similarity.lshPairs(vecs, "vec_id", "embedding", threshold = 0.99)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)),
      s"planted 32-dim near-dup pair not found; got $pairs")
  }

  test("lshPairs on an empty corpus returns an empty pair relation") {
    import spark.implicits._
    val vecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.lshPairs(vecs, "vec_id", "embedding", 0.9).count() === 0L)
  }

  test("int8TopK recall vs float-exact scan is near-perfect") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val k = 5
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.int8TopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect sq).size.toDouble / brute.size
    assert(recall >= 0.9, s"int8 recall $recall — SQ should be near-lossless")
  }

  test("ivfKMeansTopK learns cells that give reasonable recall vs brute force") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val k = 5
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKMeansTopK(emb, queries, "vec_id", "embedding", k,
      nCells = 8, nProbe = 3, iters = 2)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"k-means IVF recall $recall too low")
  }

  test("pqTopK compresses to m bytes and keeps reasonable recall vs brute force") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val k = 5
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", k,
      m = 16, kSub = 64, iters = 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.4, // 16x compression trades recall; must beat chance
      s"PQ recall $recall vs brute (${brute.size} pairs)")
    assert(pq.size === brute.size)
  }

  test("ivfPqTopK recall matches plain PQ at the same code budget while scanning fewer vectors") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val k = 5
    def recallOf(df: org.apache.spark.sql.DataFrame, brute: Set[(Long, Long)]) = {
      val got = df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect got).size.toDouble / brute.size
    }
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqRecall = recallOf(
      Similarity.pqTopK(emb, queries, "vec_id", "embedding", k,
        m = 16, kSub = 64, iters = 2), brute)
    val ivfpqRecall = recallOf(
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k,
        nCells = 8, nProbe = 4, m = 16, kSub = 64, iters = 2), brute)
    // residual clouds are tighter than the global cloud, so IVF×PQ should
    // hold plain PQ's recall (small slack for cell-routing misses) while
    // scanning only nProbe/nCells of the codes
    assert(ivfpqRecall >= pqRecall - 0.1,
      s"IVF-PQ recall $ivfpqRecall fell below plain PQ $pqRecall")
    assert(ivfpqRecall >= 0.4, s"IVF-PQ recall $ivfpqRecall below floor")
  }

  test("pqTopK handles a corpus smaller than kSub (codes clamp to corpus size)") {
    import spark.implicits._
    val vecs = (1L to 10L).map(i =>
      (i, Array.tabulate(64)(d => ((d * i) % 7).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(vecs, vecs.where($"vec_id" <= 2),
      "vec_id", "embedding", k = 3) // default kSub = 64 > 10 rows
      .collect()
    assert(got.length === 6) // 2 queries x top-3
  }

  test("ivfTopK achieves reasonable recall vs brute force") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val k = 5
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "label", k,
      nProbe = 2)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall $recall too low") // probed-cell ANN
  }

  test("blockingMetrics counts candidates, truth and hits exactly") {
    import spark.implicits._
    // 64-dim so the native srp_sig16 path runs; 4 vectors in 2 exact
    // duplicate pairs along different axes → truth = 2 pairs, both
    // guaranteed candidates (identical vectors share every band).
    def axis(d: Int) = Array.tabulate(64)(i => if (i == d) 1f else 0f)
    val vecs = Seq(
      (1L, axis(0)), (2L, axis(0)), (3L, axis(7)), (4L, axis(7)))
      .toDF("vec_id", "embedding")
    val got = Similarity.blockingMetrics(vecs, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    val (n, universe, cand, truth, hit, recall, reduction) = got
    assert((n, universe, truth) === ((4L, 6L, 2L)))
    assert(hit === 2L, "identical vectors must collide in every band")
    assert(recall === 1000000L)
    assert(cand >= 2L && cand <= 6L)
    assert(reduction === (universe - cand) * 1000000L / universe)
  }

  test("kCenterGreedy picks the farthest-first diversity order") {
    import spark.implicits._
    // seed = min id ([1,0]); then the -1-cosine opposite, then the
    // orthogonal, then the near-duplicate of the seed — farthest-first.
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterGreedy(vecs, "vec_id", "embedding", 4)
      .select("rank", "vec_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 1L), (2L, 4L), (3L, 3L), (4L, 2L)))
  }

  test("semDedup drops the larger id of each within-cluster near-dup pair") {
    import spark.implicits._
    // k-center picks centers 1 → 4 → 3 (ranks 1,2,3); assignment puts
    // {1,2} in cluster 1, {4} in cluster 2, {3,5} in cluster 3; the
    // near-dups (cos ≈ 0.9939 ≥ 0.9) drop the larger id of each pair.
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f)),
      (5L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semDedup(vecs, "vec_id", "embedding", 3, 0.9)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 3L, true),
      (4L, 2L, true), (5L, 3L, false)))
  }

  test("semDedupKMeans: the dedup stages are the SAME code as semDedup " +
      "(identical assignments yield identical verdicts), and exact " +
      "duplicates drop under the production quantizer too") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)),      // exact dup pair
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f)),
      (5L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")

    // wiring: semDedup == its assignment routed through semDedupStages
    // (shared code, not a re-derivation) — rebuild the k-center
    // assignment exactly as semDedup does and compare verdicts
    val v = vecs.select($"vec_id", $"embedding".as("v"))
    val centers = Similarity.kCenterGreedy(vecs, "vec_id", "embedding", 3)
      .select($"rank", $"vec_id").join(v, Seq("vec_id"))
      .select($"rank", $"v".as("c"))
    val assigned = v.crossJoin(org.apache.spark.sql.functions.broadcast(centers))
      .select($"vec_id", $"v",
        org.apache.spark.sql.functions.round(
          Similarity.cos($"v", $"c"), 6).as("s"),
        ($"rank" * -1L).as("nr"))
      .groupBy($"vec_id", $"v")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.struct($"s", $"nr")).as("m"))
      .select($"vec_id", $"v", ($"m.nr" * -1L).as("cluster"))
    val viaStages = Similarity.semDedupStages(assigned, 0.9)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val direct = Similarity.semDedup(vecs, "vec_id", "embedding", 3, 0.9)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(viaStages === direct)

    // quantizer-invariant guarantee: identical vectors share a cell
    // under ANY quantizer, so the exact-dup pair drops its larger id
    // under k-means exactly as under k-center
    val km = Similarity.semDedupKMeans(vecs, "vec_id", "embedding",
        nCells = 3, threshold = 0.9)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(km.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L)) // verdict per input
    val byId = km.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 === true && byId(2L)._3 === false) // min-id exemplar
    assert(byId(1L)._2 === byId(2L)._2) // same cell
    // every cluster keeps at least its min-id member
    km.groupBy(_._2).foreach { case (_, members) =>
      assert(members.minBy(_._1)._3 === true)
    }
  }

  test("semDedupKMeans planted-cluster recall floor: >= 80% of true " +
      "near-dups drop, and NO false drop exists (the IVF precedent " +
      "making the rows-only registry grade quantitative)") {
    import spark.implicits._
    // 8 planted clusters on orthogonal axes of R^8, 5 members each:
    // member j of cluster c = e_c + 0.05·j·e_{(c+1)%8}. Within-cluster
    // cosine >= 1/sqrt(1+0.04) ≈ 0.981 > 0.95; cross-cluster cosine
    // <= 0.2 (the adjacent-axis leakage) << 0.95 — so ground truth is
    // exactly "all but the min id of each planted cluster are dups".
    val d = 8
    val vecs = (for {
      c <- 0 until 8
      j <- 0 until 5
    } yield {
      val v = Array.fill(d)(0f)
      v(c) = 1f
      v((c + 1) % d) = 0.05f * j
      ((c * 5 + j + 1).toLong, v)
    }).toDF("vec_id", "embedding")
    val got = Similarity.semDedupKMeans(vecs, "vec_id", "embedding",
        nCells = 8, threshold = 0.95, iters = 3)
      .as[(Long, Long, Boolean)].collect()
    assert(got.length === 40)
    val dropped = got.filterNot(_._3).map(_._1).toSet
    // true duplicates: every member except each cluster's min id
    val trueDups = (for {
      c <- 0 until 8; j <- 1 until 5
    } yield (c * 5 + j + 1).toLong).toSet
    // precision must be EXACT: cross-cluster cosines sit far below the
    // threshold, so any false drop means the quantizer leaked a pair
    // across planted clusters — impossible by the cosine bound above
    assert((dropped -- trueDups).isEmpty,
      s"false drops: ${(dropped -- trueDups).toSeq.sorted}")
    // recall floor: a planted cluster only loses members if k-means
    // splits its tight ball across cells — rare by construction
    val recall = (dropped intersect trueDups).size.toDouble / trueDups.size
    assert(recall >= 0.8, s"planted-cluster recall $recall < 0.8")
  }

  test("topSpectralDirection converges on the dominant axis, hand trace") {
    import spark.implicits._
    // two rows on e0, one on e1: Gram diag = (2e6, 1e6), /3 sign-safe →
    // (666666, 333333). Round 1: y=(6.66666e11, 3.33333e11),
    // ma=666666000000, d=666666 → x=(1000000, 500000); round 2 halves
    // the off-axis again → (1000000, 250000).
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.topSpectralDirection(vecs, "vec_id", "embedding", 4)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got(1L).map(r => (r._3, r._4)).toSeq ===
      Seq((1000000L, 666666000000L), (500000L, 666666000000L)))
    assert(got(2L).map(_._3).toSeq === Seq(1000000L, 250000L))
    // monotone convergence toward the dominant axis
    val offAxis = (1L to 4L).map(r => got(r)(1)._3)
    assert(offAxis === offAxis.sorted.reverse, s"off-axis must shrink: $offAxis")
    assert(got(4L).head._3 === 1000000L)
  }

  test("removeCommonDirection strips the dominant axis energy, hand trace") {
    import spark.implicits._
    // same corpus: u after 4 rounds = (1000000, 62500),
    // uu = 1e12 + 62500² = 1003906250000. For q=(1000,0): dvu=1e9,
    // vp=(1000-996, -62) → na=3860 → reduction (1e6-3860)·1e6 div 1e6.
    // For q=(0,1000): dvu=6.25e7, vp=(-62, 997) → na=997853.
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.removeCommonDirection(vecs, "vec_id", "embedding", 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 1000000L, 3860L, 996140L),
      (2L, 1000000L, 3860L, 996140L),
      (3L, 1000000L, 997853L, 2147L)))
  }
}

/** Text analysis (SURVEY.md §2.11). */
class TextAnalysisSpec extends SparkSpec {

  test("languageId predicts the dominant stopword language") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat is in the hat and the dog"),
      (2L, "le chat est un animal et la maison"),
      (3L, "der hund ist nicht ein tier und die katze")).toDF("doc_id", "text")
    val got = TextAnalysis.languageId(docs, "doc_id", "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "fr", 3L -> "de"))
  }

  test("qualityScore components are exact rationals of token stats") {
    import spark.implicits._
    val docs = Seq((1L, "the the cat")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityScore(docs, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_tokens") === 3L)
    assert(r.getAs[Double]("ttr") === 0.6667)          // 2 distinct / 3
    assert(r.getAs[Double]("stop_ratio") === 0.6667)   // 'the' twice
    assert(r.getAs[Double]("mean_tok_len") === 3.0)    // (3+3+3)/3
  }

  test("fingerprints are order-sensitive") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(3L))
    assert(fps(1L) !== fps(2L))
  }
}
