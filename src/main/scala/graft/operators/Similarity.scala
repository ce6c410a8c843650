package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY.md §2.11).
  *
  * Three tiers:
  *  - [[bruteTopK]]: exact cosine top-k, query set broadcast — the
  *    correctness baseline. One broadcast join, zero shuffles of the corpus;
  *    per-row cosine is the codegen'd [[graft.functions.VecCosine]].
  *  - [[lshPairs]]: all-pairs high-similarity search via random-hyperplane
  *    LSH. Signature computation is a stateless map; candidate generation
  *    shuffles (band, value) longs only. Probabilistic recall (documented
  *    per SRP theory: P[bit match] = 1 - θ/π), deterministic output — the
  *    hyperplanes are md5-seeded so the DuckDB oracle reproduces them.
  *  - [[ivfTopK]]: IVF (inverted-file) ANN — assign corpus to nearest of C
  *    deterministic centroids, probe nProbe cells per query. The 100 TB
  *    path: corpus partitioned by cell, queries broadcast, only probed
  *    cells scanned.
  *
  * The reference engine has no vector support (SURVEY.md §2 — its value
  * payload is raw packet bytes whose only consumed property is `.length`,
  * /root/reference/src/main/java/org/test/pcap4j/MainApp.java:42).
  */
object Similarity {

  /** cosine via the injected native expression (graft.functions.VecCosine). */
  def cos(a: Column, b: Column): Column = call_function("vec_cosine", a, b)

  /** Deterministic pseudo-random hyperplane matrix, seeded by md5 — the
    * same bytes DuckDB's md5() produces, so an oracle can rebuild it:
    * plane(j,d) = (('0x'||substr(md5(j||'_'||d),1,15))::BIGINT % P % 2000001
    *               - 1000000) / 1e6.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (j, d) =>
      md.reset()
      val hex = md.digest(s"${j}_$d".getBytes(StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000000007L
      ((h % 2000001L) - 1000000L) / 1e6
    }
  }

  /** SRP signature: bit j = (v · plane_j) > 0, folded MSB-first into a
    * long. The dot is a strict sequential fold in double, matching the
    * oracle's list_reduce. */
  def srpSignature(embCol: String, planes: Array[Array[Double]]): Column = {
    val planesSql = planes.map(_.mkString("array(", "D, ", "D)"))
      .mkString("array(", ", ", ")")
    expr(
      s"""aggregate(
         |  transform(sequence(${planes.length - 1}, 0, -1), j ->
         |    IF(aggregate(sequence(0, ${planes.head.length - 1}), 0D,
         |         (acc, d) -> acc + CAST(element_at(emb_arr, d + 1) AS DOUBLE)
         |                   * element_at(element_at($planesSql, j + 1), d + 1)) > 0D,
         |       1L, 0L)),
         |  0L, (sig, b) -> sig * 2 + b)""".stripMargin
        .replace("emb_arr", embCol))
  }

  /** All-pairs similarity ≥ threshold among LSH candidates.
    * nPlanes bits split into `bands` bands; pairs agreeing on ≥ 1 whole
    * band become candidates, then exact cosine filters. Buckets wider than
    * `maxBucket` are capped keep-first-N by id (see
    * [[graft.operators.Dedup.capBuckets]]) so a degenerate embedding
    * cluster can't drive candidate generation quadratic. */
  def lshPairs(vectors: DataFrame, idCol: String, embCol: String,
      threshold: Double, nPlanes: Int = 16, bands: Int = 4,
      maxBucket: Int = graft.operators.Dedup.DefaultMaxBucket): DataFrame = {
    // Hyperplane width comes from the DATA (one 1-row action at plan
    // time): a hardcoded 64 would silently build signatures from the
    // first 64 dims of a wider corpus — degraded recall with no error.
    val firstVec = vectors.select(col(embCol))
      .where(col(embCol).isNotNull).take(1)
    if (firstVec.isEmpty) // no vectors → no pairs, with the right schema
      return vectors.sparkSession.emptyDataFrame.select(
        lit(0L).as("vec_a"), lit(0L).as("vec_b"), lit(0.0).as("cosine"))
        .limit(0)
    val dim = firstVec.head.getSeq[Float](0).length
    val bits = nPlanes / bands
    // Read by both self-join sides and the verify rejoin; persist so the
    // corpus scan + signature fold runs once. The default 16×64 geometry
    // uses the native SrpSig16 kernel; other geometries fall back to the
    // (bit-identical) SQL-expression fold.
    val sigCol =
      if (nPlanes == 16 && dim == 64) call_function("srp_sig16", col(embCol))
      else srpSignature(embCol, hyperplanes(nPlanes, dim))
    val sigs = vectors.select(
      col(idCol).as("vec_id"), col(embCol).as("emb"), sigCol.as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Band-explode ids only — the shuffle carries (band, bval, id) longs,
    // never the vectors. Embeddings rejoin per candidate pair for verify.
    // persisted: the self-join's sides are separate subplans (the
    // capBuckets window breaks exchange-reuse) — 3 longs per row
    val rawBanded = sigs.select(
        col("vec_id"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), j -> shiftright(sig, $bits * j) % ${1 << bits})")))
      .toDF("vec_id", "band", "bval")
    val banded = graft.operators.Dedup.capBuckets(
      rawBanded, "vec_id", Seq("band", "bval"), maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // capped-off members re-enter as star candidates vs their bucket's
    // representative (Dedup.bucketRescuePairs) and pass the same exact
    // cosine verify — cluster-level recall survives degenerate buckets
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .union(graft.operators.Dedup
        .bucketRescuePairs(rawBanded, "vec_id", Seq("band", "bval"), maxBucket)
        .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b")))
      .distinct()

    val embs = sigs.select(col("vec_id"), col("emb"))
    candidates
      .join(embs.select(col("vec_id").as("vec_a"), col("emb").as("emb_a")), "vec_a")
      .join(embs.select(col("vec_id").as("vec_b"), col("emb").as("emb_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cos(col("emb_a"), col("emb_b")).as("c"))
      .where(col("c") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 6).as("cosine"))
  }

  /** Int8 scalar quantization (SQ) of an embedding column — the storage
    * rung between raw floats and PQ codes: 4× smaller than float32 at
    * ~0.1% cosine error, keeping exact per-dimension structure (unlike
    * PQ's codebook cells), which is what rerank stages dequantize.
    *
    * Per vector: `amax = max |x_i|`, `scale = amax / 127`, `code_i =
    * round(x_i / scale)` ∈ [-127, 127]. All-zero vectors get scale 0
    * and all-zero codes (dequantizing reproduces them exactly). Pure
    * per-row column program (stateless scan, no shuffle); deterministic
    * IEEE arithmetic — the DuckDB oracle reproduces `amax` and the
    * reconstruction error bit-for-bit (q_int8_sq projects the scalars;
    * the codes array itself stays out of the oracle output per the
    * driver-compare contract).
    */
  def int8Quant(vectors: DataFrame, idCol: String, embCol: String): DataFrame =
    vectors.select(col(idCol), col(embCol),
        expr(s"""aggregate($embCol, CAST(0.0 AS DOUBLE),
                |  (a, v) -> greatest(a, abs(CAST(v AS DOUBLE))))""".stripMargin)
          .as("amax"))
      .select(col(idCol),
        col("amax"),
        expr("amax / 127.0").as("scale"),
        expr(s"""CASE WHEN amax = 0.0
                |  THEN transform($embCol, v -> 0)
                |  ELSE transform($embCol,
                |    v -> CAST(round(CAST(v AS DOUBLE) / (amax / 127.0)) AS INT))
                |END""".stripMargin).as("codes"),
        col(embCol))

  /** Exact-scan top-k over an int8-quantized corpus (asymmetric: the
    * query stays float, corpus vectors dequantize per scan) — the
    * retrieval mode an int8-stored 100 TB embedding table actually
    * runs: a quarter of the scan bytes for ~0.1% cosine error, with
    * [[bruteTopK]]'s two-phase bounded-heap shape on top. Composition,
    * not re-implementation: quantize → dequantize → exact top-k;
    * SimilaritySpec pins recall vs the float-exact scan. */
  def int8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val dequant = int8Quant(corpus, idCol, embCol)
      .select(col(idCol),
        expr("transform(codes, c -> CAST(c * scale AS FLOAT))").as(embCol))
    bruteTopK(dequant, queries, idCol, embCol, k)
  }

  /** Exact top-k nearest (cosine) corpus vectors for each query vector,
    * two-phase: queries broadcast (small side), scoring is a map over the
    * corpus, then each task keeps at most k rows per query in a bounded
    * heap (phase 1) and only the ≤ P×k survivors per query meet the final
    * per-query rank (phase 2). No operator ever sorts the full scored
    * relation for one query in one task — the shape that made the
    * single-window formulation a one-reducer funnel at corpus scale.
    * Deterministic (cosine desc, id asc) total order throughout. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // null embeddings can't score (cosine would be NULL and the typed
    // phase-1 decode non-nullable); they are excluded on both sides.
    // Zero-NORM embeddings score NaN against everything and are skipped
    // row-by-row in phase 1 (see below) — a zero-norm corpus vector never
    // ranks, a zero-norm query returns no rows.
    val q = broadcast(queries.select(
      col(idCol).cast("long").as("query_id"), col(embCol).as("q_emb"))
      .where(col("q_emb").isNotNull))
    val c = corpus.select(col(idCol).cast("long").as("vec_id"), col(embCol).as("emb"))
      .where(col("emb").isNotNull)
    val scored = c.join(q, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), cos(col("q_emb"), col("emb")).as("c"))
    heapTopK(scored, k)
  }

  /** [[bruteTopK]] with GROUP exclusion — hard-negative mining's
    * "nearest neighbors that are NOT my near-duplicates": a corpus
    * vector sharing the query's group id (e.g. a semantic-dedup cluster
    * from [[lshPairs]] + [[Dedup.dupClusters]]) never ranks, so the
    * returned neighbors are high-similarity NON-members — exactly the
    * negatives a contrastive trainer wants. `groups` is (vec_id, gid);
    * vectors absent from it are singleton groups (own id).
    *
    * Scale shape: identical to [[bruteTopK]] (broadcast queries, map-
    * side scoring, bounded heaps) plus ONE corpus-sized equi-join to
    * attach gids — the same join any consumer of the cluster artifact
    * pays, and it rides the same shuffle key (vec_id). */
  def bruteTopKExcludingGroups(corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, groups: DataFrame, k: Int): DataFrame = {
    val g = groups.select(col("vec_id").cast("long").as("__gv"), col("gid"))
    def withGid(df: DataFrame, id: String, out: String): DataFrame =
      df.join(g, df(id) === g("__gv"), "left")
        .withColumn(out, coalesce(col("gid"), df(id)))
        .drop("__gv", "gid")
    val q = broadcast(withGid(
      queries.select(col(idCol).cast("long").as("query_id"),
        col(embCol).as("q_emb")).where(col("q_emb").isNotNull),
      "query_id", "q_gid"))
    val c = withGid(
      corpus.select(col(idCol).cast("long").as("vec_id"),
        col(embCol).as("emb")).where(col("emb").isNotNull),
      "vec_id", "c_gid")
    val scored = c.join(q,
      col("query_id") =!= col("vec_id") && col("q_gid") =!= col("c_gid"))
      .select(col("query_id"), col("vec_id"), cos(col("q_emb"), col("emb")).as("c"))
    heapTopK(scored, k)
  }

  /** Shared tail of the brute-force family: bounded per-partition heaps
    * then a merge over ≤ P×k survivors per query. */
  private def heapTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._

    // Phase 1: per-partition bounded selection. Memory per task is
    // O(|queries| × k) — queries are the broadcast-small side by contract.
    // The heap is worst-on-top so the replace test is O(1) per row.
    val partial = scored.as[(Long, Long, Double)].mapPartitions { it =>
      import scala.collection.mutable
      val worstFirst: Ordering[(Double, Long)] =
        Ordering.by { case (s, id) => (-s, id) }
      val heaps = mutable.LongMap.empty[mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (qid, vid, s) =>
        // NaN cosines (zero-norm vectors, 0/0) must never enter the heap:
        // Double ordering ranks NaN greatest, so a NaN at the worst-on-top
        // head makes the replace test `s > ws` false forever and silently
        // rejects every later row in the partition. Skipping here costs
        // nothing; a `.where(!isnan(c))` would re-evaluate the cosine
        // under predicate pushdown.
        if (!java.lang.Double.isNaN(s)) {
          val pq = heaps.getOrElseUpdate(qid,
            mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
          if (pq.size < k) pq.enqueue((s, vid))
          else {
            val (ws, wid) = pq.head
            if (s > ws || (s == ws && vid < wid)) { pq.dequeue(); pq.enqueue((s, vid)) }
          }
        }
      }
      heaps.iterator.flatMap { case (qid, pq) =>
        pq.iterator.map { case (s, vid) => (qid, vid, s) }
      }
    }.toDF("query_id", "vec_id", "c")

    // Phase 2: merge — the window ranks at most numPartitions × k rows per
    // query, independent of corpus size.
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("vec_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("c"), 6).as("cosine"))
  }

  /** IVF top-k: centroids = the min-id vector per `labelCol` cell (a
    * deterministic, metadata-driven coarse quantizer stand-in — in
    * production these come from k-means). Every corpus vector is assigned
    * to its nearest centroid once (a map + tiny broadcast); each query
    * probes its nProbe nearest cells and ranks only those vectors.
    * Probabilistic recall vs [[bruteTopK]] — asserted in the spec. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, labelCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val centroids = broadcast(
      corpus.withColumn("__rn",
          row_number().over(Window.partitionBy(col(labelCol)).orderBy(col(idCol))))
        .where($"__rn" === 1)
        .select(col(labelCol).as("cell"), col(embCol).as("c_emb")))

    def nearestCells(df: DataFrame, id: String, emb: String, n: Int): DataFrame = {
      val w = Window.partitionBy(col(id))
        .orderBy(cos(col(emb), col("c_emb")).desc, col("cell").asc)
      df.join(centroids, lit(true))
        .withColumn("__cr", row_number().over(w))
        .where(col("__cr") <= n)
        .drop("c_emb", "__cr")
    }

    val assigned = nearestCells(
      corpus.select(col(idCol).as("vec_id"), col(embCol).as("emb")), "vec_id", "emb", 1)
    val probed = nearestCells(
      queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb")),
      "query_id", "q_emb", nProbe)

    val scored = probed.join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), cos(col("q_emb"), col("emb")).as("c"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("c"), 6).as("cosine"))
  }

  /** IVF with a LEARNED coarse quantizer: deterministic k-means (fixed
    * hash-picked seeds, fixed Lloyd iteration count) instead of
    * [[ivfTopK]]'s metadata cells. The 100 TB shape: centroids are tiny
    * (C × dim doubles) and live on the driver/broadcast; each Lloyd pass
    * is one corpus scan (assignment in a per-partition loop — argmin over
    * a C×dim matrix is genuine imperative inner-loop work) plus one
    * groupBy(cell) mean; search scans only probed cells. */
  /** Nearest-centroid assignment (squared L2 argmin, first-index
    * tiebreak) — the inner loop shared by the learned-quantizer IVF
    * and [[semDedupKMeans]]. */
  private def nearestCell(e: Array[Float], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val ctr = cs(c)
      var d = 0.0; var i = 0
      val n = math.min(e.length, ctr.length)
      while (i < n) { val x = e(i) - ctr(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Deterministic k-means coarse quantizer (fixed hash-picked seeds,
    * fixed Lloyd iteration count) — the PRODUCTION quantizer behind
    * [[ivfKMeansTopK]] and [[semDedupKMeans]]. Each Lloyd round is ONE
    * corpus scan (per-partition argmin loops) + one map-side-combined
    * (cell, dim) mean; centroids are C × dim doubles, driver-held and
    * closure-broadcast like the codebook precedents. Unlike the greedy
    * k-center seeding (k SEQUENTIAL corpus scans), the scan count here
    * is `iters`, independent of k — which is what makes k ∝ n
    * affordable. */
  private[graft] def kMeansCentroids(corpus: DataFrame, idCol: String,
      embCol: String, nCells: Int, iters: Int): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(embCol).as("emb")).as[(Long, Array[Float])]

    // deterministic seeds: the nCells vectors with smallest xxhash64(id)
    var centroids: Array[Array[Double]] = vecs
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(nCells).select("emb").as[Array[Float]]
      .collect().map(_.map(_.toDouble))

    for (_ <- 1 to iters) {
      val cs = centroids
      val assigned = vecs.mapPartitions(_.map { case (_, e) =>
        (nearestCell(e, cs), e)
      }).toDF("cell", "emb")
      // per-cell mean vector; a cell that lost all members keeps its centroid
      val means = assigned
        .select(col("cell"), posexplode(col("emb")).as(Seq("dim", "v")))
        .groupBy("cell", "dim").agg(avg("v").as("m"))
        .groupBy("cell").agg(map_from_arrays(
          collect_list("dim"), collect_list("m")).as("mm"))
        .as[(Int, Map[Int, Double])].collect().toMap
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        means.get(c).map(m => Array.tabulate(old.length)(m(_))).getOrElse(old)
      }
    }
    centroids
  }

  def ivfKMeansTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nCells: Int = 8, nProbe: Int = 2,
      iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val vecs = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(embCol).as("emb")).as[(Long, Array[Float])]

    val cs = kMeansCentroids(corpus, idCol, embCol, nCells, iters)
    val assigned = vecs.mapPartitions(_.map { case (id, e) =>
      (nearestCell(e, cs), id, e)
    }).toDF("cell", "vec_id", "emb")

    val probed = queries
      .select(col(idCol).cast("long").as("query_id"), col(embCol).as("q_emb"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qe) =>
        val byDist = cs.indices.sortBy { c =>
          val ctr = cs(c)
          var d = 0.0; var i = 0
          val n = math.min(qe.length, ctr.length)
          while (i < n) { val x = qe(i) - ctr(i); d += x * x; i += 1 }
          d
        }
        byDist.take(nProbe).map(c => (c, qid, qe))
      }.toDF("cell", "query_id", "q_emb")

    val scored = probed.join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), cos(col("q_emb"), col("emb")).as("c"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("c"), 6).as("cosine"))
  }

  /** Product quantization (PQ): compress each vector to `m` one-byte
    * codes — one per dim/m-sized subvector, each the id of the nearest of
    * `kSub` per-subspace centroids learned with the same deterministic
    * Lloyd recipe as [[ivfKMeansTopK]]. 64-dim float32 → 16 bytes at the
    * default geometry (m=16 four-dim subspaces × 64 codes): 16× less to
    * store/scan, which is how a 100 TB embedding corpus fits a scan
    * budget; coarser geometries trade recall for further compression. Search is ASYMMETRIC: the raw
    * query precomputes an m × kSub lookup table of subvector distances,
    * and each candidate's approximate distance is m table lookups — no
    * decompression, no float vector ever read from the corpus.
    *
    * Codebooks are tiny (m × kSub × dim/m doubles) and driver-held like
    * the IVF centroids; encode and scan are pure per-partition loops.
    * Approximate by construction → rows-only + recall spec vs
    * [[bruteTopK]] (same contract as the IVF family). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, m: Int = 16, kSub: Int = 64,
      iters: Int = 3): DataFrame = {
    // codes are stored one byte per subspace: a larger codebook would
    // silently truncate indices and corrupt every lookup
    require(kSub <= 256, s"PQ stores one byte per subspace code: kSub <= 256, got $kSub")
    val spark = corpus.sparkSession
    import spark.implicits._

    // read by the seed sort, every Lloyd pass, the encode pass and the
    // final scan — persist so the corpus projection runs once
    val vecs = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(embCol).as("emb")).as[(Long, Array[Float])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // L2-normalize first: on unit vectors, L2 distance is monotone in
    // cosine (d² = 2 - 2cos), so PQ's L2 quantization ranks like the
    // cosine the rest of the similarity family uses
    def unit(e: Array[Float]): Array[Double] = {
      var n = 0.0; var i = 0
      while (i < e.length) { n += e(i).toDouble * e(i); i += 1 }
      val inv = if (n > 0) 1.0 / math.sqrt(n) else 0.0
      Array.tabulate(e.length)(d => e(d) * inv)
    }
    def sub(e: Array[Double], j: Int): Array[Double] = {
      val w = e.length / m
      java.util.Arrays.copyOfRange(e, j * w, (j + 1) * w)
    }
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }

    // per-subspace codebooks: deterministic seeds (smallest xxhash64(id)),
    // fixed Lloyd iterations; one corpus scan per iteration for ALL
    // subspaces at once
    val seeds = vecs.withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(kSub).select("emb").as[Array[Float]].collect()
      .map(unit)
    require(seeds.nonEmpty, "pqTopK needs a non-empty corpus")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subvectors")
    // a corpus smaller than kSub yields that many codes — clamp so the
    // codebook rebuild never indexes past the seed count
    val kEff = math.min(kSub, seeds.length)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seeds.map(sub(_, j)))

    for (_ <- 1 to iters) {
      val bks = books
      // (subspace, code, subvector) assignments in one pass
      val assigned = vecs.flatMap { case (_, e0) =>
        val e = unit(e0)
        (0 until m).map { j =>
          val s = sub(e, j)
          val code = bks(j).indices.minBy(c => d2(s, bks(j)(c)))
          (j, code, s)
        }
      }.toDF("j", "code", "s")
      val means = assigned
        .select(col("j"), col("code"), posexplode(col("s")).as(Seq("d", "v")))
        .groupBy("j", "code", "d").agg(avg("v").as("mv"))
        .as[(Int, Int, Int, Double)].collect()
        .groupBy(t => (t._1, t._2))
        .view.mapValues(ts => ts.sortBy(_._3).map(_._4).toArray).toMap
      books = Array.tabulate(m)(j => Array.tabulate(kEff)(c =>
        means.getOrElse((j, c), books(j)(c))))
    }

    val bks = books
    // encode: m bytes per vector — the only corpus-sized artifact
    val codes = vecs.map { case (id, e0) =>
      val e = unit(e0)
      (id, Array.tabulate(m) { j =>
        val s = sub(e, j) // hoisted: one slice per subspace, not per code
        bks(j).indices.minBy(c => d2(s, bks(j)(c))).toByte
      })
    }.toDF("vec_id", "codes").as[(Long, Array[Byte])]

    // asymmetric scan: ONE m × kSub distance table per query (computed
    // once, shipped in the task closure), then m lookups per candidate
    val qs = queries.select(col(idCol).cast("long").as("query_id"),
      col(embCol).as("q_emb")).as[(Long, Array[Float])].collect()
    val qTabs: Array[(Long, Array[Array[Double]])] = qs.map { case (qid, qe0) =>
      val qe = unit(qe0)
      qid -> Array.tabulate(m, kEff)((j, c) => d2(sub(qe, j), bks(j)(c)))
    }
    // broadcast, not closure capture: the tables are m×kSub×|Q| doubles
    // and a captured array re-serializes with EVERY task
    val qTabsB = spark.sparkContext.broadcast(qTabs)
    val scored = codes.flatMap { case (vid, cs) =>
      qTabsB.value.iterator.filter(_._1 != vid).map { case (qid, tab) =>
        var s = 0.0; var j = 0
        while (j < m) { s += tab(j)(cs(j) & 0xff); j += 1 }
        (qid, vid, s)
      }
    }.toDF("query_id", "vec_id", "pq_dist")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_dist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("pq_dist"), 6).as("pq_dist"))
  }

  // shared deterministic-ANN arithmetic (unit-normalize → L2 ranks like
  // cosine: d² = 2 − 2cos on unit vectors)
  private def unitVec(e: Array[Float]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < e.length) { n += e(i).toDouble * e(i); i += 1 }
    val inv = if (n > 0) 1.0 / math.sqrt(n) else 0.0
    Array.tabulate(e.length)(d => e(d) * inv)
  }
  private def subVec(e: Array[Double], j: Int, m: Int): Array[Double] = {
    val w = e.length / m
    java.util.Arrays.copyOfRange(e, j * w, (j + 1) * w)
  }
  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val x = a(i) - b(i); s += x * x; i += 1 }
    s
  }
  private def argminCell(e: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = dist2(e, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** IVF×PQ (IVFADC — the standard billion-vector recipe): a learned
    * coarse quantizer routes each vector to one of `nCells` cells, and the
    * RESIDUAL (unit vector − cell centroid) is product-quantized to `m`
    * one-byte codes. Search probes each query's `nProbe` nearest cells and
    * scans only their codes with a per-(query, cell) asymmetric distance
    * table — because query and candidate residuals subtract the SAME
    * centroid inside a cell, the table lookups approximate the true
    * ‖u_q − u_x‖² directly.
    *
    * 100 TB shape: the corpus-sized artifacts are (cell, id, m bytes) —
    * with the default geometry 16 B of codes per vector, partitionable by
    * cell so a probe touches nProbe/nCells of the data; centroids
    * (C × dim) and codebooks (m × kSub × dim/m) are driver-held and
    * broadcast, like the IVF and PQ halves they compose. Residual
    * quantization beats plain PQ at equal code budget because each cell's
    * residual cloud is tighter than the global vector cloud — asserted as
    * a recall-vs-brute spec.
    *
    * Deterministic end to end (hash-picked seeds, fixed Lloyd iteration
    * counts, id tiebreaks); approximate by construction → rows-only
    * registry entry + recall spec, like the IVF/PQ family. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nCells: Int = 8, nProbe: Int = 2,
      m: Int = 16, kSub: Int = 64, iters: Int = 2): DataFrame = {
    // codes are stored one byte per subspace: a larger codebook would
    // silently truncate indices and corrupt every lookup
    require(kSub <= 256, s"PQ stores one byte per subspace code: kSub <= 256, got $kSub")
    val spark = corpus.sparkSession
    import spark.implicits._

    // read by the seed sorts, every Lloyd pass and the encode pass
    val vecs = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(embCol).as("emb")).where(col("emb").isNotNull)
      .as[(Long, Array[Float])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- coarse quantizer: deterministic k-means on unit vectors ----
    var centroids: Array[Array[Double]] = vecs
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(nCells).select("emb").as[Array[Float]]
      .collect().map(unitVec)
    require(centroids.nonEmpty, "ivfPqTopK needs a non-empty corpus")
    val dim = centroids.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subvectors")

    for (_ <- 1 to iters) {
      val cs = centroids
      val means = vecs.mapPartitions(_.map { case (_, e) =>
          val u = unitVec(e); (argminCell(u, cs), u)
        }).toDF("cell", "u")
        .select(col("cell"), posexplode(col("u")).as(Seq("dim", "v")))
        .groupBy("cell", "dim").agg(avg("v").as("mv"))
        .as[(Int, Int, Double)].collect()
        .groupBy(_._1).view
        .mapValues(ts => ts.sortBy(_._2).map(_._3).toArray).toMap
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        means.getOrElse(c, old)
      }
    }
    val cs = centroids

    // ---- PQ codebooks learned on RESIDUALS ----
    val resSeeds = vecs.withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(kSub).select("emb").as[Array[Float]].collect()
      .map { e =>
        val u = unitVec(e)
        val ctr = cs(argminCell(u, cs))
        Array.tabulate(dim)(d => u(d) - ctr(d))
      }
    val kEff = math.min(kSub, resSeeds.length)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => resSeeds.map(subVec(_, j, m)))

    for (_ <- 1 to iters) {
      val bks = books
      val means = vecs.flatMap { case (_, e) =>
          val u = unitVec(e)
          val ctr = cs(argminCell(u, cs))
          val r = Array.tabulate(dim)(d => u(d) - ctr(d))
          (0 until m).map { j =>
            val s = subVec(r, j, m)
            val code = bks(j).indices.minBy(c => dist2(s, bks(j)(c)))
            (j, code, s)
          }
        }.toDF("j", "code", "s")
        .select(col("j"), col("code"), posexplode(col("s")).as(Seq("d", "v")))
        .groupBy("j", "code", "d").agg(avg("v").as("mv"))
        .as[(Int, Int, Int, Double)].collect()
        .groupBy(t => (t._1, t._2)).view
        .mapValues(ts => ts.sortBy(_._3).map(_._4).toArray).toMap
      books = Array.tabulate(m)(j => Array.tabulate(kEff)(c =>
        means.getOrElse((j, c), books(j)(c))))
    }
    val bks = books

    // ---- encode: (cell, id, m bytes) — the only corpus-sized artifact ----
    val codes = vecs.map { case (id, e) =>
      val u = unitVec(e)
      val cell = argminCell(u, cs)
      val ctr = cs(cell)
      val r = Array.tabulate(dim)(d => u(d) - ctr(d))
      (cell, id, Array.tabulate(m) { j =>
        val s = subVec(r, j, m)
        bks(j).indices.minBy(c => dist2(s, bks(j)(c))).toByte
      })
    }.toDF("cell", "vec_id", "codes").as[(Int, Long, Array[Byte])]

    // ---- probe: per-(query, probed cell) asymmetric tables, broadcast ----
    val qs = queries.select(col(idCol).cast("long").as("query_id"),
        col(embCol).as("q_emb")).where(col("q_emb").isNotNull)
      .as[(Long, Array[Float])].collect()
    val byCell: Map[Int, Array[(Long, Array[Array[Double]])]] = qs.flatMap {
      case (qid, qe) =>
        val uq = unitVec(qe)
        cs.indices.sortBy(c => dist2(uq, cs(c))).take(nProbe).map { cell =>
          val ctr = cs(cell)
          val qr = Array.tabulate(dim)(d => uq(d) - ctr(d))
          cell -> (qid, Array.tabulate(m, kEff)((j, c) =>
            dist2(subVec(qr, j, m), bks(j)(c))))
        }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val byCellB = spark.sparkContext.broadcast(byCell)

    val scored = codes.flatMap { case (cell, vid, cds) =>
      byCellB.value.getOrElse(cell, Array.empty[(Long, Array[Array[Double]])])
        .iterator.filter(_._1 != vid).map { case (qid, tab) =>
          var s = 0.0; var j = 0
          while (j < m) { s += tab(j)(cds(j) & 0xff); j += 1 }
          (qid, vid, s)
        }
    }.toDF("query_id", "vec_id", "pq_dist")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_dist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), round(col("pq_dist"), 6).as("pq_dist"))
  }

  /** Blocking-quality metrics for the SRP-LSH blocker — the eval every
    * record-linkage/dedup paper reports: REDUCTION RATIO (share of the
    * all-pairs universe the blocker avoids comparing) and PAIR
    * COMPLETENESS (recall: share of true pairs the blocker's candidates
    * contain). One row: `(n_vecs, n_pairs_universe, n_cand, n_true,
    * n_hit, recall_ppm, reduction_ppm)`, exact integers (ppm floored).
    * Candidates = [[lshPairs]] with threshold −2 (every band collision
    * survives the trivially-true verify); hits = [[lshPairs]] at the
    * real threshold (candidates ∩ truth by construction); truth = the
    * brute all-pairs cosine test — which is why callers pass a bounded
    * SUBSET: truth is inherently O(n²) and exists only to grade the
    * blocker, never to run at corpus scale. Because the metrics grade
    * the PLAIN collision model, the [[lshPairs]] calls here disable the
    * hot-bucket cap (`maxBucket = Int.MaxValue`) — the production
    * blocker's cap+rescue is a deliberate recall trade the grader must
    * see uncapped, and the graded slice is bounded anyway. */
  def blockingMetrics(vectors: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val v = vectors.select(col(idCol).cast("long").as("vec_id"),
        col(embCol).as("emb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nVec = v.agg(count(lit(1)).cast("long").as("n_vecs"))
    val nCand = lshPairs(v, "vec_id", "emb", threshold = -2.0,
        maxBucket = Int.MaxValue)
      .agg(count(lit(1)).cast("long").as("n_cand"))
    val nHit = lshPairs(v, "vec_id", "emb", threshold,
        maxBucket = Int.MaxValue)
      .agg(count(lit(1)).cast("long").as("n_hit"))
    val nTrue = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .where(cos(col("a.emb"), col("b.emb")) >= threshold)
      .agg(count(lit(1)).cast("long").as("n_true"))
    val out = nVec.crossJoin(nCand).crossJoin(nTrue).crossJoin(nHit)
      .withColumn("n_pairs_universe",
        expr("n_vecs * (n_vecs - 1) div 2"))
      .select(col("n_vecs"), col("n_pairs_universe"), col("n_cand"),
        col("n_true"), col("n_hit"),
        expr("n_hit * 1000000L div greatest(n_true, 1L)").as("recall_ppm"),
        expr("""(n_pairs_universe - n_cand) * 1000000L
               |div greatest(n_pairs_universe, 1L)""".stripMargin)
          .as("reduction_ppm"))
    val rows = out.collect() // 1 row; lets the corpus cache release now
    v.unpersist()
    vectors.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** k-center GREEDY coreset selection — the diversity-sampling verb
    * (herding/active-learning style): pick the vector with the smallest
    * id as the seed, then k−1 times add the candidate FARTHEST from the
    * current selection (argmin over the corpus of its max cosine to any
    * selected center, ties to the smaller id). The classic 2-approx of
    * the k-center objective, fully deterministic: similarities are
    * rounded to 6 dp before the argmin (the embed-neardup discipline),
    * so the selection order is engine-exact.
    *
    * Output: `(rank, vec_id, max_sim6)` — the selection order with each
    * pick's covering similarity at selection time (NULL for the seed).
    *
    * Scale shape: round r is one scan of the corpus against ≤ r−1
    * BROADCAST centers (k vectors, never the corpus) + a global top-1 —
    * k corpus scans total, the known cost of greedy k-center; the
    * corpus is persisted once and released at the end. The selected
    * relation is k-sized and localCheckpoints per round (it seeds the
    * next round's anti-join + broadcast). */
  def kCenterGreedy(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val v = vecs.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var selected = v.orderBy(col("vec_id")).limit(1)
      .select(lit(1L).as("rank"), col("vec_id"), col("v"),
        lit(null).cast("double").as("max_sim6"))
      .localCheckpoint(true)
    for (r <- 2 to k) {
      val next = v
        .join(selected.select("vec_id"), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(selected.select(col("v").as("c"))))
        .select(col("vec_id"), col("v"),
          round(cos(col("v"), col("c")), 6).as("s"))
        .groupBy(col("vec_id"), col("v"))
        .agg(max(col("s")).as("max_sim6"))
        .orderBy(col("max_sim6").asc, col("vec_id").asc).limit(1)
        .select(lit(r.toLong).as("rank"), col("vec_id"), col("v"),
          col("max_sim6"))
      selected = selected.unionByName(next).localCheckpoint(true)
    }
    v.unpersist()
    selected.select(col("rank"), col("vec_id"), col("max_sim6"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings and dropping within-cluster
    * near-duplicates — pairwise similarity is only ever computed INSIDE
    * a cluster, never across the corpus, which is the whole point of
    * the algorithm at scale.
    *
    * Deterministic instantiation (so the verdict hash-matches a SQL
    * oracle, unlike the seeded-k-means paths): the coarse clustering is
    * [[kCenterGreedy]] (min-id seed, argmin-of-max-6dp-cosine picks),
    * assignment is argmax 6-dp cosine with center-RANK tiebreak, and
    * the drop rule is the engine-wide min-id convention — a vector is
    * dropped iff some SAME-CLUSTER vector with a smaller id matches at
    * `round(cos, 6) >= threshold` (the paper keeps one exemplar per
    * duplicate group; min-id is our deterministic choice of exemplar).
    * Output: one row per input vector `(vec_id, cluster, kept)`.
    *
    * Distribution shape (the 100 TB contract): the k centers broadcast
    * (k rows) so assignment is map-side; the duplicate scan is ONE
    * self-join hash-partitioned on `cluster`; the verdict is a
    * broadcast-sized left join on the dropped ids. Cluster sizes stay
    * bounded because k scales with the corpus in the paper's regime
    * (they use ~n/1e4 clusters); the greedy k-center quantizer exists
    * for the hash-matched oracle — the production quantizer is
    * [[semDedupKMeans]], which runs the SAME [[semDedupStages]] under
    * the deterministic k-means of [[kMeansCentroids]] (scan count
    * independent of k, so k ∝ n stays affordable). */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double): DataFrame = {
    val v = vecs.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"))
    val centers = kCenterGreedy(vecs, idCol, vecCol, k)
      .select(col("rank"), col("vec_id"))
      .join(v, Seq("vec_id"))
      .select(col("rank"), col("v").as("c"))
    val assigned = v.crossJoin(broadcast(centers))
      .select(col("vec_id"), col("v"),
        round(cos(col("v"), col("c")), 6).as("s"),
        (col("rank") * lit(-1L)).as("nr"))
      .groupBy(col("vec_id"), col("v"))
      .agg(max(struct(col("s"), col("nr"))).as("m"))
      .select(col("vec_id"), col("v"),
        (col("m.nr") * lit(-1L)).as("cluster"))
    semDedupStages(assigned, threshold)
  }

  /** The quantizer-independent SemDeDup dedup stages: given the
    * assignment `(vec_id, v, cluster)`, the within-cluster duplicate
    * scan (ONE self-join hash-partitioned on `cluster`, never
    * cross-cluster), the min-id drop rule at `round(cos, 6) >=
    * threshold`, and the verdict join. [[semDedup]] (hash-matched
    * k-center instantiation) and [[semDedupKMeans]] (production
    * quantizer) both route through this — the spec pins that identical
    * assignments yield identical verdicts. */
  private[graft] def semDedupStages(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val dup = assigned.as("x").join(assigned.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id"))
      .where(round(cos(col("x.v"), col("y.v")), 6) >= lit(threshold))
      .select(col("y.vec_id").as("vec_id")).distinct()
    assigned
      .join(dup.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
  }

  /** SemDeDup under the PRODUCTION coarse quantizer: the same
    * deterministic parallel-round k-means as [[ivfKMeansTopK]]
    * ([[kMeansCentroids]] — `iters` corpus scans total, independent of
    * k, vs greedy k-center's k sequential scans), assignment as one
    * map-side per-partition argmin against the closure-broadcast
    * centroids, then the EXACT [[semDedupStages]]. Cluster ids are
    * cell indices (0-based), so verdicts are rows-only registry-wise
    * (seeded k-means is not DuckDB-reproducible — the IVF/PQ
    * precedent); the dedup semantics are pinned by the shared-stages
    * spec plus the quantizer-invariant exact-duplicate guarantee
    * (identical vectors land in the same cell under ANY quantizer, so
    * the larger id always drops at threshold <= 1). */
  def semDedupKMeans(vecs: DataFrame, idCol: String, vecCol: String,
      nCells: Int, threshold: Double, iters: Int = 2): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cs = kMeansCentroids(vecs, idCol, vecCol, nCells, iters)
    val assigned = vecs
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, e) =>
        (id, e, nearestCell(e, cs).toLong)
      }).toDF("vec_id", "v", "cluster")
    semDedupStages(assigned, threshold)
  }

  /** Top spectral direction of the corpus embedding matrix by POWER
    * ITERATION over the (uncentered) Gram matrix — the
    * dominant-direction verb an embedding pipeline runs for
    * anisotropy diagnosis and common-direction removal (the
    * all-but-the-top postprocessing of Mu & Viswanath 2018,
    * arXiv:1702.01417). Centering first would make it PCA proper;
    * uncentered is the documented choice here (the common direction
    * IS the mean direction for anisotropic embedding spaces).
    *
    * Fully deterministic fixed-point arithmetic so the whole
    * trajectory hash-matches an unrolled SQL oracle:
    * coordinates quantize to `q = round(v·1000)`; the Gram entry is
    * the corpus sum of `q_i·q_j` divided SIGN-SAFELY by the corpus
    * count (truncation toward zero — floored division of signed
    * integers differs between engines, so every signed division here
    * is `sign(s)·(|s| div d)`), making every Gram entry bounded by
    * the squared quantization scale REGARDLESS of corpus size; each
    * round multiplies the 1e6-scaled iterate by the Gram (64-term
    * integer dot products, ≤ ~2.2e13 per term sum — no overflow),
    * then renormalizes DIVISION-ONLY by `d = max(max|y| div 1e6, 1)`
    * (dividing by d instead of multiplying by 1e6/max|y| keeps every
    * intermediate in range; the iterate stays ~1e6-scaled).
    *
    * Published as the full trajectory `(round, dim, component, gain)`
    * — `gain` is the pre-renorm max|y|, the fixed-point Rayleigh
    * growth factor whose convergence the consumer watches.
    *
    * Distribution shape: the Gram accumulates in ONE map-side-combined
    * groupBy over (i, j) — dim² = 4096 keys, corpus-sized scan, no
    * joins; the 4096-entry Gram is dim²-sized (NOT corpus-sized) and
    * is collected like the codebook/partition-total precedents; the
    * iteration is then pure integer arithmetic on 64 numbers. */
  def topSpectralDirection(vecs: DataFrame, idCol: String, vecCol: String,
      rounds: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val traj = Vector.newBuilder[(Long, Long, Long, Long)]
    spectralIterate(vecs, vecCol, rounds) { (t, x, ma) =>
      for (i <- x.indices) traj += ((t.toLong, i.toLong, x(i), ma))
    }
    spark.createDataset(traj.result())
      .toDF("round", "dim", "component", "gain")
  }

  /** Shared fixed-point power iteration: builds the sign-safe /n Gram
    * (dim²-sized collect — the codebook precedent; Java's long
    * division truncates toward zero, which IS the documented
    * sign-safe semantics), iterates `rounds` times, calls `onRound`
    * with each round's renormalized iterate and pre-renorm max|y|,
    * and returns the final iterate. */
  private def spectralIterate(vecs: DataFrame, vecCol: String,
      rounds: Int)(onRound: (Int, Array[Long], Long) => Unit)
      : Array[Long] = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val qarr = vecs.select(transform(col(vecCol),
      v => round(v.cast("double") * lit(1000)).cast("long")).as("q"))
    val gram = qarr
      .select(posexplode(col("q")).as(Seq("gi", "qi")), col("q"))
      .select(col("gi"), col("qi"),
        posexplode(col("q")).as(Seq("gj", "qj")))
      .groupBy(col("gi"), col("gj"))
      .agg(sum(col("qi") * col("qj")).as("s"))
    val nv = vecs.count()
    require(nv > 0, "spectral iteration needs a non-empty corpus")
    val dim = vecs.select(size(col(vecCol))).head.getInt(0)
    val g = Array.ofDim[Long](dim, dim)
    gram.collect().foreach { r =>
      g(r.getInt(0))(r.getInt(1)) = r.getLong(2) / nv
    }
    var x = Array.fill(dim)(1000000L)
    for (t <- 1 to rounds) {
      val y = Array.tabulate(dim) { i =>
        var s = 0L
        var j = 0
        while (j < dim) { s += g(i)(j) * x(j); j += 1 }
        s
      }
      val ma = y.map(math.abs).max
      val d = math.max(ma / 1000000L, 1L)
      x = y.map(_ / d) // truncation toward zero = sign-safe
      onRound(t, x, ma)
    }
    x
  }

  /** Common-direction removal (the all-but-the-top step of Mu &
    * Viswanath 2018): project [[topSpectralDirection]]'s direction out
    * of every vector and report the per-vector energy removed —
    * `(vec_id, norm2_before, norm2_after, reduction_ppm)` in the same
    * fixed point (`q = round(v·1000)`, direction 1e6-scaled).
    *
    * The projection `q − (⟨q,u⟩·u_i) div ⟨u,u⟩` is exact integer
    * arithmetic: `⟨q,u⟩ ≤ 64·600·1e6 ≈ 3.7e10`, times `u_i ≤ 1e6`
    * stays ≤ 3.7e16 — in range at ANY corpus size because the Gram is
    * pre-divided by n. Every signed division is truncation toward
    * zero (Spark `div`), mirrored by `sign·(abs // d)` in the oracle.
    *
    * Distribution shape: the direction is a 64-long SQL literal
    * (broadcast-by-constant), so removal is ONE codegen'd map-side
    * pass — no joins, no shuffle, no per-row UDF. */
  def removeCommonDirection(vecs: DataFrame, idCol: String,
      vecCol: String, rounds: Int): DataFrame = {
    val u = spectralIterate(vecs, vecCol, rounds)((_, _, _) => ())
    val uu = u.map(x => x * x).sum
    val uArr = u.mkString("array(", "L, ", "L)")
    vecs
      .select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol),
          v => round(v.cast("double") * lit(1000)).cast("long")).as("q"))
      .withColumn("u", expr(uArr))
      .withColumn("dvu", expr(
        "aggregate(zip_with(q, u, (a, b) -> a * b), 0L, (s, x) -> s + x)"))
      .withColumn("vp", expr(
        s"zip_with(q, u, (a, b) -> a - (dvu * b) div ${uu}L)"))
      .select(col("vec_id"),
        expr("aggregate(q, 0L, (s, x) -> s + x * x)").as("norm2_before"),
        expr("aggregate(vp, 0L, (s, x) -> s + x * x)").as("norm2_after"))
      .select(col("vec_id"), col("norm2_before"), col("norm2_after"),
        expr("((norm2_before - norm2_after) * 1000000L)" +
          " div greatest(norm2_before, 1L)").as("reduction_ppm"))
  }

  /** Late-interaction (multi-vector) retrieval — ColBERT's MaxSim
    * scoring (Khattab & Zaharia, SIGIR 2020): documents and queries
    * are BAGS of vectors (one per token/chunk), and
    *
    *   `score(q, d) = Σ_{i ∈ q} max_{j ∈ d} cos(q_i, d_j)`
    *
    * — each query vector finds its best match inside the document and
    * the per-vector maxima add up. Retrieval quality sits between
    * single-vector cosine and full cross-attention, which is why it is
    * the standard "late interaction" index layout.
    *
    * Integer-exactness contract: cosines go to micro BIGINTs
    * (`floor(c·1e6 + 0.5)` — the [[BitextMine]] lift), the per-query-
    * vector max and the per-document sum are exact BIGINT aggregates,
    * and the top-k tail is [[TopN.topNPerGroup]]'s histogram-threshold
    * selection (integer scores, deterministic id tiebreak) — never a
    * per-query full sort. NaN cosines (zero-norm vectors) are dropped
    * before aggregation; the synthetic corpus has none (the
    * [[bruteTopK]] contract).
    *
    * Distribution shape (the 100 TB contract): query vectors are the
    * broadcast-small side (a query set's token vectors); scoring is
    * ONE map over the corpus vectors; both reductions are map-side-
    * combinable groupBys that shrink corpus-vectors × query-vectors to
    * docs × query-vectors to docs × queries; the top-k runs on the
    * histogram, not the documents.
    *
    * Output: `(query_id, rank, doc_id, maxsim_micro)` — top `k`
    * documents per query, self-pairs excluded. */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, docCol: String,
      vecIdCol: String, embCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
        col(docCol).cast("long").as("query_id"),
        col(vecIdCol).cast("long").as("qvec_id"),
        col(embCol).as("q_emb"))
      .where(col("q_emb").isNotNull))
    val c = corpus.select(col(docCol).cast("long").as("doc_id"),
        col(embCol).as("emb"))
      .where(col("emb").isNotNull)
    val scored = c.join(q, col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("qvec_id"), col("doc_id"),
        cos(col("q_emb"), col("emb")).as("c"))
      .where(!isnan(col("c")))
      .select(col("query_id"), col("qvec_id"), col("doc_id"),
        expr("CAST(floor(c * 1000000 + 0.5D) AS BIGINT)").as("cm"))
    val perDoc = scored
      .groupBy(col("query_id"), col("qvec_id"), col("doc_id"))
      .agg(max(col("cm")).as("mx"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("mx")).cast("long").as("maxsim_micro"))
    TopN.topNPerGroup(perDoc, "query_id", "maxsim_micro", "doc_id", k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("maxsim_micro").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("maxsim_micro"))
  }

  /** Matryoshka truncation-recall audit (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022): how much exact top-k
    * retrieval survives when embeddings are truncated to their first
    * d' dimensions — the measurement that decides whether a corpus's
    * vectors can be served at 1/2, 1/4, 1/8 width (the
    * dimension-adaptive retrieval trade every 100 TB embedding store
    * prices out before re-indexing). For each d' the exact top-k runs
    * over the truncated vectors and is compared to the full-width
    * top-k; recall is the surviving pair fraction in exact ppm.
    *
    * Shape: one [[bruteTopK]] per dim (broadcast-queries contract as
    * ever) over a PROJECTED corpus scan (the truncation is a `slice`
    * map, free inside codegen), one (query, vec)-keyed join per dim
    * against the full-width result — which is queries×k rows, pinned
    * by an eager localCheckpoint so the reference list computes once.
    *
    * Output: `(dim, matches, n_pairs, recall_ppm)`, one row per dim;
    * the full-width row is the recall_ppm = 1e6 anchor by
    * construction. */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, dims: Seq[Int],
      k: Int): DataFrame = {
    require(dims.nonEmpty, "need at least one dim")
    def trunc(df: DataFrame, d: Int) = df.select(col(idCol),
      expr(s"slice($embCol, 1, $d)").as(embCol))
    val full = bruteTopK(corpus, queries, idCol, embCol, k)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true) // queries×k rows — bounded by contract
    val nPairs = full.count()
    dims.map { d =>
      bruteTopK(trunc(corpus, d), trunc(queries, d), idCol, embCol, k)
        .select(col("query_id"), col("vec_id"))
        .join(full, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).cast("long").as("matches"))
        .select(lit(d.toLong).as("dim"), col("matches"))
    }.reduce(_ unionByName _)
      .select(col("dim"), col("matches"),
        lit(nPairs).as("n_pairs"),
        expr(s"(matches * 1000000) div ${nPairs}L").as("recall_ppm"))
  }
}
