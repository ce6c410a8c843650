package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.multimodal.{Archives, ArchiveRecord}

/** The Common-Crawl-shaped streamed ingestion capstone: `.warc.zst`
  * archives arrive as a stream, and every micro-batch folds through the
  * SAME stages as the batch [[graft.operators.CorpusClean.clean]] —
  * record split (real zstd frame walk), normalize + language/quality
  * gates (the `norm_ws` / `clean_gate` kernels), exact dedup, MinHash
  * banded near-dedup with exact-Jaccard verify — so the cleaned-corpus
  * view is always current and ALWAYS EQUAL to what the batch operator
  * would compute on everything seen so far (hash-matched against
  * q_corpus_clean's brute-force oracle by q_corpus_clean_stream).
  *
  * State lives in three append-only artifacts under `base` (the
  * [[StreamingEntityResolution]] discipline — batch-proportional folds,
  * no corpus rewrite, no driver state):
  *  - `texts` (doc_id, norm_text): exact-dedup survivors;
  *  - `bands` (doc_id, band, bhash): their MinHash band index — the
  *    blocking structure an arriving document probes, so near-dup
  *    candidates are (new × bucket-mates), never (corpus × corpus);
  *  - `drops` (doc_id): near-dup losers (the larger id of each verified
  *    pair, exactly the batch operator's drop rule).
  *
  * Equality contract: BOTH dedup stages are ORDER-INDEPENDENT. Near-dup:
  * both pair members are indexed, the pair is found when the later one
  * arrives, the larger id drops regardless of arrival order. Exact: the
  * batch min-id rule holds for any arrival order because a smaller id
  * arriving AFTER its text was stored demotes the stored keeper (one
  * drops append) and takes over — so shuffled or descending replays of
  * the same corpus converge to the identical cleaned view (asserted by
  * StreamingCorpusCleanSpec's descending/shuffled-order test).
  *
  * Scale notes (100 TB): per fold, work is proportional to the batch —
  * its records, its band keys, the bucket-mates they select, and the
  * candidate verifies. The band probe is a shuffled equi-join on
  * (band, 8-byte bhash); hot buckets are skewed join keys (AQE), never
  * driver state. The three appends are partitioned writes. Candidates
  * here are UNCAPPED (the batch operator caps hot buckets and rescues
  * via representatives): the verified-pair SET is identical as long as
  * the capped path loses no true pairs, which is exactly the property
  * q_corpus_clean's brute-force oracle pins per round.
  */
object StreamingCorpusClean {

  private val textSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("norm_text", StringType)))
  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bhash", LongType)))
  private val dropSchema = StructType(Seq(StructField("doc_id", LongType)))

  /** Max batch-side rows a fold probe may broadcast (r15 ADVICE guard):
    * ~50 B/row of (band, hash, id) keeps the built relation well under
    * the driver/executor comfort zone; an outsized micro-batch falls
    * back to the planner's choice (shuffle), which is correct, just not
    * the map-side fast path. */
  private[streaming] val BroadcastBatchRows: Long = 4L << 20

  private def textsPath(base: String) = s"$base/texts"
  private def bandsPath(base: String) = s"$base/bands"
  private def dropsPath(base: String) = s"$base/drops"

  /** Wipe the artifact directory (fresh run). */
  def init(spark: SparkSession, base: String): Unit = {
    FoldStore.fs(spark, base).delete(new org.apache.hadoop.fs.Path(base), true)
    ()
  }

  private def readOr(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val fs = FoldStore.fs(spark, path)
    if (FoldStore.exists(fs, new org.apache.hadoop.fs.Path(path)))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Fold one micro-batch of raw documents `(idCol, textCol)`.
    *
    * @param onNewlyKept composition hook (round 12): invoked with the
    *   fold's NEWLY-KEPT delta — this batch's exact-dedup winners minus
    *   its own verified near-dup losers, `(doc_id, norm_text)`,
    *   batch-sized — BEFORE the texts append (the fold's commit point),
    *   so a crash-replayed fold recomputes and re-stages the identical
    *   delta. This is what lets [[StreamingCleanPack]] pack each fold
    *   from delta-sized reads instead of re-scanning the accumulated
    *   artifacts. */
  def foldDocs(spark: SparkSession, base: String, batch: DataFrame,
      idCol: String, textCol: String, lang: String = "en",
      minQuality: Long = 3000L, jaccard: Double = 0.8,
      onNewlyKept: Option[DataFrame => Unit] = None): Unit = {
    val storedT = readOr(spark, textsPath(base), textSchema)
    val storedB = readOr(spark, bandsPath(base), bandSchema)

    // normalize + fused language/quality gate — the batch scan stage
    val cleaned = batch
      .select(col(idCol).cast("long").as("doc_id"),
        call_function("norm_ws", col(textCol)).as("norm_text"))
      .where(call_function("clean_gate",
        col("norm_text"), lit(lang), lit(minQuality)))

    // exact dedup, ORDER-INDEPENDENT (r9 verdict #6): within the batch
    // the smallest id per text survives; against the store, the arriving
    // id wins only if SMALLER than the stored keeper — in which case the
    // stored keeper is DEMOTED (appended to drops, one extra delta-sized
    // write) so the cleaned view equals the batch min-id rule for ANY
    // arrival order, not just ascending crawl order. A replayed batch
    // arrives with ids EQUAL to their stored keepers — strictly-smaller
    // loses, so replays stay no-ops. (The demoted keeper would usually
    // also fall to the near-dup verify — identical text is Jaccard 1 —
    // but short texts can have empty shingle sets, so demotion is
    // explicit, not delegated.)
    // r14 (guide §2.4/§3.2): every store probe below is explicitly
    // BATCH-broadcast-driven, so no fold ever plans a corpus-sized
    // exchange of a stored artifact. The exact-keeper probe pre-filters
    // the stored texts with a broadcast semi-join on xxhash64(text)
    // (hash collisions only ADD candidate rows; the min/left-join on
    // the full norm_text stays exact), the band and shingle probes
    // broadcast the batch-sized relation instead of leaving the join
    // strategy to estimates — before this, the planner was free to
    // sort-merge, shuffling texts/bands artifacts that GROW with the
    // corpus once per fold (the scan still reads them; the exchange no
    // longer moves them).
    // r15 session 2 (guide §3.3 "planning time itself can become the
    // bottleneck ... materialising an intermediate truncates the
    // plan"): every fold relation that feeds multiple later ACTIONS is
    // cut with an EAGER localCheckpoint instead of persist(). The
    // execution cost is the same (the persists materialized at their
    // first action anyway), but a persist keeps the full logical plan
    // alive, and every one of the fold's ~6 actions re-analyzed and
    // re-optimized the deep batch+probe+verify tree from scratch —
    // measured per fold at sf0.1: drops append 1.2-2.1 s, delta agg
    // 1.3-1.6 s, delta write 1.3-2.4 s, all on KB-sized cached data
    // (driver planning, not compute). The checkpoint truncates each
    // consumer's plan to an RDD scan. Blocks are reclaimed by the
    // ContextCleaner when the fold's references die — the established
    // iteration-core idiom (UnigramLM/TextAnalysis/Similarity).
    val batchTexts = cleaned
      .groupBy(col("norm_text")).agg(min(col("doc_id")).as("doc_id"))
      .localCheckpoint(true)
    // r15 (ADVICE): the "bounded by contract" batch-side broadcasts are
    // now ENFORCED by a cheap row-count gate on the checkpointed batch
    // relation (one RDD-backed count job per fold) — an oversized
    // micro-batch falls back to the planner's unhinted strategy instead
    // of OOMing the driver or tripping the 8 GB broadcast cap. The count
    // also short-circuits a fully-replayed/empty fold (every append and
    // probe below would be empty anyway — the no-op replay contract).
    val nBatch = batchTexts.count()
    if (nBatch == 0L) return
    def hinted(df: DataFrame): DataFrame =
      if (nBatch <= BroadcastBatchRows) broadcast(df) else df
    val storedKeeper = storedT
      .withColumn("__h", xxhash64(col("norm_text")))
      .join(hinted(batchTexts
        .select(xxhash64(col("norm_text")).as("__h")).distinct()),
        Seq("__h"), "left_semi")
      .groupBy(col("norm_text")).agg(min(col("doc_id")).as("stored_id"))
    val batchMin = batchTexts
      .join(storedKeeper, Seq("norm_text"), "left")
      .where(col("stored_id").isNull || col("doc_id") < col("stored_id"))
      .localCheckpoint(true)
    val demoted = batchMin.where(col("stored_id").isNotNull)
      .select(col("stored_id").as("doc_id"))
    // plain projection over the checkpointed batchMin — already shallow
    val newExact = batchMin
      .select(col("doc_id"), col("norm_text"))
    locally {
      val newBands = StreamingDedup
        .bandedSignatures(newExact, "doc_id", "norm_text")
        .localCheckpoint(true)

      // candidates: new-vs-stored through the band index, new-vs-new
      // within the batch — together, every band collision among all
      // exact survivors whose later member is in this batch. The batch
      // side is broadcast BY CONTRACT (micro-batches are bounded); the
      // stored band index streams through map-side, never shuffles.
      val candOld = storedB.as("s")
        .join(hinted(newBands.as("n")),
          col("n.band") === col("s.band") && col("n.bhash") === col("s.bhash") &&
            col("n.doc_id") =!= col("s.doc_id"))
        .select(least(col("n.doc_id"), col("s.doc_id")).as("doc_a"),
          greatest(col("n.doc_id"), col("s.doc_id")).as("doc_b"))
      val candNew = newBands.as("a")
        .join(hinted(newBands.as("b")),
          col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // checkpointed: the candidate relation feeds three consumers below
      // (the id semi-join and both verify rejoins)
      val cands = candOld.unionByName(candNew).distinct()
        .localCheckpoint(true)

      // exact-Jaccard verify on candidate rows only — the batch
      // operator's verify expression verbatim (rounded to 4 dp). The
      // shingle projection is SEMI-JOINED to the candidate ids first
      // (broadcast — candidate ids are batch-collision-sized): without
      // it every fold would evaluate the expensive shingle arrays for
      // the ENTIRE stored corpus just to verify a batch-sized
      // candidate set.
      import graft.operators.Dedup.{shinglesExpr, wordsExpr}
      // candIds is collision-sized, not batch-bounded (a hot bucket can
      // select many stored mates): gate its broadcast on ITS OWN count —
      // cands is checkpointed, so this is an RDD-backed count
      val nCands = cands.count()
      val candIds = cands.select(col("doc_a").as("cid"))
        .unionByName(cands.select(col("doc_b").as("cid"))).distinct()
      val sh = storedT.unionByName(newExact)
        .join(if (2 * nCands <= BroadcastBatchRows) broadcast(candIds)
              else candIds,
          col("doc_id") === col("cid"), "left_semi")
        .select(col("doc_id").as("id"),
          expr(shinglesExpr(wordsExpr("norm_text"))).as("sh"))
      // checkpointed: the drops append and the onNewlyKept delta (which
      // the hook consumes TWICE — content tag + write) read this;
      // without the cut each consumer re-runs the whole shingle verify
      // pass (measured: the composed capstone's clean folds doubled)
      val verified = cands
        .join(sh.withColumnRenamed("sh", "sh_a"), col("doc_a") === col("id")).drop("id")
        .join(sh.withColumnRenamed("sh", "sh_b"), col("doc_b") === col("id")).drop("id")
        .where(expr(
          """round(size(array_intersect(sh_a, sh_b)) /
            |      CAST(size(array_union(sh_a, sh_b)) AS DOUBLE), 4)"""
            .stripMargin) >= jaccard)
        .select(col("doc_b").as("doc_id")).distinct()
        .localCheckpoint(true)

      // append AFTER the fold's joins materialized, so the batch never
      // probes its own stored rows. The demoted exact-keepers ride the
      // same append (r14: one drops write per fold instead of two —
      // nothing in the fold reads drops, so the old earlier write
      // bought nothing; a crash-replayed fold re-appends the same
      // rows either way, and drops duplicates are absorbed by the
      // left_anti reads)
      demoted.unionByName(verified).write.mode("append")
        .parquet(dropsPath(base))
      // the newly-kept delta is surfaced BEFORE the bands/texts appends
      // (r14 reorder): texts is the commit point (a replayed batch
      // no-ops only once texts landed), so every crash window either
      // re-runs the hook with the identical recomputed delta or
      // already staged it. (With the fold relations checkpointed the
      // appends can no longer invalidate them — RDD-backed plans read
      // no path — but the ordering stays load-bearing for replay.)
      onNewlyKept.foreach(f =>
        f(newExact.join(verified, Seq("doc_id"), "left_anti")))
      newBands.write.mode("append").parquet(bandsPath(base))
      newExact.write.mode("append").parquet(textsPath(base))
    }
  }

  /** Fold one micro-batch of `.warc.zst` ARCHIVES: record split through
    * the real zstd frame walk, then the document fold above. */
  def foldWarcZst(spark: SparkSession, base: String,
      archives: Dataset[ArchiveRecord], lang: String = "en",
      minQuality: Long = 3000L, jaccard: Double = 0.8,
      onNewlyKept: Option[DataFrame => Unit] = None): Unit =
    foldDocs(spark, base,
      Archives.warcZstSplit(archives).select(col("doc_id"), col("text")),
      "doc_id", "text", lang, minQuality, jaccard, onNewlyKept)

  /** The always-current cleaned corpus: exact survivors minus near-dup
    * losers — the batch [[graft.operators.CorpusClean.clean]] output
    * shape (doc_id, norm_text). */
  def cleaned(spark: SparkSession, base: String): DataFrame =
    readOr(spark, textsPath(base), textSchema)
      .join(readOr(spark, dropsPath(base), dropSchema), Seq("doc_id"),
        "left_anti")

  /** Compact the three append-only artifacts (stage-and-swap, the
    * [[AdditiveFold.compact]] idiom — single-writer folds). Every
    * `foldDocs` append adds up to a shuffle-width of part files per
    * artifact, so a LONG fold sequence accumulates
    * thousands of small files whose per-file listing/open cost grows
    * linearly in FOLD COUNT even though the data is batch-sized — the
    * r13 60-fold soak measured the clean fold drifting 6.5 → 13 s
    * from exactly this. Row contents are unchanged (plain rewrite
    * into a bounded file count ∝ artifact bytes), so any fold/read
    * sequence around a compaction is answer-preserving. */
  def compact(spark: SparkSession, base: String): Unit = {
    val fs = FoldStore.fs(spark, base)
    for ((path, schema) <- Seq(
        (textsPath(base), textSchema),
        (bandsPath(base), bandSchema),
        (dropsPath(base), dropSchema))) {
      val p = new org.apache.hadoop.fs.Path(path)
      if (FoldStore.exists(fs, p)) {
        val parts = math.max(1L,
          fs.getContentSummary(p).getLength / (64L << 20)).toInt
        FoldStore.swap(fs, p) { tmp =>
          spark.read.schema(schema).parquet(path)
            .coalesce(parts)
            .write.mode("overwrite").parquet(tmp.toString)
        }
      }
    }
    ()
  }

  /** Attach the fold to an archive stream via foreachBatch (at-least-once
    * after recovery; the fold's stored-text anti-join makes replays
    * no-ops). */
  def attach(archives: Dataset[ArchiveRecord], base: String,
      checkpoint: String, lang: String = "en", minQuality: Long = 3000L,
      jaccard: Double = 0.8): StreamingQuery =
    archives.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (ds: Dataset[ArchiveRecord], _: Long) =>
        foldWarcZst(ds.sparkSession, base, ds, lang, minQuality, jaccard)
      }
      .start()

  /** The fully file-backed pipeline: WATCH a directory for new
    * `.warc.zst` FILES (Spark's file stream source tracks discovery in
    * the checkpoint — exactly-once file delivery), and per micro-batch
    * run the [[graft.multimodal.ArchiveFiles]] two-pass ingestion over
    * only the NEW files — streaming boundary-index walk, index-planned
    * ranged member reads — then fold the records through the clean
    * stages. This is the whole Common-Crawl loop: a crawler drops
    * archive files into object storage, the cleaned corpus stays
    * current, no file is ever read twice.
    *
    * The file source is asked for paths only (`content` is dropped
    * before it is ever materialized — the 2 GiB row limit never
    * applies); the per-batch path list collected to the driver is
    * new-files-sized, the same bounded shape as every fold here. */
  def attachWarcZstFiles(spark: SparkSession, dir: String, base: String,
      checkpoint: String, lang: String = "en", minQuality: Long = 3000L,
      jaccard: Double = 0.8,
      targetSplitBytes: Long = 128L << 20): StreamingQuery = {
    val files = spark.readStream.format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", "*.warc.zst")
      .load(dir)
      .select(col("path")) // prune content BEFORE the scan materializes it
    files.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val paths = batch.select("path").collect().map(_.getString(0)).toSeq
        if (paths.nonEmpty) {
          val idx = graft.multimodal.ArchiveFiles
            .indexFiles(s, paths.sorted, "warc.zst")
          val docs = graft.multimodal.ArchiveFiles
            .readWarcMembers(idx, "warc.zst", targetSplitBytes)
            .select(col("doc_id"), col("text"))
          foldDocs(s, base, docs, "doc_id", "text", lang, minQuality, jaccard)
        }
      }
      .start()
  }
}
