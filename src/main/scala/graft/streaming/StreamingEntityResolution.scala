package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Incremental (streaming) entity resolution: new records fold into a
  * stored entity artifact per micro-batch, so the master-data view is
  * always current without ever re-resolving the full corpus.
  *
  * Composition of two individually-proven parts:
  *  - blocking: FastSS deletion-variant keys
  *    ([[graft.operators.FuzzyJoin.deletionVariantKeys]]) persisted as an
  *    append-only index — an arriving record probes the stored keys, so
  *    candidates touch only records sharing a variant (lossless for
  *    edit distance ≤ k), never the corpus;
  *  - clustering: [[graft.operators.Dedup.updateClusters]]' contraction —
  *    verified pairs contract through the stored assignment and connected
  *    components run over the batch-sized contracted graph only.
  *
  * State lives in three artifacts under `base`, not in operator state:
  *  - `members`   (id, s): every record seen, append-only;
  *  - `variants`  (id, h): the blocking index, append-only;
  *  - `clusters`  (doc_id, cluster_id, keep): the assignment as a
  *    MERGE-ON-READ table — `clusters/c=N` (the last committed compaction)
  *    plus one `clusters/delta/d=N` dir per fold holding ONLY the
  *    changed rows ([[graft.operators.Dedup.updateClustersDelta]]:
  *    members of clusters the batch touched, plus new docs). A fold
  *    WRITES O(delta) bytes, never the corpus; reads merge base with
  *    the (small, compaction-bounded) deltas via latest-fold-wins;
  *    every [[CompactEvery]] folds the merged view is rewritten as the
  *    new base and the deltas retire — the LSM discipline every
  *    streaming table format (Hudi MOR, Iceberg merge-on-read) uses,
  *    and for the same reason.
  *
  * Scale notes (100 TB): per batch, work is proportional to the BATCH —
  * its variant keys, the candidate pairs they select, the contracted
  * component graph, and its delta rows. The two appends are partitioned
  * writes; the variant probe is a shuffled equi-join on 8-byte hashes
  * (a hot variant key is a skewed join key, handled by AQE, never
  * driver memory). Design history, measured at x10 data: the r8 design
  * rewrote the FULL assignment per fold (corpus-proportional IO); a
  * first round-9 attempt upserted the delta into a doc_id-bucketed
  * table with dynamic partition overwrite, but uniformly-hashed delta
  * rows touch ~every bucket once the batch isn't tiny, so it degraded
  * into the full rewrite PLUS merge overhead (33.7 s vs 21.4 s at x10).
  * Merge-on-read is the shape whose fold IO is O(delta) at every batch
  * size; compaction amortizes the corpus-sized write over
  * [[CompactEvery]] folds.
  *
  * Invariant inherited from the batch operator: cluster labels are the
  * minimum member id, so a streamed fold over any batch split equals the
  * batch recompute on the union (asserted by StreamingEntityResolutionSpec
  * and hash-matched against the brute-force DuckDB oracle by
  * `q_entity_resolution_stream`).
  */
object StreamingEntityResolution {

  private val memberSchema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType)))
  private val variantSchema = StructType(Seq(
    StructField("id", LongType), StructField("h", LongType)))
  private val clusterSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("cluster_id", LongType),
    StructField("keep", BooleanType)))

  private def membersPath(base: String) = s"$base/members"
  private def variantsPath(base: String) = s"$base/variants"
  private def clustersRoot(base: String) = s"$base/clusters"

  /** Wipe the artifact directory (fresh run). */
  def init(spark: SparkSession, base: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(base)
    FoldStore.fs(spark, base).delete(p, true)
    ()
  }

  /** Read an artifact with its declared schema — an absent or empty dir
    * (no fold has written yet) reads as an empty relation instead of
    * failing parquet schema inference. */
  private def readOr(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val fs = FoldStore.fs(spark, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Folds between compactions: bounds the delta count every read must
    * merge (and the broadcast of their doc_ids) while amortizing the
    * corpus-sized compaction write over this many folds. */
  val CompactEvery = 8

  /** Compacted bases are EPOCH-NUMBERED dirs `c=N` (N = last delta seq
    * folded in), committed by their `_SUCCESS` marker — compaction never
    * renames or deletes the live base, it writes the next one and
    * retires superseded state afterwards, so every crash point leaves a
    * readable (base, deltas-above-it) pair. */
  private def compactedPath(base: String, n: Int) =
    s"${clustersRoot(base)}/c=$n"
  private def deltaRoot(base: String) = s"${clustersRoot(base)}/delta"
  private def deltaPath(base: String, d: Int) = s"${deltaRoot(base)}/d=$d"

  /** COMMITTED delta fold numbers on disk, ascending — gated on the
    * `_SUCCESS` marker exactly like [[latestCompactedSeq]], so a write
    * that died between task and job commit is never read as the latest
    * fold (its incomplete latest-wins rows could shadow correct base
    * rows). An uncommitted `d=N` orphan is invisible to readers and gets
    * reclaimed by the next fold, which recomputes N = max(committed)+1
    * and overwrites the dir. */
  private def deltaSeqs(spark: SparkSession, base: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(deltaRoot(base))
    val fs = FoldStore.fs(spark, deltaRoot(base))
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("d=") => s.drop(2).toInt }
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(
        s"${deltaPath(base, d)}/_SUCCESS")))
      .sorted
  }

  /** Highest COMMITTED (_SUCCESS present) compacted epoch, 0 = none. */
  private def latestCompactedSeq(spark: SparkSession, base: String): Int = {
    val root = new org.apache.hadoop.fs.Path(clustersRoot(base))
    val fs = FoldStore.fs(spark, clustersRoot(base))
    if (!fs.exists(root)) return 0
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("c=") => s.drop(2).toInt }
      .filter(n => fs.exists(new org.apache.hadoop.fs.Path(
        s"${compactedPath(base, n)}/_SUCCESS")))
      .sorted.lastOption.getOrElse(0)
  }

  /** The current assignment (doc_id, cluster_id, keep): merge-on-read of
    * the newest committed compacted base and the delta folds ABOVE it
    * (deltas at or below the base's epoch are already folded in — they
    * linger only if a crash interrupted their retirement), latest fold
    * wins per doc. The window dedupe runs over the DELTAS only (small by
    * the [[CompactEvery]] bound); the base merges in through an anti-join
    * on the deltas' doc_ids — BROADCAST while the deltas' on-disk bytes
    * stay under [[BroadcastDeltaBytes]], shuffled otherwise (a delta
    * carries every member of each touched cluster, so one batch merging
    * into a very large stored cluster makes the fold cluster-sized; the
    * size gate keeps that case off the driver). */
  private[streaming] val BroadcastDeltaBytes: Long = 16L << 20

  private def readClusters(spark: SparkSession, base: String): DataFrame = {
    val emptyDf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], clusterSchema)
    val cseq = latestCompactedSeq(spark, base)
    val baseDf =
      if (cseq > 0)
        spark.read.schema(clusterSchema).parquet(compactedPath(base, cseq))
      else emptyDf
    val seqs = deltaSeqs(spark, base).filter(_ > cseq)
    if (seqs.isEmpty) return baseDf
    val fs = FoldStore.fs(spark, deltaRoot(base))
    val deltaBytes = seqs.map(d => fs.getContentSummary(
      new org.apache.hadoop.fs.Path(deltaPath(base, d))).getLength).sum
    val deltas = seqs.map { d =>
      spark.read.schema(clusterSchema).parquet(deltaPath(base, d))
        .withColumn("__d", lit(d))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("__d").desc)
    val latest = deltas
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("doc_id"), col("cluster_id"), col("keep"))
    val keys = latest.select(col("doc_id").as("__k"))
    val antiKeys = if (deltaBytes <= BroadcastDeltaBytes) broadcast(keys) else keys
    baseDf
      .join(antiKeys, col("doc_id") === col("__k"), "left_anti")
      .unionByName(latest)
  }

  /** Retire the deltas into the next compacted base `c=N` (N = the
    * highest delta folded). Crash-safe at every point WITHOUT renames:
    * the live base is never touched; `c=N` becomes real only when its
    * `_SUCCESS` marker lands (readers gate on it); the superseded base
    * and the folded deltas are deleted only afterwards, and a crash
    * before those deletes merely leaves garbage that readClusters
    * already excludes (deltas ≤ N) and the next compaction re-retires.
    */
  def compact(spark: SparkSession, base: String): Unit = {
    val fs = FoldStore.fs(spark, clustersRoot(base))
    val prev = latestCompactedSeq(spark, base)
    val seqs = deltaSeqs(spark, base).filter(_ > prev)
    if (seqs.isEmpty) return
    val n = seqs.max
    val merged = readClusters(spark, base)
    merged.write.mode("overwrite").parquet(compactedPath(base, n))
    if (!fs.exists(new org.apache.hadoop.fs.Path(
        s"${compactedPath(base, n)}/_SUCCESS")))
      throw new java.io.IOException(
        s"compaction of $base did not commit c=$n — state NOT retired")
    if (prev > 0)
      fs.delete(new org.apache.hadoop.fs.Path(compactedPath(base, prev)), true)
    seqs.foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(deltaPath(base, d)), true))
  }

  /** Fold one micro-batch of `(idCol, strCol)` records into the artifact.
    * Candidate pairs = batch-vs-stored (variant-index probe) plus
    * batch-vs-batch (variant self-join), exact-verified with thresholded
    * Levenshtein before clustering — blocking is lossless, so the fold
    * result is independent of how records were split into batches. */
  def foldBatch(spark: SparkSession, base: String, batch: DataFrame,
      idCol: String, strCol: String, k: Int): Unit = {
    import graft.operators.{Dedup, FuzzyJoin}
    val storedV = readOr(spark, variantsPath(base), variantSchema)
    val storedM = readOr(spark, membersPath(base), memberSchema)
    // drop ids already folded: makes a replayed micro-batch (foreachBatch
    // is at-least-once after recovery) a no-op instead of a member dup
    val b = batch.select(col(idCol).cast("long").as("id"),
      col(strCol).as("s"))
      .join(storedM.select(col("id")), Seq("id"), "left_anti")
      .persist()
    try {
      val bv = FuzzyJoin.deletionVariantKeys(b, "id", "s", k).persist()

      // candidates: new-vs-stored through the persisted index, new-vs-new
      // within the batch; both are equi-joins on the 8-byte variant hash
      val candOld = bv
        .join(storedV.select(col("h"), col("id").as("id_o")), Seq("h"))
        .where(col("id") =!= col("id_o"))
        .select(least(col("id"), col("id_o")).as("id_a"),
          greatest(col("id"), col("id_o")).as("id_b"))
      val candNew = bv
        .join(bv.select(col("h"), col("id").as("id_o")), Seq("h"))
        .where(col("id") < col("id_o"))
        .select(col("id").as("id_a"), col("id_o").as("id_b"))
      val cands = candOld.unionByName(candNew).distinct()

      // exact verify on the candidate rows only (thresholded DP exits
      // early on distant pairs); names come from stored ∪ batch
      val names = storedM.unionByName(b)
      val pairs = cands
        .join(names.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
        .join(names.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
        .withColumn("dist", levenshtein(col("s_a"), col("s_b"), k))
        .where(col("dist") >= 0 && col("dist") <= k)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))

      // changed-rows-only fold (r8 verdict #4): APPEND the delta as a new
      // merge-on-read fold dir — O(delta) write, the corpus is never
      // rewritten here. Compaction below amortizes the full write. The
      // new delta's seq must top BOTH the live deltas and the compacted
      // epoch (readers exclude deltas at or below the base's epoch).
      val cseq = latestCompactedSeq(spark, base)
      val seqs = deltaSeqs(spark, base).filter(_ > cseq)
      val old = readClusters(spark, base)
      Dedup.updateClustersDelta(old, pairs)
        .write.mode("overwrite")
        .parquet(deltaPath(base, math.max(seqs.lastOption.getOrElse(0), cseq) + 1))
      if (seqs.length + 1 >= CompactEvery) compact(spark, base)

      // append the batch's index keys and members AFTER the fold has
      // materialized, so this batch never probes its own stored keys
      bv.write.mode("append").parquet(variantsPath(base))
      b.write.mode("append").parquet(membersPath(base))
      bv.unpersist()
    } finally b.unpersist()
  }

  /** The resolved view: every member with its entity id (min custkey of
    * its cluster, itself when unmatched) and the entity's canonical
    * name — same shape as the batch `q_entity_resolution` capstone. */
  def resolved(spark: SparkSession, base: String): DataFrame = {
    val m = readOr(spark, membersPath(base), memberSchema)
    val c = readClusters(spark, base)
    m.join(c.select(col("doc_id").as("id"), col("cluster_id")), Seq("id"), "left")
      .withColumn("entity_id", coalesce(col("cluster_id"), col("id")))
      .join(m.select(col("id").as("entity_id"), col("s").as("canonical_name")),
        Seq("entity_id"))
      .select(col("id"), col("entity_id"), col("canonical_name"))
  }

  /** Attach the fold to a record stream: one artifact fold per
    * micro-batch via foreachBatch. foreachBatch is at-least-once after
    * recovery; the fold's already-seen anti-join makes a replayed batch a
    * no-op (ids must be stable across replay, which exactly-once sources
    * guarantee). */
  def attach(records: DataFrame, base: String, idCol: String, strCol: String,
      k: Int, checkpoint: String): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, _: Long) =>
        foldBatch(df.sparkSession, base, df, idCol, strCol, k)
      }
      .start()
}
