package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed upsert ("MERGE") emulation on plain parquet — the
  * `foreachBatch` sink pattern for maintaining a keyed table from a
  * changelog stream without a transactional table format.
  *
  * Layout: the table is hash-bucketed by key into `bucket=N` partition
  * directories. Each micro-batch:
  *
  *   1. dedupes the batch to one row per key (greatest version wins),
  *   2. computes the AFFECTED buckets (distinct key-hashes in the batch),
  *   3. reads ONLY those buckets from the existing table, drops rows
  *      whose key is being replaced (left-anti join on key),
  *   4. unions the survivors with the new rows and overwrites ONLY the
  *      affected bucket directories (dynamic partition overwrite).
  *
  * The rewrite cost per batch is `affected_buckets / total_buckets` of
  * the table, not the whole table — at 100 TB with 4096 buckets a batch
  * touching 10 keys rewrites ≤ 10 buckets. Re-running a batch converges
  * to the same state (last-write-wins by version), which is what makes
  * the sink exactly-once under checkpoint replay.
  */
object UpsertSink {

  /** INT bucket id — partition directories round-trip as int on read, so
    * the union of existing and new rows stays type-stable. */
  def bucketOf(keyCol: String, numBuckets: Int) =
    pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)).cast("int").as("bucket")


  /** FileSystem + fully-qualified Path for `path`, resolved through the
    * session's Hadoop conf — so the sink works wherever a 100 TB table
    * actually lives (hdfs://, s3a://, file://, bare local), not just on
    * `java.io.File`'s local view. */
  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  /** True when `path` holds at least one parquet file — a bare directory
    * (e.g. from an all-empty first batch or a crash between mkdir and
    * commit) must be treated as "no table yet" or the next read fails
    * schema inference. */
  private[graft] def hasData(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = fsFor(spark, path)
    fs.exists(root) && {
      val it = fs.listFiles(root, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        found = f.isFile && f.getPath.getName.endsWith(".parquet")
      }
      found
    }
  }

  /** Run a write under dynamic partition-overwrite mode, restoring the
    * previous session setting afterwards — shared by every bucket-bounded
    * rewrite path (upsert, agg/sketch/quantile matviews, compaction,
    * SCD2 maintenance). */
  private[graft] def withDynamicOverwrite(spark: SparkSession)(body: => Unit): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** The replay-fence marker for a batch. Underscore-prefixed so parquet
    * readers ignore it inside the table directory. */
  private def markerPath(root: Path, batchId: Long): Path =
    new Path(root, s"_applied_batch_$batchId")

  /** Commit the replay-fence marker: create a temp file, then rename —
    * rename is atomic on HDFS/local (and close-to on object stores), so a
    * crash never leaves a half-visible marker. Fails LOUD if the marker
    * cannot be committed: silently losing the fence would expose the
    * table to double-counting on the next replay. */
  private def writeMarker(fs: FileSystem, root: Path, batchId: Long): Unit = {
    val dst = markerPath(root, batchId)
    val tmp = new Path(root, s"._applied_batch_$batchId.tmp")
    fs.create(tmp, true).close()
    if (!fs.rename(tmp, dst)) {
      val committed = fs.exists(dst) // concurrent replay won the rename — fine
      fs.delete(tmp, false)
      if (!committed)
        throw new java.io.IOException(
          s"failed to commit replay-fence marker $dst — table at $root " +
            "is exposed to double-counting; fix storage before resuming")
    }
  }

  /** Apply one batch of upserts to the table at `path`. `versionCol`
    * breaks ties within and across batches (greater wins). */
  def upsertBatch(batch: DataFrame, path: String, keyCol: String,
      versionCol: String, numBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    // 1. one row per key: greatest version wins; version TIES break on the
    //    remaining columns (descending) so replays of a tied batch pick
    //    the same row every time — the convergence contract depends on a
    //    deterministic total order, not just the version.
    val tieBreak = batch.columns.toSeq
      .filterNot(c => c == keyCol || c == versionCol).map(col(_).desc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(versionCol).desc +: tieBreak: _*)
    val newRows = batch
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn")
      .withColumn("bucket", bucketOf(keyCol, numBuckets))

    val exists = hasData(spark, path)
    val merged0 = if (!exists) newRows else {
      val affected = newRows.select("bucket").distinct()
      val existing = spark.read.parquet(path)
        .join(broadcast(affected), Seq("bucket"), "left_semi")
      // null-SAFE anti join: a NULL key is a regular key (the window above
      // already dedupes NULLs into one row; xxhash64(NULL) buckets it), so
      // an existing NULL-key row must be replaced, not duplicated forever
      val kept = existing.join(newRows.select(col(keyCol).as("__newKey")),
        col(keyCol) <=> col("__newKey"), "left_anti")
      kept.select(newRows.columns.map(col).toSeq: _*).unionByName(newRows)
    }
    // materialize + truncate lineage: the write overwrites the same path
    // the merge just read (Spark rejects a write whose plan still scans
    // the destination)
    val merged = merged0.localCheckpoint(true)
    withDynamicOverwrite(spark) {
      merged.write.mode("overwrite").partitionBy("bucket").parquet(path)
    }
  }

  /** Current table state (one row per key). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("bucket")

  /** Compact the small files a long-running upsert/matview stream leaves
    * behind: every batch rewrites its affected buckets with fresh files,
    * so a table that has seen thousands of batches reads thousands of
    * footers. Repartitioning ON THE BUCKET COLUMN collapses each bucket
    * directory to one file (task) in a single pass, preserving the
    * layout the merge path depends on; contents are untouched, so
    * compaction is idempotent and safe to run between batches. The
    * replay-fence markers live at the table root and are not rewritten.
    * At 100 TB run it per-bucket-range instead of all buckets at once. */
  def compact(spark: SparkSession, path: String): Unit = {
    if (!hasData(spark, path)) return
    // localCheckpoint: the write overwrites the path the plan reads
    val data = spark.read.parquet(path)
      .repartition(col("bucket")).localCheckpoint(true)
    withDynamicOverwrite(spark) {
      data.write.mode("overwrite").partitionBy("bucket").parquet(path)
    }
  }

  /** Incremental AGGREGATE maintenance (a streaming materialized view):
    * merge a batch's partial aggregates into the keyed table by SUMMING
    * the value columns of matching keys — running per-key totals that
    * never rescan history. Unlike [[upsertBatch]]'s last-write-wins,
    * addition is not idempotent, so replays are fenced with a per-batchId
    * marker file: a replayed batch whose marker exists is skipped. The
    * marker is written after the data commit; the tiny crash window
    * between the two is the price of plain parquet (a transactional
    * format closes it with one atomic commit — same layout, same plan).
    * The marker itself commits via temp-file + atomic rename and THROWS
    * if it cannot — a silently missing fence would double-count the
    * batch on every future replay.
    */
  def mergeAggBatch(batch: DataFrame, path: String, keyCol: String,
      sumCols: Seq[String], batchId: Long, numBuckets: Int = 64): Unit =
    mergeBatchWith(batch, path, Seq(keyCol), sumCols,
      c => sum(col(c)).as(c), batchId, numBuckets)

  /** Incremental SKETCH maintenance — the distinct-counting materialized
    * view ("distinct users per hour, incrementally"): each batch carries
    * per-key Datasketches HLL sketches (binary, from `hll_sketch_agg`),
    * and matching keys merge by SKETCH UNION instead of addition. Union
    * is register-max — idempotent and order-independent — but the merge
    * job itself rewrites buckets, so replays are fenced exactly like
    * [[mergeAggBatch]]. Read back with `hll_sketch_estimate(sketchCol)`.
    * Keys may be several columns (e.g. window_start + key). */
  def mergeSketchBatch(batch: DataFrame, path: String, keyCols: Seq[String],
      sketchCols: Seq[String], batchId: Long, numBuckets: Int = 64): Unit =
    mergeBatchWith(batch, path, keyCols, sketchCols,
      c => hll_union_agg(col(c)).as(c), batchId, numBuckets)

  /** Incremental QUANTILE maintenance — per-key KLL sketches merged by
    * union: "p99 latency per hour, incrementally", the quantile analogue
    * of [[mergeSketchBatch]]. KLL merge is associative and
    * order-independent but (like any rewrite) replays are fenced by
    * batchId. Build batch sketches with `kll_sketch_agg(x)`, read back
    * with `kll_quantile(sketchCol, q)` (both defined in
    * [[graft.functions.SketchFunctions]]). */
  def mergeQuantileBatch(batch: DataFrame, path: String, keyCols: Seq[String],
      sketchCols: Seq[String], batchId: Long, numBuckets: Int = 64): Unit = {
    mergeBatchWith(batch, path, keyCols, sketchCols,
      c => call_function("kll_union_agg", col(c)).as(c), batchId, numBuckets)
  }

  /** Incremental FREQUENCY maintenance — per-key Count-Min sketches
    * merged by union: "how often has each item appeared, per key,
    * incrementally" (the heavy-hitters matview). Batch sketches come
    * from Spark's own `count_min_sketch(x, eps, conf, seed)` aggregate
    * (all batches MUST share eps/conf/seed — the union throws on
    * mismatch); read back with `cms_estimate_long(sketchCol, item)`.
    * CMS union is addition of counter arrays — NOT idempotent — so
    * replays are fenced by batchId like [[mergeAggBatch]]. */
  def mergeFrequencyBatch(batch: DataFrame, path: String, keyCols: Seq[String],
      sketchCols: Seq[String], batchId: Long, numBuckets: Int = 64): Unit = {
    mergeBatchWith(batch, path, keyCols, sketchCols,
      c => call_function("cms_union_agg", col(c)).as(c), batchId, numBuckets)
  }

  /** Incremental DISTINCT-SET maintenance — per-key KMV/theta sketches
    * merged by k-smallest-distinct union: the set-algebra matview
    * ("distinct users per hour, incrementally, AND their overlap across
    * hours/segments from the stored state alone" — HLL can estimate
    * each set but not intersections). Batch sketches come from
    * `kmv_agg(h)` over the shared md5-derived 60-bit hash; the union is
    * an exact semilattice (idempotent, order-independent — a replayed
    * batch merges to bit-identical state), fenced by batchId anyway for
    * uniformity. Read back with the estimator/set-algebra expressions
    * in queries/Curation.scala. */
  def mergeThetaBatch(batch: DataFrame, path: String, keyCols: Seq[String],
      sketchCols: Seq[String], batchId: Long, numBuckets: Int = 64,
      k: Int = 256): Unit = {
    // the union k MUST equal the batch-sketch k: only then is the merged
    // state the exact k-smallest-distinct semilattice (a larger union k
    // would silently grow the sample and skew the (k-1)/θ estimator)
    mergeBatchWith(batch, path, keyCols, sketchCols,
      c => call_function("kmv_union_agg", col(c), lit(k)).as(c), batchId, numBuckets)
  }

  /** Seal-and-compact for windowed matviews — bounds the hot table on an
    * unbounded stream.
    *
    * Every `merge*Batch` matview keyed on (window, key) accumulates one
    * row per window per key FOREVER; after enough windows the matview
    * itself becomes the scan problem the sketches were meant to avoid.
    * Windows the watermark has passed are sealed — no future batch may
    * touch them — so this pass moves them out of the hot bucket layout:
    *
    *   1. rows matching `sealed` are union-merged per key into the table
    *     at `closedPath` (same bucket layout, its own bucket count),
    *     fenced by `cutoffId` exactly like a batch merge;
    *   2. those rows are deleted from the hot table (affected buckets
    *     rewritten bucket-bounded; buckets left empty are removed).
    *
    * The hot table stays O(open windows × keys) regardless of stream
    * age; the closed store only ever grows by genuinely-final rows and
    * both stores remain [[compact]]-able. Query the full view with
    * [[readWithClosed]] — row sets are disjoint by construction, and
    * because the move re-merges with any row already in the closed
    * store, a very-late straggler that slipped into the hot table after
    * an earlier seal still ends up counted exactly once.
    *
    * Contract: `cutoffId` must be fresh and monotonically increasing
    * (derive it from the cutoff itself, e.g. epoch seconds). If a
    * compaction fails midway, re-run it with the SAME cutoffId before
    * issuing any new one — the fence then skips the closed-store merge
    * it already committed and finishes the hot-side delete, converging
    * without double-counting the non-idempotent families (sum/KLL/CMS).
    */
  def compactClosedAgg(spark: SparkSession, path: String, closedPath: String,
      keyCols: Seq[String], sumCols: Seq[String], sealedWhen: org.apache.spark.sql.Column,
      cutoffId: Long, closedBuckets: Int = 64): Unit =
    compactClosedWith(spark, path, closedPath, keyCols, sumCols,
      c => sum(col(c)).as(c), sealedWhen, cutoffId, closedBuckets)

  /** [[compactClosedAgg]] for the HLL matview ([[mergeSketchBatch]]). */
  def compactClosedSketch(spark: SparkSession, path: String, closedPath: String,
      keyCols: Seq[String], sketchCols: Seq[String], sealedWhen: org.apache.spark.sql.Column,
      cutoffId: Long, closedBuckets: Int = 64): Unit =
    compactClosedWith(spark, path, closedPath, keyCols, sketchCols,
      c => hll_union_agg(col(c)).as(c), sealedWhen, cutoffId, closedBuckets)

  /** [[compactClosedAgg]] for the KLL matview ([[mergeQuantileBatch]]). */
  def compactClosedQuantile(spark: SparkSession, path: String, closedPath: String,
      keyCols: Seq[String], sketchCols: Seq[String], sealedWhen: org.apache.spark.sql.Column,
      cutoffId: Long, closedBuckets: Int = 64): Unit = {
    compactClosedWith(spark, path, closedPath, keyCols, sketchCols,
      c => call_function("kll_union_agg", col(c)).as(c), sealedWhen, cutoffId, closedBuckets)
  }

  /** [[compactClosedAgg]] for the CMS matview ([[mergeFrequencyBatch]]). */
  def compactClosedFrequency(spark: SparkSession, path: String, closedPath: String,
      keyCols: Seq[String], sketchCols: Seq[String], sealedWhen: org.apache.spark.sql.Column,
      cutoffId: Long, closedBuckets: Int = 64): Unit = {
    compactClosedWith(spark, path, closedPath, keyCols, sketchCols,
      c => call_function("cms_union_agg", col(c)).as(c), sealedWhen, cutoffId, closedBuckets)
  }

  /** [[compactClosedAgg]] for the KMV/theta matview ([[mergeThetaBatch]]). */
  def compactClosedTheta(spark: SparkSession, path: String, closedPath: String,
      keyCols: Seq[String], sketchCols: Seq[String], sealedWhen: org.apache.spark.sql.Column,
      cutoffId: Long, closedBuckets: Int = 64, k: Int = 256): Unit = {
    compactClosedWith(spark, path, closedPath, keyCols, sketchCols,
      c => call_function("kmv_union_agg", col(c), lit(k)).as(c), sealedWhen, cutoffId, closedBuckets)
  }

  /** Full matview state across the seal boundary: hot ∪ closed. The two
    * row sets are disjoint (compaction deletes exactly what it moves). */
  def readWithClosed(spark: SparkSession, path: String, closedPath: String): DataFrame =
    if (!hasData(spark, closedPath)) read(spark, path)
    else if (!hasData(spark, path)) read(spark, closedPath)
    else read(spark, path).unionByName(read(spark, closedPath))

  private def compactClosedWith(spark: SparkSession, path: String,
      closedPath: String, keyCols: Seq[String], valCols: Seq[String],
      aggFor: String => org.apache.spark.sql.Column,
      sealedWhen: org.apache.spark.sql.Column, cutoffId: Long, closedBuckets: Int): Unit = {
    if (!hasData(spark, path)) return
    val hot = spark.read.parquet(path)
    // null-safe split: a row whose seal predicate is NULL is not sealed
    val isSealed = coalesce(sealedWhen, lit(false))
    val sealedRows = hot.where(isSealed)
    if (sealedRows.isEmpty) return
    // 1. fenced union-merge into the closed store (re-groups per key and
    //    re-buckets under the closed store's own layout)
    mergeBatchWith(sealedRows.drop("bucket"), closedPath, keyCols, valCols,
      aggFor, cutoffId, closedBuckets)
    // 2. remove the moved rows from the hot table. All reads/collects
    //    happen before the first write so the rewrite never scans its own
    //    output. Bucket id sets are driver-bounded (≤ numBuckets ints).
    val openRows = hot.where(!isSealed)
    val affected = sealedRows.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    val openInAffected = openRows
      .where(col("bucket").isin(affected.toSeq: _*))
    val keepBuckets = openInAffected.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    if (keepBuckets.nonEmpty) {
      val data = openInAffected.localCheckpoint(true)
      withDynamicOverwrite(spark) {
        data.write.mode("overwrite").partitionBy("bucket").parquet(path)
      }
    }
    val (fs, root) = fsFor(spark, path)
    for (b <- affected -- keepBuckets)
      fs.delete(new Path(root, s"bucket=$b"), true)
  }

  /** Shared bucket-bounded merge kernel for the aggregate matviews:
    * group the batch to one row per key, read ONLY the affected buckets,
    * re-aggregate existing+new per key with `aggFor`, dynamic-overwrite
    * those buckets, then fence the batchId. */
  private def mergeBatchWith(batch: DataFrame, path: String,
      keyCols: Seq[String], valCols: Seq[String],
      aggFor: String => org.apache.spark.sql.Column,
      batchId: Long, numBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val (fs, root) = fsFor(spark, path)
    if (fs.exists(markerPath(root, batchId))) return
    if (batch.isEmpty) { // nothing finalized this trigger — just fence it
      writeMarker(fs, root, batchId); return
    }

    val aggs = valCols.map(aggFor)
    val newRows = batch
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket",
        pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets.toLong))
          .cast("int"))

    val exists = hasData(spark, path)
    val merged0 = if (!exists) newRows else {
      val affected = newRows.select("bucket").distinct()
      val existing = spark.read.parquet(path)
        .join(broadcast(affected), Seq("bucket"), "left_semi")
      existing.select(newRows.columns.map(col).toSeq: _*)
        .unionByName(newRows)
        .groupBy((col("bucket") +: keyCols.map(col)): _*)
        .agg(aggs.head, aggs.tail: _*)
        .select(newRows.columns.map(col).toSeq: _*)
    }
    val merged = merged0.localCheckpoint(true)
    withDynamicOverwrite(spark) {
      merged.write.mode("overwrite").partitionBy("bucket").parquet(path)
    }
    writeMarker(fs, root, batchId)
  }
}
