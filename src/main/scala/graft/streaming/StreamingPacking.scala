package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One incoming document on a packing stream (tokens are whitespace
  * words, counted with the same rule as the batch path). */
final case class PackDoc(source: String, doc_id: Long, n_tokens: Long)

/** A document with its assigned position in its source's packed token
  * stream. */
final case class PackedDoc(source: String, doc_id: Long, n_tokens: Long,
    offset: Long, first_pack: Long, last_pack: Long)

/** Streaming counterpart of [[graft.operators.Packing]]: as documents
  * arrive, each SOURCE's token stream is packed incrementally — every doc
  * gets its running offset and pack range the moment it is processed,
  * instead of waiting for a batch prefix-sum over the whole corpus.
  *
  * State is ONE long per source (the next free token offset), checkpointed
  * by the state store — a restart resumes exactly where the stream left
  * off (same replay story as the alert edge-trigger, SURVEY.md §2.9 T4).
  * Within a micro-batch a source's documents are processed in doc_id
  * order, so replays of a committed batch assign identical offsets.
  * Sources are independent keys: packing scales out across sources, and
  * one hot source is still a single sequential token stream by DEFINITION
  * (offsets are a total order), so per-source throughput is the inherent
  * ceiling — the batch two-phase prefix sum is the right tool once the
  * corpus is static.
  */
object StreamingPacking {

  /** Artifact-backed DELTA packing fold (round 12, replacing the
    * full-anti-join `foldCounted`) — the micro-batch twin of
    * [[packStream]] for foreachBatch pipelines ([[StreamingCleanPack]]).
    *
    * Inputs are the PENDING delta directories a producer staged under
    * `pendingRoot` (each one fold's newly-surviving docs, written with
    * a content-derived name + overwrite, so a crash-replayed producer
    * fold re-stages the identical directory). The fold:
    *  1. reads every committed pending dir (delta-sized — never the
    *     accumulated corpus);
    *  2. anti-joins ONLY the at-risk packed watermark dirs — those
    *     with `w >` the consumed-watermark marker — which is the
    *     crash window between a packed write and its marker, normally
    *     EMPTY (exactly-once without a corpus-sized read);
    *  3. counts tokens over the fresh docs via `countFn`;
    *  4. packs with [[graft.operators.Packing.packCounted]] (two-phase
    *     prefix sum, no single-partition window even on a huge fold)
    *     and writes to `packed/w_<W+1>` (overwrite: an uncommitted
    *     crash leaves only `_temporary`, which reads as zero rows).
    *     The base offset is DERIVED from the newest committed
    *     watermark dir — offsets strictly increase across dirs, so its
    *     `max(offset + n_tokens)` is the global cursor; there is no
    *     cursor artifact to append, desync, or compact;
    *  5. consumes: deletes the pending dirs, then marks the watermark
    *     with a zero-byte `c_<W>` marker file (atomic create, value in
    *     the NAME — never read as data, so no listing-staleness
    *     hazard), and drops all but the max marker once more than
    *     [[MarkerCompactAt]] accumulate — the cursor-file compaction
    *     hook, trivial because markers are names. A crash between
    *     delete and marker only widens the at-risk window by one fold
    *     until the next marker covers it.
    *
    * Per-fold IO is therefore pending + (usually empty) at-risk dirs +
    * one newest-watermark-dir aggregate + a directory listing —
    * delta-sized, not corpus-linear; the [[StreamingEntityResolution]]
    * merge-on-read discipline applied to packing. Offsets are final on
    * append: the composition contract is ASCENDING doc_id across folds
    * (crawl order — the same total order the batch prefix sum uses),
    * under which streamed packing equals the batch pack of everything
    * seen.
    *
    * @param countFn maps the fresh delta to `(doc_id, n_tokens)` —
    *                the whitespace rule or an artifact-served tokenizer
    */
  def foldPending(spark: org.apache.spark.sql.SparkSession, base: String,
      pendingRoot: String, countFn: DataFrame => DataFrame,
      packSize: Int): Unit = {
    val fs = FoldStore.fs(spark, base)
    val pendDirs = committedSubdirs(fs, pendingRoot)
    if (pendDirs.isEmpty) return
    val packedRoot = s"$base/packed"

    val wDirs = committedSubdirs(fs, packedRoot)
      .flatMap(p => parseW(p.getName).map(w => (w, p)))
    val consumed = maxMarker(fs, s"$base/wlog")
    val atRiskDirs = wDirs.filter(_._1 > consumed)

    val pending = pendDirs.map(p => spark.read.parquet(p.toString))
      .reduce(_.unionByName(_))
    val fresh = atRiskDirs match {
      case Seq() => pending
      case dirs =>
        val atRiskIds = dirs.map(d =>
            spark.read.parquet(d._2.toString).select("doc_id"))
          .reduce(_.unionByName(_))
        pending.join(atRiskIds, Seq("doc_id"), "left_anti")
    }

    // the global cursor lives in the NEWEST committed watermark dir
    // (offsets strictly increase across dirs); empty artifact → 0
    val cur = wDirs.sortBy(_._1).lastOption.map { case (_, p) =>
      val r = spark.read.parquet(p.toString)
        .agg(max(col("offset") + col("n_tokens"))).collect()
      if (r.isEmpty || r.head.isNullAt(0)) 0L else r.head.getLong(0)
    }.getOrElse(0L)

    val newW = ((wDirs.map(_._1) :+ consumed).max) + 1
    val batchPacked = graft.operators.Packing
      .packCounted(countFn(fresh), packSize, baseOffset = cur)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // never write an EMPTY watermark dir: the cursor derivation reads
    // the newest dir, which must therefore always carry rows
    val wrote =
      if (batchPacked.isEmpty) false
      else {
        batchPacked.write.mode("overwrite")
          .parquet(s"$packedRoot/${wName(newW)}")
        true
      }
    batchPacked.unpersist()
    // consume: pending dirs first, watermark marker last — see scaladoc
    pendDirs.foreach(p => fs.delete(p, true))
    val committedMax =
      if (wrote) newW else (wDirs.map(_._1) :+ consumed).max
    writeMarker(fs, s"$base/wlog", committedMax)
  }

  /** Compact the zero-byte watermark markers once more than this many
    * accumulate (all but the max are dropped — max-wins semantics). */
  val MarkerCompactAt = 8

  /** Child directories carrying a `_SUCCESS` marker — committed writes
    * only (a crashed overwrite leaves `_temporary`, never the marker). */
  private def committedSubdirs(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
      .toSeq
  }

  private def wName(w: Long): String = f"w_$w%012d"
  private def parseW(name: String): Option[Long] =
    if (name.startsWith("w_")) name.stripPrefix("w_").toLongOption
    else None

  /** Max consumed watermark from the zero-byte `c_<W>` marker files
    * (value encoded in the NAME — a listing, never a data read). */
  private def maxMarker(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).map(_.getPath.getName).toSeq
      .flatMap(n =>
        if (n.startsWith("c_")) n.stripPrefix("c_").toLongOption else None)
      .foldLeft(0L)(math.max)
  }

  /** Atomic zero-byte marker create + compaction: once more than
    * [[MarkerCompactAt]] markers accumulate, every marker below the
    * max is deleted (max-wins — the max is never deleted, so any
    * concurrent listing still resolves correctly). */
  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, w: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) fs.mkdirs(p)
    fs.createNewFile(new org.apache.hadoop.fs.Path(p, s"c_$w"))
    val markers = fs.listStatus(p).map(_.getPath).toSeq
      .flatMap(q => q.getName.stripPrefix("c_").toLongOption.map((_, q)))
    if (markers.size > MarkerCompactAt) {
      val keep = markers.map(_._1).max
      markers.filter(_._1 < keep).foreach(m => fs.delete(m._2, false))
    }
    ()
  }

  /** The packed artifact view over the committed watermark dirs:
    * `(doc_id, n_tokens, offset, first_pack, last_pack)`. */
  def packed(spark: org.apache.spark.sql.SparkSession,
      base: String): DataFrame = {
    val path = s"$base/packed"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("offset",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("first_pack",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("last_pack",
        org.apache.spark.sql.types.LongType)))
    val dirs = committedSubdirs(FoldStore.fs(spark, path), path)
      .filter(p => parseW(p.getName).isDefined)
    if (dirs.nonEmpty)
      spark.read.schema(schema).parquet(dirs.map(_.toString): _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** docs: streaming DataFrame with (source STRING, doc_id LONG,
    * text STRING). */
  def packStream(docs: DataFrame, packSize: Int): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("source"), col("doc_id").cast("long").as("doc_id"),
        size(expr(graft.operators.Dedup.wordsExpr("text"))).cast("long")
          .as("n_tokens"))
      .where(col("n_tokens") > 0)
      .as[PackDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[PackDoc], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val o = off
            off += d.n_tokens
            PackedDoc(src, d.doc_id, d.n_tokens, o,
              o / packSize, (o + d.n_tokens - 1) / packSize)
          }
          state.update(off)
          out.iterator
      }
  }
}
