package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** Streamed SemDeDup — the incremental half of
  * [[graft.operators.Similarity.semDedup]]: embeddings arrive in
  * micro-batches and every batch folds against the stored cluster
  * members, so the dedup verdict view is always current and ALWAYS
  * EQUAL to the batch operator over everything seen so far
  * (q_semdedup_stream shares q_semdedup's oracle VERBATIM).
  *
  * The coarse quantizer is an ARTIFACT, not stream state:
  * [[serveCenters]] trains the deterministic k-center quantizer once
  * and folds assign against the stored centers — the production
  * reality (codebooks train offline and serve many folds; a quantizer
  * refresh is an artifact-refresh event, the same seam as the served
  * tokenizer vocabularies). The registry query trains it on the full
  * corpus for oracle parity with the batch operator, exactly like the
  * artifact-served unigram encode does.
  *
  * Artifacts under `base` (the [[StreamingCorpusClean]] discipline —
  * append-only, batch-proportional folds, no driver state):
  *  - `centers` (rank, c): the served quantizer;
  *  - `members` (vec_id, cluster, v): every assigned vector — the
  *    within-cluster probe index. ALL vectors index (not just kept
  *    ones) because the batch drop rule is "∃ smaller-id neighbor ≥
  *    threshold", and that neighbor need not itself be kept;
  *  - `drops` (vec_id): dropped ids, merge-on-read.
  *
  * Order independence: a duplicate pair is verified when its LATER
  * member arrives (new probes stored + within-batch self-join), and
  * the LARGER id drops whichever side is stored — a late smaller id
  * DEMOTES the stored larger member (one delta-sized drops append),
  * so shuffled or descending replays converge to the batch verdicts
  * (StreamingSemDedupSpec). Replayed batches are no-ops via the
  * stored-member anti-join.
  *
  * Scale notes (100 TB): per fold, work is batch-proportional — the
  * batch assigns against k broadcast centers map-side, probes stored
  * members through ONE cluster equi-join (never corpus × corpus; at
  * production scale `members` is written bucketed by cluster so the
  * probe co-locates), and appends delta-sized files. Cluster sizes
  * stay bounded because k scales with the corpus in the SemDeDup
  * regime — the same contract as the batch operator.
  */
object StreamingSemDedup {

  private val centerSchema = StructType(Seq(
    StructField("rank", LongType),
    StructField("c", ArrayType(FloatType))))
  private val memberSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cluster", LongType),
    StructField("v", ArrayType(FloatType))))
  private val dropSchema = StructType(Seq(StructField("vec_id", LongType)))

  private def centersPath(base: String) = s"$base/centers"
  private def membersPath(base: String) = s"$base/members"
  private def dropsPath(base: String) = s"$base/drops"

  /** Wipe the artifact directory (fresh run). */
  def init(spark: SparkSession, base: String): Unit = {
    FoldStore.fs(spark, base).delete(new org.apache.hadoop.fs.Path(base), true)
    ()
  }

  private def readOr(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val fs = FoldStore.fs(spark, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Train and store the quantizer artifact: the deterministic
    * k-center centers of `train`, rank-labelled. */
  def serveCenters(spark: SparkSession, base: String, train: DataFrame,
      idCol: String, vecCol: String, k: Int): Unit = {
    val v = train.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"))
    Similarity.kCenterGreedy(train, idCol, vecCol, k)
      .select(col("rank"), col("vec_id"))
      .join(v, Seq("vec_id"))
      .select(col("rank"), col("v").as("c"))
      .write.mode("overwrite").parquet(centersPath(base))
  }

  /** Fold one micro-batch of vectors `(idCol, vecCol)`. */
  def fold(spark: SparkSession, base: String, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double): Unit = {
    Similarity.ensureRegistered(spark)
    val centers = spark.read.schema(centerSchema)
      .parquet(centersPath(base))
    val stored = readOr(spark, membersPath(base), memberSchema)

    // replay no-op: already-indexed ids fold to nothing
    val incoming = batch
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
      .join(stored.select("vec_id"), Seq("vec_id"), "left_anti")

    // map-side assignment against the k broadcast centers — the batch
    // operator's argmax-6dp-cosine with center-rank tiebreak, verbatim
    val assigned = incoming.crossJoin(broadcast(centers))
      .select(col("vec_id"), col("v"),
        round(Similarity.cos(col("v"), col("c")), 6).as("s"),
        (col("rank") * lit(-1L)).as("nr"))
      .groupBy(col("vec_id"), col("v"))
      .agg(max(struct(col("s"), col("nr"))).as("m"))
      .select(col("vec_id"), col("v"),
        (col("m.nr") * lit(-1L)).as("cluster"))
      .persist()
    try {
      // new-vs-stored through the cluster index (the larger id drops —
      // a late smaller id demotes the stored member), new-vs-new
      // within the batch
      val candOld = assigned.as("n")
        .join(stored.as("s"),
          col("n.cluster") === col("s.cluster") &&
            col("n.vec_id") =!= col("s.vec_id"))
        .where(round(Similarity.cos(col("n.v"), col("s.v")), 6) >=
          lit(threshold))
        .select(greatest(col("n.vec_id"), col("s.vec_id")).as("vec_id"))
      val candNew = assigned.as("a")
        .join(assigned.as("b"),
          col("a.cluster") === col("b.cluster") &&
            col("a.vec_id") < col("b.vec_id"))
        .where(round(Similarity.cos(col("a.v"), col("b.v")), 6) >=
          lit(threshold))
        .select(col("b.vec_id").as("vec_id"))

      // drops first, members second: members must not change until the
      // fold's probe joins have materialized (the batch never probes
      // its own stored rows). Members are PARTITIONED BY cluster so a
      // fold's probe join can dynamic-partition-prune the store down to
      // the clusters its batch actually touches (at production k the
      // batch hits a small fraction of clusters; at toy k it reads all)
      candOld.unionByName(candNew).distinct()
        .write.mode("append").parquet(dropsPath(base))
      assigned.select(col("vec_id"), col("v"), col("cluster"))
        .write.mode("append").partitionBy("cluster")
        .parquet(membersPath(base))
    } finally assigned.unpersist()
  }

  /** The always-current verdicts — the batch
    * [[graft.operators.Similarity.semDedup]] output shape
    * `(vec_id, cluster, kept)` over everything seen so far. */
  def verdicts(spark: SparkSession, base: String): DataFrame =
    readOr(spark, membersPath(base), memberSchema)
      .join(readOr(spark, dropsPath(base), dropSchema).distinct()
        .withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
}
