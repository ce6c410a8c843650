package graft

import org.apache.spark.sql.SparkSession

/** Front door for library users: a SparkSession builder pre-loaded with the
  * engine's recommended configuration and native functions.
  *
  * On a real cluster the same settings apply (only master/partitions
  * change): AQE with skew-join handling on, shuffle partitions sized to
  * cores (not the 200 default), UTC session time, and the engine's
  * Catalyst functions registered — equivalent to launching with
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * The local file system is replaced ([[LocalFsConf]]). Without the
  * native `libhadoop`, Hadoop's `RawLocalFileSystem` forks `chmod` for
  * every file it creates, `readlink` around every `FileContext` rename and
  * `ls -ld` for every permission it reports. Each micro-batch commit of
  * the traffic monitor writes a write-ahead log entry, an offset log entry
  * and one state-store delta per partition, so these forks were the
  * larger part of a batch's fixed cost (3,277 process starts in one 20 s
  * `traffic_paced` benchmark run on 4 cores). [[NioLocalFileSystem]] and
  * [[NioLocalFs]] answer those calls with `java.nio`. What stays Hadoop's
  * own code: the `.crc` sidecars (verified on `FileSystem` reads), Spark's
  * state-store checksum files, atomic rename-with-overwrite, and
  * umask-applied file modes (0644 for files, 0755 for directories).
  */
object GraftSession {

  /** The local Hadoop file system, for `FileSystem` and for `FileContext`
    * (the path of Spark's checkpoint file manager). Every session builder
    * applies it; the stream benchmark gets it through [[builder]]. */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** RocksDB-backed streaming state (SURVEY.md §2.9 scale note): the
    * default HDFS-backed store keeps every key of every stateful operator
    * on the executor HEAP — fine for the reference's one-Boolean-per-NIF
    * state, fatal for 100 TB-scale state like [[streaming.StreamingDedup]]'s
    * per-bucket claims. RocksDB spills state to local disk with bounded
    * memory and incremental checkpointing. Session-wide default here;
    * per-query override via the same key in `writeStream` options'
    * sibling conf if mixed workloads need it. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      rocksDbState: Boolean = false, cbo: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // cached-plan AQE (r15, guide §2.2): persisted iteration cuts /
      // fold deltas / shared projections materialize through AQE, so
      // their partition count follows their BYTES (advisory size)
      // instead of freezing at the session shuffle width — semantics
      // unchanged, partitioning only
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // generated-class cache sized for a wide query library (static
      // conf, default 100 entries; driver-memory-only cost)
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(LocalFsConf)
    val b1 =
      if (rocksDbState)
        b.config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
      else b
    // cost-based optimization: meaningful only after `ANALYZE TABLE ...
    // COMPUTE STATISTICS FOR ALL COLUMNS` on the catalog tables — with
    // stats, the optimizer reorders multi-way joins from estimated
    // cardinalities instead of relying on AQE + hints at runtime (the
    // difference between the right plan and a lucky one on a 6-way join
    // over 100 TB). Histograms sharpen selectivity on skewed columns.
    // See CboSpec for the measured effect.
    if (cbo)
      b1.config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.statistics.histogram.enabled", "true")
    else b1
  }

  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    // idempotent — covers sessions created before the extensions conf
    functions.VectorFunctions.register(spark)
    multimodal.MediaFunctions.register(spark)
    spark
  }
}
