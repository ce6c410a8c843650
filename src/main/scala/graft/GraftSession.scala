package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: Bench, Verify, Smoke, Scratch, CatalogDemo,
  * the test suites and the stream benchmark all start from [[builder]],
  * so they plan and run with the same configuration. Callers add only
  * what is theirs (CatalogDemo its Hive metastore, the stream benchmark
  * its run directories).
  *
  * Why each setting:
  *   - shuffle partitions follow the cores (the 200 default makes
  *     thousands of tiny tasks on a local machine);
  *   - `canChangeCachedPlanOutputPartitioning`: persisted iteration cuts,
  *     fold deltas and shared projections materialize through AQE, so
  *     their partition count follows their bytes instead of freezing at
  *     the shuffle width (q_ndcg 1,483 → 98 tasks at sf0.1). Partitioning
  *     only; results are unchanged;
  *   - `codegen.cache.maxEntries`: a static conf, default 100 entries. A
  *     registry pass of ~390 queries would evict and recompile generated
  *     classes continuously; 2048 holds its working set (driver memory
  *     only);
  *   - UTC session time, so timestamps render the same on every machine
  *     and in the DuckDB oracle;
  *   - no UI: nothing reads it, and each driver would bind a port;
  *   - `parquet.nanosAsLong`: `events.ts` has shipped as parquet
  *     TIMESTAMP(NANOS), which Spark rejects unless the column is read
  *     as a long; [[Tables.t]] then rebuilds the timestamp. Set here, it
  *     holds for every query in every order; set per load, it leaked into
  *     whatever ran next. It changes only NANOS columns;
  *   - `spark.sql.extensions`: [[GraftExtensions]] injects the engine's
  *     native functions into every session and every `newSession()` of
  *     it, so no query registers anything;
  *   - the local file system. Without the native `libhadoop`, Hadoop's
  *     `RawLocalFileSystem` forks `chmod` for every file it creates,
  *     `readlink` around every `FileContext` rename and `ls -ld` for every
  *     permission it reports. Each micro-batch commit of the traffic
  *     monitor writes a write-ahead log entry, an offset log entry and
  *     one state-store delta per partition, so these forks were the
  *     larger part of a batch's fixed cost (3,277 process starts in one
  *     20 s `traffic_paced` benchmark run on 4 cores). [[NioLocalFileSystem]]
  *     (for `FileSystem`) and [[NioLocalFs]] (for `FileContext`, the path
  *     of Spark's checkpoint file manager) answer those calls with
  *     `java.nio`. What stays Hadoop's own code: the `.crc` sidecars
  *     (verified on `FileSystem` reads), Spark's state-store checksum
  *     files, atomic rename-with-overwrite, and umask-applied file modes
  *     (0644 for files, 0755 for directories).
  */
object GraftSession {

  /** Local cores for the driver surfaces: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** RocksDB-backed streaming state, for `spark.sql.streaming.stateStore.
    * providerClass`: the default HDFS-backed store keeps every key of
    * every stateful operator on the executor heap, while RocksDB spills
    * to local disk with bounded memory. It measured slower on the traffic
    * monitor's tiny state, so no session sets it by default. */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
}
