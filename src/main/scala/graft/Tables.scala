package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, max}

/** Loaders for the driver-provided parquet tables (see /root/repo/TESTDATA.md).
  *
  * All queries read through here so that scan-level concerns (format,
  * partition discovery, future bucketing) live in one place. Parquet scans
  * get predicate pushdown + column pruning from Catalyst for free; at
  * 100 TB the same call works over a partitioned directory tree unchanged.
  *
  * Reads resolve through the session catalog, as the reference resolves
  * `traffic_limits` (`sqlContext.table`, MainApp.java:44): the first read
  * of a table in an application registers it ([[GraftCatalog.register]]),
  * which is the only time its schema is inferred — a `spark.read.parquet`
  * with no schema runs a Spark job that reads a footer on every call.
  * Every read is then `spark.table`: the schema comes from the catalog and
  * the file listing from Spark's relation cache, so a read starts no job.
  * What is reused across the queries of one application is that metadata
  * only, never a result; and nothing outlives the SparkContext, because
  * the in-memory catalog dies with it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.table(GraftCatalog.register(spark, dir, name))
    if (name == "events") events(df) else df
  }

  /** Guide §2.5 "input skew: one huge unsplittable file — repartition
    * immediately after the read", as an OPT-IN for generation-heavy
    * kernels: the local fixture tables are each ONE sub-row-group
    * parquet file, so every scan is ONE task and all pre-exchange work
    * serializes on one core. For operators whose first stage does heavy
    * per-row generation (shingle explodes, deletion-variant expansion,
    * n-gram hashing, lattice occurrence generation), spreading the raw
    * rows first costs one KB-MB exchange and unlocks the session's
    * parallelism (measured: q_dsir_ngram 2.45→1.30 s, q_span_dedup
    * 2.45→1.25 s, q_spatial_knn 2.77→1.84 s warm min-of-3). It is NOT
    * applied at the loader seam: for scan-light consumers the exchange
    * only defeats the scan-stage partial aggregation (q_grouped_sum
    * 0.11→0.42 s, q_tpch_q1 0.19→0.59 s measured under a central
    * spread), so each kernel opts in where the win is measured.
    *
    * Scale-adaptive by construction, not a local[32] tune: the spread
    * fires only when the input plans FEWER scan splits than the
    * session's parallelism and no exchange below already re-partitions
    * it. A real corpus scan produces thousands of row-group splits, so
    * this is a no-op exactly where the exchange would be corpus-sized.
    * The explicit partition count pins the shuffle origin to
    * REPARTITION_BY_NUM, which AQE respects (byte-based coalescing
    * would immediately re-collapse a KB-sized table to one partition).
    * Filters and column pruning push through a round-robin repartition,
    * so PushedFilters/ReadSchema at the scan are unchanged. The check
    * inspects the pre-AQE physical plan only — nothing executes. */
  def spreadScan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.sparkPlan
    if (plan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]))
      return df
    val leaves = plan.collectLeaves()
    val splits = leaves.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDD.getNumPartitions
    }
    if (splits.length == leaves.length && splits.sum < p) df.repartition(p)
    else df
  }

  /** The three ascending id-range slices a streamed registry query folds
    * as its three batches: with `m = max(id) + 1`, slice `i` holds the
    * rows with `i * m / 3 <= id < (i + 1) * m / 3` (integer division).
    * The slices are disjoint and together hold every row whose id lies in
    * `[0, m)`. Finding `m` runs one job; the slices are lazy. */
  def thirds[T](ds: Dataset[T], id: String): Seq[Dataset[T]] = {
    val m = ds.agg(max(col(id))).head.getLong(0) + 1
    (0L until 3L).map(i =>
      ds.where(col(id) >= i * m / 3 && col(id) < (i + 1) * m / 3))
  }

  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) — which
    * Spark's vectorized reader rejects, so it is read as raw long nanos
    * (`nanosAsLong`, set by [[GraftSession.builder]]) and
    * rebuilt as a micro-precision timestamp with exact integer division (a
    * double division would lose precision above 2^53 ns; DuckDB truncates
    * ns→µs the same way, so oracle timestamps match bit-for-bit) — or as
    * plain TIMESTAMP(MICROS), which needs only a cast from the inferred
    * TIMESTAMP_NTZ to the session-zone type every downstream window/agg
    * expects (session tz is pinned UTC, so the instant is unchanged).
    * Branch on the type the catalog inferred when it registered the table.
    */
  private def events(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ =>
        raw.withColumn("ts", raw("ts").cast("timestamp"))
    }
}
