package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streamed temperature mixing — the incremental half of
  * [[graft.operators.Mixing.temperatureSample]]: the corpus arrives
  * continuously and the α = 1/2 per-domain keep rates stay current
  * over everything seen, so a live ingest can be sampled against an
  * always-up-to-date domain distribution (rates drift as a domain's
  * share grows — exactly the property a static rate table lacks).
  *
  * The decomposition rides the batch operator's own split: the
  * corpus-facing stage is ONE `(domain, n)` count relation whose
  * counts are ADDITIVE — each fold appends one ≤ |domains|-row
  * delta; the rate arithmetic (`sqrt(c_min/c_d)` in exact ppm) and
  * the md5-uniform draw rerun READ-side against the merged counts.
  * Sampling the union of everything folded therefore equals the batch
  * `temperatureSample` VERBATIM for any split and arrival order
  * (q_temperature_mix_stream shares the batch oracle). The deltas
  * live in one [[AdditiveFold]]. */
object StreamingMixing {

  private val domains = AdditiveFold("domains",
    Seq("domain" -> StringType), Seq("n"))

  /** Wipe the fold state (fresh run). */
  def init(spark: SparkSession, base: String): Unit =
    domains.init(spark, base)

  /** Fold micro-batch `batchId`: per-domain counts staged as an
    * additive ≤ |domains|-row delta. */
  def fold(spark: SparkSession, base: String, rows: DataFrame,
      domainCol: String, batchId: Long): Unit =
    domains.fold(spark, base, rows.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).cast("long").as("n")), batchId)

  /** Merge the staged deltas into one ([[AdditiveFold.compact]]). */
  def compact(spark: SparkSession, base: String): Unit =
    domains.compact(spark, base)

  /** Sample `rows` against everything folded so far — the batch
    * [[graft.operators.Mixing.temperatureSample]] output shape
    * `(id, domain, rate_ppm)`. */
  def sample(spark: SparkSession, base: String, rows: DataFrame,
      idCol: String, domainCol: String): DataFrame =
    graft.operators.Mixing.sampleAgainstCounts(
      rows, domains.merged(spark, base), idCol, domainCol)
}
