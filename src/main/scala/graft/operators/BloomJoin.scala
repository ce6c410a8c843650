package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-pruned semi join — the explicit form of the runtime row-level
  * filtering a 100 TB fact⋈dim semi join lives or dies by.
  *
  * A plain `left_semi` shuffles (or at best scans) every fact row before
  * the join decides its fate. Here the small side is first collapsed to
  * a Bloom filter over `xxhash64(key)` (one distributed aggregate; the
  * filter is a few MB for 10^7 keys at 1% FPP), and the fact side is
  * filtered by `bloom_might_contain` AT THE SCAN — inside whole-stage
  * codegen, before any exchange — so only true matches plus the FPP
  * fraction ever reach the exact semi join that removes false
  * positives. No false negatives: both sides hash with the same
  * `xxhash64`, and a Bloom filter never drops an inserted element.
  *
  * This trades one extra pass over the SMALL side for shuffling ~1% of
  * the BIG side instead of all of it — the same idea as Spark's AQE
  * `InjectRuntimeFilter`, but available unconditionally and across any
  * operator boundary (AQE's injection has shape restrictions).
  */
object BloomJoin {

  /** `big semi⋈ small ON big(bigKey) = small(smallKey)`, bloom-pruned.
    *
    * @param expectedItems sizes the filter (bits ≈ -n·ln(fpp)/ln2²);
    *                      overshooting wastes a few MB, undershooting
    *                      only raises the FP rate — never correctness.
    */
  def semiJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val spark = big.sparkSession
    val bf = small.select(xxhash64(col(smallKey)).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // The filter ships as a BROADCAST, not a plan literal: at the default
    // sizing the serialized filter is ~1.2 MB (more when sized up), and a
    // lit(bytes) would ride every plan canonicalization, stringification
    // and task closure. The probe Column is built DIRECTLY from the
    // Catalyst expression (no session-function registration: a registry
    // builder would pin the broadcast forever and leak ~1.2 MB per call
    // in a long-lived session — here the broadcast's only strong ref is
    // the plan itself, so ContextCleaner reclaims it with the plan).
    val bc = spark.sparkContext.broadcast(bytes)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val probe = ColumnBridge.column(graft.functions.BloomMightContainBc(
      ColumnBridge.expression(xxhash64(col(bigKey))), bc))
    // alias the build side's key: with bigKey == smallKey (the common
    // same-name shape) an unaliased condition would be ambiguous
    big
      .where(probe)
      .join(small.select(col(smallKey).as("__bloom_key")),
        col(bigKey) === col("__bloom_key"), "left_semi")
  }
}
