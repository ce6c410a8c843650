package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session-scoped parallelism for STATEFUL streaming queries.
  *
  * A stateful operator's task count is pinned to
  * `spark.sql.shuffle.partitions` when the query's checkpoint is created,
  * and every micro-batch then runs that many state-store tasks — each one
  * paying store open/commit/checkpoint cost — regardless of how much
  * state or data exists. AQE never applies to streaming plans, so unlike
  * the batch side nothing right-sizes this at runtime (guide §2: partition
  * counts must follow the data, not a constant tuned elsewhere).
  *
  * State-store parallelism is therefore set apart from the batch shuffle
  * width: max(1, defaultParallelism / 8) keeps a fraction of the compute
  * parallelism — enough stores that a growing key space spreads, without
  * running cores-many near-empty state tasks per micro-batch (measured at
  * sf0.1 / local[32]: q_twap_stream's stateful stages ran 32 tasks of
  * ~1.2 s state-store lifecycle each on KB of state; at 4 partitions the
  * same stages run ~0.17 s tasks).
  */
object StreamConf {

  def statePartitions(spark: SparkSession): Int =
    math.max(1, spark.sparkContext.defaultParallelism / 8)

  /** Run `body` (a streaming query's full start→drain→stop lifecycle)
    * with `spark.sql.shuffle.partitions` set to [[statePartitions]],
    * restoring the prior value afterwards. The stream's isolated session
    * state is cloned at `start()`, so the scoped value is captured into
    * the query's checkpoint; batch jobs outside the scope are untouched.
    * Single-threaded callers only (the registry's sequential queries). */
  def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, statePartitions(spark).toString)
    try body finally spark.conf.set(key, prior)
  }
}
