package graft

import org.apache.spark.sql.functions._

import graft.operators.BloomJoin

class BloomJoinSpec extends SparkSpec {

  test("bloom-pruned semi join returns exactly the plain semi join") {
    val big = Tables.t(spark, sfDir, "lineitem")
    val small = Tables.t(spark, sfDir, "part").where(col("p_size") >= 40)
    val got = BloomJoin.semiJoin(big, small, "l_partkey", "p_partkey",
        expectedItems = 1L << 12)
      .select("l_orderkey", "l_partkey", "l_linenumber")
      .collect().map(_.toSeq).toSet
    val want = big.join(small, col("l_partkey") === col("p_partkey"), "left_semi")
      .select("l_orderkey", "l_partkey", "l_linenumber")
      .collect().map(_.toSeq).toSet
    assert(got === want)
    assert(got.nonEmpty) // a vacuous match proves nothing
  }

  test("probe has no false negatives and prunes to ~fpp of non-members") {
    import spark.implicits._
    val fpp = 0.01
    val members = (0L until 500L).map(i => i * 7919L) // arbitrary spread keys
    val bf = members.toDF("k").select(xxhash64($"k").as("__h"))
      .stat.bloomFilter("__h", 500L, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
    }
    def passing(df: org.apache.spark.sql.DataFrame): Long = df.where(
      call_function("bloom_might_contain", xxhash64($"k"), lit(bytes))).count()

    // every inserted key must pass — a Bloom filter never drops a member
    assert(passing(members.toDF("k")) === members.size.toLong)

    // non-members (disjoint key space) pass at ~fpp, i.e. the big side
    // is pruned to a sliver before any exchange
    val nonMembers = (1L to 100000L).map(i => -i)
    val fp = passing(nonMembers.toDF("k"))
    assert(fp <= (5 * fpp * nonMembers.size).toLong + 50,
      s"false-positive rate too high: $fp of ${nonMembers.size}")
  }
}
