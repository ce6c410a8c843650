package graft

/** Dev smoke: runs the flagship entry() on sf0.001 exactly as the driver's
  * t1 check does (rows>0), printing the first rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    spark.stop()
  }
}
