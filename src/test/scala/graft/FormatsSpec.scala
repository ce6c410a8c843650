package graft

import org.apache.spark.sql.functions._

/** Source/sink format breadth beyond parquet: the engine reads and writes
  * CSV, JSON, and ORC through the same declarative scan path (pushdown and
  * pruning apply to ORC exactly as to parquet; CSV/JSON get schema-aware
  * row parsing).
  */
class FormatsSpec extends SparkSpec {

  test("CSV, JSON, and ORC round-trip the same relation") {
    import spark.implicits._
    val tmp = tempDir("fmt").toString
    val src = Tables.t(spark, sfDir, "nation")

    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    src.write.mode("overwrite").json(s"$tmp/json")
    src.write.mode("overwrite").orc(s"$tmp/orc")

    val fromCsv = spark.read.option("header", "true")
      .schema(src.schema).csv(s"$tmp/csv")
    val fromJson = spark.read.schema(src.schema).json(s"$tmp/json")
    val fromOrc = spark.read.orc(s"$tmp/orc")

    val want = src.orderBy("n_nationkey").collect().toSeq
    for ((df, fmt) <- Seq((fromCsv, "csv"), (fromJson, "json"), (fromOrc, "orc")))
      assert(df.orderBy("n_nationkey").collect().toSeq === want, s"format $fmt")
  }

  test("partitioned write with maxRecordsPerFile bounds every output file") {
    import scala.jdk.CollectionConverters._
    val tmp = tempDir("pw").toString
    val orders = Tables.t(spark, sfDir, "orders")
    orders.write.mode("overwrite")
      .partitionBy("o_orderstatus")
      .option("maxRecordsPerFile", 100)
      .parquet(tmp)
    // layout: one directory per partition value (partition pruning +
    // bounded file sizes are the two output-hygiene levers at 100 TB —
    // a 10 GB single file serializes downstream parallelism)
    val statusDirs = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("o_orderstatus=")).toSet
    val statuses = orders.select("o_orderstatus").distinct()
      .collect().map(r => s"o_orderstatus=${r.getString(0)}").toSet
    assert(statusDirs === statuses)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val n = spark.read.parquet(f.toString).count()
      assert(n <= 100, s"file $f holds $n rows > maxRecordsPerFile")
    }
    assert(spark.read.parquet(tmp).count() === orders.count())
  }

  test("ORC scans get predicate pushdown like parquet") {
    import spark.implicits._
    val tmp = tempDir("orcpp").toString
    Tables.t(spark, sfDir, "orders").write.mode("overwrite").orc(tmp)
    val df = spark.read.orc(tmp).where($"o_totalprice" > 300000.0)
      .select($"o_orderkey")
    df.collect()
    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val pushed = scan.map(_.metadata.getOrElse("PushedFilters", "")).getOrElse("")
    assert(pushed.contains("o_totalprice"), s"no ORC pushdown: $pushed")
  }
}
