package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest driver-provided scale factor — specs stay fast. */
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // same cached-plan AQE setting as Bench/Verify (r15) so suites
      // exercise the plans the driver surfaces run
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the file system the driver surfaces and the stream bench run on
      .config(GraftSession.LocalFsConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
