package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest driver-provided scale factor — specs stay fast. */
  def sfDir: String = "/root/testdata/sf0.001"
  /** [[GraftCatalog.artifactPath]] for `sfDir`, inside the shared
    * session's application (which this starts if it is not yet up). */
  def artifactPath(name: String): String = {
    spark
    GraftCatalog.artifactPath(sfDir, name)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
