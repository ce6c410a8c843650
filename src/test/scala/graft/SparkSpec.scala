package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}

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
  /** A new empty directory under [[artifactPath]], as a local path: what
    * `Files.createTempDirectory(prefix)` gives, but deleted with the
    * application instead of left in the system temp dir. */
  def tempDir(prefix: String): Path =
    Files.createTempDirectory(
      Files.createDirectories(Paths.get(URI.create(artifactPath("tmp")))), prefix)
  /** Copies `sfDir`'s `tables` into `dir`, which it creates: a dataset of
    * its own, in the database that `dir`'s basename names. */
  def fixtureCopy(dir: Path, tables: String*): Path = {
    Files.createDirectories(dir)
    tables.foreach(t => Files.copy(Paths.get(s"$sfDir/$t.parquet"), dir.resolve(s"$t.parquet")))
    dir
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
