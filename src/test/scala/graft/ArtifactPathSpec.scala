package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkFiles

/** [[GraftCatalog.artifactPath]]: one root per application, one subtree
  * per dataset, and the registry's folds write under it. */
class ArtifactPathSpec extends SparkSpec {

  test("two datasets map to disjoint paths under the application's " +
      "SparkFiles root") {
    spark
    val a = GraftCatalog.artifactPath("/data/sf0.001", "x")
    val b = GraftCatalog.artifactPath("/data/sf0.01", "x")
    assert(!a.startsWith(b) && !b.startsWith(a), s"$a vs $b")
    // the fixed roots every run used to share
    val shared = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_")
    for (p <- Seq(a, b)) {
      assert(p.startsWith(s"file:${SparkFiles.getRootDirectory()}/graft/"), p)
      assert(!new Path(p).toUri.getPath.startsWith(shared.getPath), p)
    }
  }

  test("q_winsorize_stream keeps its fold state under the artifact root") {
    SparkEntry.queries("q_winsorize_stream")(spark, sfDir).collect()
    val root = new Path(artifactPath("wins_stream"))
    val files = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(root, true)
    assert(files.hasNext, s"no fold state under $root")
  }
}
