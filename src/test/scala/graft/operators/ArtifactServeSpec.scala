package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** [[ArtifactServe.ensure]]: the trainer runs once per corpus
  * fingerprint — never again for the same corpus, again (at a NEW
  * path) when the corpus changes, and again when a previous build died
  * before committing `_SUCCESS`. */
class ArtifactServeSpec extends SparkSpec {

  private def fs = graft.streaming.FoldStore.fs(spark, artifactPath("artserve_spec"))

  // each test JVM is a new application, so the path starts out absent
  private def fresh(tag: String): String = artifactPath(s"artserve_spec/$tag/model")

  test("same corpus builds once; a changed corpus rebuilds at a new " +
      "fingerprinted path; the artifact round-trips") {
    import spark.implicits._
    val prefix = fresh("once")
    val corpusA = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val corpusB = Seq((1L, "aa"), (2L, "CHANGED")).toDF("doc_id", "text")
    var builds = 0
    def ensure(c: org.apache.spark.sql.DataFrame) =
      ArtifactServe.ensure(spark, c, "doc_id, text", prefix) {
        builds += 1
        c.selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS n")
      }
    val p1 = ensure(corpusA)
    val p2 = ensure(corpusA)
    assert(builds === 1, "identical corpus must serve, not retrain")
    assert(p1 === p2)
    assert(p1.matches(s"\\Q${prefix}_\\E[0-9a-f]+"),
      "the path is the prefix plus the fingerprint, nothing run-specific")
    assert(spark.read.parquet(p1).orderBy("doc_id")
      .collect().map(_.getLong(1)).toSeq === Seq(2L, 2L))
    val p3 = ensure(corpusB)
    assert(builds === 2, "a regenerated corpus must rebuild")
    assert(p3 !== p1,
      "the rebuilt artifact must live at a NEW fingerprinted path — " +
        "serving the old path would be the stale-model bug")
  }

  test("a build that died before _SUCCESS is rebuilt, never half-read") {
    import spark.implicits._
    val prefix = fresh("torn")
    val corpus = Seq((1L, "aa")).toDF("doc_id", "text")
    var builds = 0
    def ensure() = ArtifactServe.ensure(spark, corpus, "doc_id, text",
      prefix) { builds += 1; corpus.select("doc_id") }
    val p = ensure()
    // simulate the crash: the data landed but the commit marker did not
    assert(fs.delete(new Path(p, "_SUCCESS"), false))
    ensure()
    assert(builds === 2, "a torn artifact (no _SUCCESS) must rebuild")
    assert(fs.exists(new Path(p, "_SUCCESS")))
  }
}
