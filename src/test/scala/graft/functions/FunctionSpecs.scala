package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** Native function resolution and type-checking behavior. */
class FunctionSpecs extends SparkSpec {

  test("functions are visible to SQL on the shared session") {
    import spark.implicits._
    val r = Seq((Array(1f, 0f), Array(1f, 0f))).toDF("a", "b")
      .selectExpr("vec_cosine(a, b) AS c").as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
    assert(spark.sql("SELECT simhash60('hello world')").head().getLong(0) > 0)
  }

  test("vector expressions reject wrong argument types with a clear error") {
    import spark.implicits._
    val bad = Seq((1, "x")).toDF("a", "b")
    val e = intercept[AnalysisException] {
      bad.selectExpr("vec_cosine(a, b)").collect()
    }
    assert(e.getMessage.contains("vec_cosine"))
  }

  test("simhash60 and minhash_sig null out degenerate documents") {
    import spark.implicits._
    val df = Seq("", "   ", "one two").toDF("t")
      .selectExpr("simhash60(t) AS sh", "minhash_sig(t) AS mh")
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1)) // no tokens
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1)) // whitespace only
    assert(!rows(2).isNullAt(0))                       // tokens but < 3 → simhash ok
    assert(rows(2).isNullAt(1))                        // ... and no shingles
  }
}
