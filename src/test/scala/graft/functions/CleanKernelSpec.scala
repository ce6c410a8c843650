package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bit-parity of the corpus-clean scan kernels against the SQL-expression
  * formulations they replace. The DuckDB oracle models the EXPRESSION
  * algebra, so any kernel divergence here is an oracle break waiting for a
  * different corpus.
  */
class CleanKernelSpec extends SparkSpec {

  private def docs = {
    spark.read.parquet(s"$sfDir/documents.parquet")
  }

  test("norm_ws is byte-identical to lower(trim(regexp_replace(text, \\s+, ' ')))") {
    import spark.implicits._
    val edge = Seq((100001L, "  A\tB\n\nC  "), (100002L, ""), (100003L, "\t\r\n"),
      (100004L, "ÜBER  Straße"), (100005L, "a"))
      .toDF("doc_id", "text")
    val mismatches = docs.select($"doc_id", $"text").unionByName(edge)
      .select(
        call_function("norm_ws", $"text").as("k"),
        expr(graft.operators.CorpusClean.normExpr("text")).as("e"))
      .where(!($"k" <=> $"e"))
      .count()
    assert(mismatches === 0L)
  }

  test("clean_gate matches the languageId + qualityScore composition") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val normed = docs.select($"doc_id".cast("long").as("doc_id"),
      call_function("norm_ws", $"text").as("norm_text"))
    for ((lang, minQ) <- Seq(("en", 3000L), ("de", 0L), ("en", 6000L))) {
      val viaKernel = normed
        .where(call_function("clean_gate", $"norm_text", lit(lang), lit(minQ)))
        .select("doc_id").as[Long].collect().toSet
      val viaExprs = TextAnalysis.qualityScore(
          TextAnalysis.languageId(normed, "doc_id", "norm_text",
            keep = Seq("norm_text")).where($"pred_lang" === lang),
          "doc_id", "norm_text")
        .where($"quality" >= minQ)
        .select("doc_id").as[Long].collect().toSet
      assert(viaKernel === viaExprs, s"gate mismatch for lang=$lang minQ=$minQ")
      assert(viaKernel.nonEmpty || lang != "en" || minQ > 3000L,
        s"vacuous parity check for lang=$lang minQ=$minQ")
    }
  }

  test("minhash_from_hashes(shingle_hashes(t)) equals minhash_sig(t)") {
    import spark.implicits._
    val mismatches = docs
      .where(expr(s"size(${graft.operators.Dedup.wordsExpr("text")}) >= 3"))
      .select(
        call_function("minhash_from_hashes",
          call_function("shingle_hashes", $"text")).as("a"),
        call_function("minhash_sig", $"text").as("b"))
      .where(!($"a" <=> $"b"))
      .count()
    assert(mismatches === 0L)
  }
}
