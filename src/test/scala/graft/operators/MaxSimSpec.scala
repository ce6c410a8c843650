package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class MaxSimSpec extends SparkSpec {

  test("hand-traced MaxSim: per-query-vector maxima add up") {
    import spark.implicits._
    // query doc 0: unit x + unit y; doc 1 matches only x (maxsim 1e6);
    // doc 2 matches x at .6 and y at 1.0 (maxsim 1.6e6) -> doc 2 first
    val v = Seq(
      (0L, 1L, Seq(1f, 0f, 0f, 0f)),
      (0L, 2L, Seq(0f, 1f, 0f, 0f)),
      (1L, 3L, Seq(1f, 0f, 0f, 0f)),
      (1L, 4L, Seq(0f, 0f, 1f, 0f)),
      (2L, 5L, Seq(0.6f, 0.8f, 0f, 0f)),
      (2L, 6L, Seq(0f, 1f, 0f, 0f))).toDF("doc_id", "vec_id", "embedding")
    val got = Similarity.maxSimTopK(v, v.where(col("doc_id") === 0),
      "doc_id", "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq.sorted === Seq((1L, 2L, 1600000L), (2L, 1L, 1000000L)))
  }

  test("parity with the naive window formulation on the real table") {
    val v = Tables.t(spark, sfDir, "embeddings")
      .select((col("vec_id") / 4).cast("long").as("doc_id"),
        col("vec_id"), col("embedding"))
    val got = Similarity.maxSimTopK(v, v.where(col("doc_id") < 4),
      "doc_id", "vec_id", "embedding", k = 5)
      .collect().map(_.toSeq).toSet
    // naive: same arithmetic, textbook row_number tail
    val q = v.where(col("doc_id") < 4).select(
      col("doc_id").as("query_id"), col("vec_id").as("qvec_id"),
      col("embedding").as("qe"))
    val naive = v.select(col("doc_id"), col("embedding").as("emb"))
      .join(q, col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("qvec_id"), col("doc_id"),
        expr("CAST(floor(vec_cosine(qe, emb) * 1000000 + 0.5D) AS BIGINT)")
          .as("cm"))
      .groupBy("query_id", "qvec_id", "doc_id").agg(max("cm").as("mx"))
      .groupBy("query_id", "doc_id")
      .agg(sum("mx").cast("long").as("maxsim_micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("maxsim_micro").desc, col("doc_id").asc))
        .cast("long"))
      .where(col("rank") <= 5)
      .select("query_id", "rank", "doc_id", "maxsim_micro")
      .collect().map(_.toSeq).toSet
    assert(got === naive)
    assert(got.nonEmpty)
  }
}
