package graft

import org.apache.spark.sql.functions.col

/** [[Tables.thirds]]: the id-range split every streamed registry query
  * folds as its three batches. */
class TablesSpec extends SparkSpec {

  test("thirds splits ids 0..10 into three disjoint ascending slices " +
      "whose union is the input, on the bounds i*m/3 <= id < (i+1)*m/3") {
    import spark.implicits._
    val df = (0L to 10L).toDF("id")
    val ids = Tables.thirds(df, "id").map(_.as[Long].collect().sorted.toSeq)
    // max id 10, so m = 11 is not a multiple of 3: bounds 0, 3, 7, 11
    assert(ids === Seq(Seq(0L, 1L, 2L), Seq(3L, 4L, 5L, 6L), Seq(7L, 8L, 9L, 10L)))
    ids.sliding(2).foreach { case Seq(a, b) => assert(a.max < b.min) }
    assert(ids.flatten === (0L to 10L))
    val maxId = 11L
    val inline = (0L until 3L).map(i => df.where(col("id") >= i * maxId / 3 &&
      col("id") < (i + 1) * maxId / 3).as[Long].collect().sorted.toSeq)
    assert(ids === inline)
  }
}
