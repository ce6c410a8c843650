package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions.{call_function, col}

/** luhn_redact kernel: checksum-validated card redaction. */
class LuhnRedactSpec extends SparkSpec {

  private def redact(texts: String*): Seq[String] = {
    import spark.implicits._
    texts.zipWithIndex.map(_.swap).toDF("i", "t")
      .orderBy(col("i"))
      .select(call_function("luhn_redact", col("t")))
      .as[String].collect().toSeq
  }

  test("valid PANs redact in plain, spaced and dashed forms; " +
      "checksum-broken and wrong-length runs survive") {
    val got = redact(
      "pay 4111111111111111 now",         // valid 16, plain
      "pay 4111 1111 1111 1111 now",      // valid 16, spaced
      "pay 4012-8888-8888-1881 now",      // valid 16, dashed
      "amex 378282246310005 ok",          // valid 15
      "visa 4222222222222 ok",            // valid 13
      "bad 4111111111111112 no",          // checksum broken
      "short 411111111111 no",            // 12 digits
      "long 41111111111111110 no",        // 17 digits, invalid sum
      "order 123456 at 2024-08-15 10:30") // everyday numbers survive
    assert(got === Seq(
      "pay <CARD> now",
      "pay <CARD> now",
      "pay <CARD> now",
      "amex <CARD> ok",
      "visa <CARD> ok",
      "bad 4111111111111112 no",
      "short 411111111111 no",
      "long 41111111111111110 no",
      "order 123456 at 2024-08-15 10:30"))
  }

  test("run boundaries: trailing separators stay, adjacent runs are " +
      "independent, over-long merged runs are not sub-searched") {
    val got = redact(
      "a 4111111111111111, b",        // comma ends the run cleanly
      "x 4111111111111111 378282246310005 y", // ONE 31-digit run: no redact
      "x 4111111111111111, 378282246310005 y") // split runs: both redact
    assert(got === Seq(
      "a <CARD>, b",
      "x 4111111111111111 378282246310005 y",
      "x <CARD>, <CARD> y"))
  }

  test("property: mutating any single digit of a valid PAN breaks the " +
      "checksum (no mutated variant is ever redacted)") {
    val pan = "4111111111111111"
    val variants = for {
      i <- pan.indices
      d <- '0' to '9' if d != pan(i)
    } yield s"pay ${pan.updated(i, d)} now"
    val got = redact(variants: _*)
    assert(got === variants, "a single-digit mutation must never pass Luhn")
  }
}
