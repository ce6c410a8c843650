package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions.{call_function, col}

/** iban_redact kernel: mod-97-validated IBAN redaction (ISO 13616). */
class IbanRedactSpec extends SparkSpec {

  private def redact(texts: String*): Seq[String] = {
    import spark.implicits._
    texts.zipWithIndex.map(_.swap).toDF("i", "t")
      .orderBy(col("i"))
      .select(call_function("iban_redact", col("t")))
      .as[String].collect().toSeq
  }

  test("valid IBANs redact in packed and grouped forms; checksum " +
      "breaks, short runs and lowercase survive") {
    val got = redact(
      "acct DE89370400440532013000 ok", // packed, valid
      "acct DE89 3704 0044 0532 0130 00 ok", // grouped, valid
      "acct GB29 NWBK 6016 1331 9268 19 ok", // letters in BBAN
      "acct FR14 2004 1010 0505 0001 3M02 606 ok", // 27 chars, mixed
      "acct NO93 8601 1117 947 ok", // 15 chars — the minimum
      "acct DE89 3704 0044 0532 0130 01 ok", // checksum broken
      "acct DE89 1234 ok", // too short
      "acct de89 3704 0044 0532 0130 00 ok") // lowercase: no candidate
    assert(got === Seq(
      "acct <IBAN> ok",
      "acct <IBAN> ok",
      "acct <IBAN> ok",
      "acct <IBAN> ok",
      "acct <IBAN> ok",
      "acct DE89 3704 0044 0532 0130 01 ok",
      "acct DE89 1234 ok",
      "acct de89 3704 0044 0532 0130 00 ok"))
  }

  test("prefix matching: a leading uppercase word or trailing glued " +
      "group cannot mask the IBAN; boundaries respected") {
    val got = redact(
      "IBAN GB29 NWBK 6016 1331 9268 19 due", // classic labeled form
      "USD DE89 3704 0044 0532 0130 00", // currency word before
      "NO93 8601 1117 947 EUR today", // glued currency word after
      "ORDER CONFIRMED FOR ACME LTD") // bare uppercase words survive
    assert(got === Seq(
      "IBAN <IBAN> due",
      "USD <IBAN>",
      "<IBAN> EUR today",
      "ORDER CONFIRMED FOR ACME LTD"))
  }

  test("single-character mutations of a valid IBAN never redact " +
      "(mod-97 catches every 1-char substitution)") {
    val base = "GB94BARC10201530093459"
    val mutations = for {
      i <- base.indices
      c <- Seq('0', '7', 'Z') if c != base(i) &&
        // keep the candidate SHAPE valid so mod-97 itself is what's
        // being tested: letters stay in 0..1, digits in 2..3
        (if (i < 2) c.isLetter else if (i < 4) c.isDigit else true)
    } yield base.updated(i, c)
    val got = redact(mutations.map(m => s"acct $m ok"): _*)
    assert(got.forall(!_.contains("<IBAN>")),
      s"${got.count(_.contains("<IBAN>"))} of ${mutations.size} " +
        "mutations slipped through")
  }

  test("null-safety and independence of adjacent candidates") {
    import spark.implicits._
    val got = Seq((1L, null.asInstanceOf[String]),
      (2L, "DE89 3704 0044 0532 0130 00, NO93 8601 1117 947"))
      .toDF("i", "t").orderBy(col("i"))
      .select(call_function("iban_redact", col("t"))).as[String]
      .collect().toSeq
    assert(got === Seq(null, "<IBAN>, <IBAN>"))
  }
}
