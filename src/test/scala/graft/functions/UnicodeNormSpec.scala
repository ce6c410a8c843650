package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** unicode_norm native kernel (SURVEY.md §2.10). */
class UnicodeNormSpec extends SparkSpec {

  private val pre = new String(Character.toChars(0xE9)) // é precomposed
  private val cmb = "e" + new String(Character.toChars(0x301)) // e + U+0301
  private val ligature = new String(Character.toChars(0xFB01)) // ﬁ (U+FB01)

  test("NFC composes combining sequences; NFD decomposes them") {
    import spark.implicits._
    val df = Seq(("caf" + cmb), ("caf" + pre), "plain ascii").toDF("t")
    val got = df.select(
      call_function("unicode_norm", $"t", lit("NFC")).as("nfc"),
      call_function("unicode_norm", $"t", lit("NFD")).as("nfd"))
      .as[(String, String)].collect()
    assert(got(0) === (("caf" + pre, "caf" + cmb)))
    assert(got(1) === (("caf" + pre, "caf" + cmb)))
    assert(got(2) === (("plain ascii", "plain ascii")))
  }

  test("NFKC applies compatibility folds that NFC must not") {
    import spark.implicits._
    val got = Seq(ligature + "ne").toDF("t").select(
      call_function("unicode_norm", $"t", lit("NFC")).as("nfc"),
      call_function("unicode_norm", $"t", lit("NFKC")).as("nfkc"))
      .as[(String, String)].collect().head
    assert(got === ((ligature + "ne", "fine")))
  }

  test("a bad form literal fails analysis, null input stays null") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq("x").toDF("t")
        .select(call_function("unicode_norm", $"t", lit("BOGUS"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("nfc"))
    val n = Seq[Option[String]](None).toDF("t")
      .select(call_function("unicode_norm", $"t", lit("NFC")))
      .collect().head
    assert(n.isNullAt(0))
  }
}
