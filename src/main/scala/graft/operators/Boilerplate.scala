package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML boilerplate extraction + corpus line-dedup — the first two
  * steps every web-crawl training pipeline runs before any quality
  * gate (trafilatura/jusText extract; CCNet/RefinedWeb line-level
  * dedup): strip markup to text LINES, then drop the lines that
  * repeat across many documents (navigation, footers, cookie
  * banners) — boilerplate is precisely the text whose document
  * frequency is corpus-shaped rather than content-shaped.
  *
  * Line model, in the order real markup demands (each pass a single
  * codegen'd `regexp_replace`/`replace` — no DOM, no UDF; that is
  * what survives a 100 TB scan):
  *  1. `<script>`/`<style>` ELEMENTS go first, body and all — their
  *     content is code, not text, and it is full of `<`/`>`/`<!--`
  *     that would derail every later pass (trafilatura/jusText drop
  *     them as step zero for the same reason);
  *  2. comments (`<!-- … -->`) and CDATA sections next — their
  *     content may contain anything tag-shaped;
  *  3. tags, QUOTE-AWARE: `<(?:[^>"']|"[^"]*"|'[^']*')*>` — a `>`
  *     inside a quoted attribute value (`title="a>b"`) does not end
  *     the tag (the naive `<[^>]*>` truncates mid-attribute and
  *     leaks `b">` into the text);
  *  4. every removed construct becomes a line break, lines then
  *     decode the common named entities (`&lt; &gt; &quot; &apos;
  *     &nbsp;`) plus GENERAL numeric character references
  *     (`&#8217;`, `&#xE9;`, any Unicode scalar — malformed or
  *     invalid code points stay literal), with `&amp;` strictly
  *     LAST so `&amp;lt;` correctly yields the literal text
  *     `&lt;` and `&amp;#65;` the literal `&#65;`, and are
  *     trimmed, with empties dropped.
  * Each line keeps its ORIGINAL position so the cleaned document
  * preserves reading order.
  *
  * Distribution shape (the 100 TB contract): one corpus scan to
  * explode lines, one aggregation for per-line document frequency
  * (map-side combinable — the hot boilerplate lines are exactly the
  * well-combined ones), one shuffled equi-join back (AQE's skew
  * handling owns the hot keys), one per-document regroup. No
  * windows, no driver state, no collect.
  *
  * Reference scope: the reference ingests raw unstructured bytes per
  * packet (/root/reference/src/main/java/org/test/pcap4j/
  * CaptureNetworkReceiver.java:99-101 stores `packet.getRawData()`)
  * and only ever derives one structured field from them — the length
  * (/root/reference/src/main/java/org/test/pcap4j/MainApp.java:42);
  * markup-to-lines is the richer unstructured-to-structured step the
  * same pipeline shape needs when the payload is crawled HTML rather
  * than packets.
  */
object Boilerplate {

  /** Markup → newline-separated text: script/style elements (bodies
    * included), then comments/CDATA, then quote-aware tags, each
    * replaced by a line break. Non-greedy spans are fine here — Java
    * and RE2 both run them without backtracking blowup, and an
    * UNCLOSED script/style/comment simply leaves its text behind
    * (fail-open: garbage lines beat dropped documents, and the
    * df-dedup downstream eats per-crawl garbage anyway). */
  private[operators] def stripMarkup(html: Column): Column = {
    val noScript =
      regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script\\s*>", "\n")
    val noStyle =
      regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style\\s*>", "\n")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", "\n")
    val noCdata =
      regexp_replace(noComment, "(?s)<!\\[CDATA\\[.*?\\]\\]>", "\n")
    regexp_replace(noCdata, "<(?:[^>\"']|\"[^\"]*\"|'[^']*')*>", "\n")
  }

  /** Decode the common named entities plus GENERAL numeric character
    * references — `&#8217;`, `&#xE9;` and friends, any Unicode scalar
    * value, via the `decode_numrefs` kernel
    * ([[graft.functions.DecodeNumRefs]]: 1–8 decimal / 1–6 hex digits,
    * code 0, surrogates and > U+10FFFF stay literal) — with `&amp;`
    * strictly LAST, so a double-escaped `&amp;lt;` yields literal
    * `&lt;` and `&amp;#65;` yields literal `&#65;` (HTML single-pass
    * semantics, since decoded numeric output is never rescanned).
    * Named entities are literal `replace`, not regex — every pattern
    * is a fixed string. */
  private[operators] def decodeEntities(line: Column): Column = {
    val named = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'",
      "&nbsp;" -> " ")
    val decoded = named.foldLeft(line) { case (acc, (k, v)) =>
      replace(acc, lit(k), lit(v))
    }
    replace(call_function("decode_numrefs", decoded),
      lit("&amp;"), lit("&"))
  }

  /** Markup-stripped, entity-decoded text lines with their original
    * order: `(doc_id, pos, line)` — pos indexes the RAW line list
    * (gaps where empties were dropped), so downstream reassembly
    * never needs a second window. */
  def htmlLines(docs: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        split(stripMarkup(col(htmlCol)), "\n").as("raw"))
      .select(col("doc_id"), posexplode(col("raw")).as(Seq("pos", "line")))
      .withColumn("pos", col("pos").cast("long"))
      .withColumn("line", trim(decodeEntities(col("line"))))
      .where(col("line") =!= "")
  }

  /** Main-text extraction: `(doc_id, title, n_lines, body)` — the
    * first line is the title (document order, not DOM knowledge),
    * the body is every line space-joined in order. */
  def htmlExtract(docs: DataFrame, idCol: String,
      htmlCol: String): DataFrame =
    htmlLines(docs, idCol, htmlCol)
      .groupBy("doc_id")
      .agg(
        min_by(col("line"), col("pos")).as("title"),
        count(lit(1)).cast("long").as("n_lines"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x("line")), " ").as("body"))

  /** CCNet/RefinedWeb-style line-level dedup: a line is boilerplate
    * iff it appears in MORE than `dfCap` distinct documents; cleaned
    * text keeps the surviving lines in original order.
    * `(doc_id, n_lines, n_kept, clean_text)`. */
  def lineDedup(docs: DataFrame, idCol: String, htmlCol: String,
      dfCap: Long = 2L): DataFrame = {
    val lines = htmlLines(docs, idCol, htmlCol)
    val lineDf = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))
    lines.join(lineDf, Seq("line"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum((col("df") <= dfCap).cast("long")).cast("long").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("df") <= dfCap,
            struct(col("pos"), col("line"))))),
          x => x("line")), " ").as("clean_text"))
  }
}
