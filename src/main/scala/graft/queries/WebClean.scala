package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-extraction surface: HTML boilerplate stripping and CCNet/
  * RefinedWeb-style line-level dedup ([[graft.operators.Boilerplate]]).
  *
  * The fixture corpus is plain text, wrapped (Spark-side only) into
  * HOSTILE real-world markup: a `<style>` block and a multi-line
  * `<script>` whose bodies are full of `<`/`>`/quotes/`<!--`, an HTML
  * comment containing a tag-shaped string, an anchor whose attribute
  * value contains a bare `>`, text lines carrying `&amp;`-family
  * entities, and a numeric-reference gauntlet (hex and decimal forms
  * of é, curly quotes, an em dash; a surrogate `&#xD800;`, an
  * overlong `&#999999999;` and `&#0;` which must stay literal; a
  * double-escaped `&amp;#65;` which must yield literal `&#65;`) —
  * every construct the naive `<[^>]*>`-only model gets wrong. The ORACLE never parses that HTML: it states the expected
  * clean lines CONSTRUCTIVELY from the same (doc_id, source, words)
  * ground truth the fixture injected, so extraction bugs cannot
  * cancel out between the two engines. What is under test: script/
  * style/comment removal, quote-aware tag stripping, entity decoding,
  * line order, and the document-frequency boilerplate rule (nav/
  * footer/entity lines repeat across docs; content lines don't).
  */
object WebClean extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** Spark-side hostile HTML wrapping. The greatest() guard keeps
    * sequence() ascending on a hypothetical zero-word doc (Spark's
    * sequence runs DESCENDING when end < start — the MaxMatch seed's
    * documented trap). The script body spans real newlines and closes
    * with a `//<!--` line-comment trailer (the legacy script-hiding
    * idiom); the anchor's `title="a>b"` hides a `>` inside a quoted
    * attribute value. */
  private val htmlSparkExpr: String =
    """concat('<html><head><title>Doc ', cast(doc_id as string),
      |  '</title><style type="text/css">',
      |  'body { color:#fff } /* junk <div> */</style>',
      |  '<script type="text/javascript">', chr(10),
      |  'var t = "</p>"; if (a<b && c>d) { alert("x<y"); } //<!--',
      |  chr(10), '</script></head><body>',
      |  '<!-- comment with a <fake> tag & loose text -->',
      |  '<nav>Home | About | ', source, '</nav>',
      |  '<a href="/p?x=1&amp;y=2" title="a>b">Jump &gt; page ',
      |  cast(doc_id as string), '</a><p>',
      |  array_join(transform(
      |    sequence(0, greatest(size(words) - 1, 0) div 12),
      |    g -> array_join(slice(words, g * 12 + 1, 12), ' ')), '</p><p>'),
      |  '</p><p>Tom &amp; Jerry &lt;3 &quot;quotes&quot; &#39;s&nbsp;end',
      |  '</p><p>Caf&#xE9; caf&#233; said &#8217;hi&#8217; &#x2014; gap',
      |  ' &#xD800; &#999999999; &#0; &amp;#65; fin',
      |  '</p><footer>(c) ', source, ' crawl</footer></body></html>')"""
      .stripMargin

  private def htmlDocs(s: SparkSession, dir: String,
      utf8: Boolean = false): DataFrame = {
    // fixture scaffolding (r15): the local documents.parquet is one
    // sub-row-group file, so the scan is ONE task and every downstream
    // kernel (html synthesis, markup strip, entity decode) serializes
    // on one core until the first exchange. Spreading the tiny source
    // rows first costs one ~600 KB exchange and unlocks the session's
    // parallelism for the generated-payload work; a real corpus scan
    // already parallelizes and never takes this path.
    val base = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    val src = if (utf8)
      graft.operators.Utf8Corpus.decorate(base, "doc_id", "text")
    else base
    src.withColumn("words", expr(graft.operators.Dedup.wordsExpr("text")))
      .select(col("doc_id"), expr(htmlSparkExpr).as("html"))
  }

  /** Oracle CTEs: the expected clean lines `l(doc_id, pos, line)`
    * stated from first principles — the title, nav, decoded anchor
    * text, the 12-word paragraph chunks, the decoded entity line, the
    * footer, in that order. No regex, no HTML: the oracle and the
    * extraction share only the injected ground truth. List slices are
    * 1-based inclusive like Spark's. */
  private def htmlCteFrom(src: String): String =
    s"""w0 AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), w -> w <> '') AS words
      |  FROM $src),
      |exp AS (
      |  SELECT doc_id,
      |    list_concat(list_concat(
      |      ['Doc ' || doc_id::VARCHAR,
      |       'Home | About | ' || source,
      |       'Jump > page ' || doc_id::VARCHAR],
      |      list_transform(
      |        range(0, greatest(len(words) - 1, 0) // 12 + 1),
      |        g -> array_to_string(words[g * 12 + 1 : g * 12 + 12], ' '))),
      |      ['Tom & Jerry <3 "quotes" ''s end',
      |       'Caf' || chr(233) || ' caf' || chr(233) || ' said ' ||
      |         chr(8217) || 'hi' || chr(8217) || ' ' || chr(8212) ||
      |         ' gap &#xD800; &#999999999; &#0; &#65; fin',
      |       '(c) ' || source || ' crawl']) AS lines
      |  FROM w0),
      |l0 AS (
      |  SELECT doc_id, unnest(list_transform(range(len(lines)),
      |    i -> struct_pack(pos := i, line := lines[i + 1]))) AS s
      |  FROM exp),
      |l AS (SELECT doc_id, s.pos AS pos, s.line AS line FROM l0)"""
      .stripMargin

  /** q_md_code_extract's markdown fixture — dialect-shared (chr(10)
    * newlines, CASE tag by id%3, code sliced from the doc text). */
  private[queries] val mdFixtureExpr: String =
    """concat('Intro.', chr(10), '```',
      |  CASE CAST(doc_id % 3 AS INTEGER)
      |    WHEN 0 THEN 'scala' WHEN 1 THEN 'python' ELSE '' END,
      |  chr(10), substr(text, 1, 40), chr(10), '```', chr(10),
      |  'Mid.', chr(10), '```', chr(10), substr(text, 41, 30),
      |  chr(10), '```', chr(10), 'End.')""".stripMargin

  override val queries: Seq[GraftQuery] = Seq(

    // ---- main-text extraction: tag-strip to ordered lines, title =
    //      first line, body = lines space-joined in document order ----
    GraftQuery("q_html_extract",
      (s, dir) => graft.operators.Boilerplate.htmlExtract(
        htmlDocs(s, dir), "doc_id", "html"),
      Some(s"""WITH ${htmlCteFrom("documents")}
             |SELECT doc_id, min_by(line, pos) AS title,
             |  count(*)::BIGINT AS n_lines,
             |  string_agg(line, ' ' ORDER BY pos) AS body
             |FROM l GROUP BY doc_id""".stripMargin)),

    // ---- the same extraction over the MULTIBYTE corpus: CJK runs,
    //      RTL words, mixed-script tokens and the ideographic space
    //      flow through tag-stripping, entity decode and line order
    //      untouched (byte-transparent extraction, proven cell-exact) ----
    GraftQuery("q_utf8_html_extract",
      (s, dir) => graft.operators.Boilerplate.htmlExtract(
        htmlDocs(s, dir, utf8 = true), "doc_id", "html"),
      Some(s"""WITH d8 AS (${graft.operators.Utf8Corpus.oracleCte}),
             |${htmlCteFrom("d8")}
             |SELECT doc_id, min_by(line, pos) AS title,
             |  count(*)::BIGINT AS n_lines,
             |  string_agg(line, ' ' ORDER BY pos) AS body
             |FROM l GROUP BY doc_id""".stripMargin)),

    // ---- line-level boilerplate dedup: a line appearing in more than
    //      2 distinct docs is boilerplate (nav/footer repeat per
    //      source); survivors keep document order ----
    GraftQuery("q_line_dedup",
      (s, dir) => graft.operators.Boilerplate.lineDedup(
        htmlDocs(s, dir), "doc_id", "html", dfCap = 2L),
      Some(s"""WITH ${htmlCteFrom("documents")},
             |f AS (SELECT line, count(DISTINCT doc_id)::BIGINT AS df
             |      FROM l GROUP BY 1)
             |SELECT l.doc_id, count(*)::BIGINT AS n_lines,
             |  sum((f.df <= 2)::BIGINT)::BIGINT AS n_kept,
             |  coalesce(string_agg(CASE WHEN f.df <= 2 THEN l.line END,
             |    ' ' ORDER BY l.pos), '') AS clean_text
             |FROM l JOIN f USING (line) GROUP BY 1""".stripMargin)),

    // ---- line dedup over the MULTIBYTE corpus: document frequency is
    //      computed on decoded multibyte LINES (a CJK paragraph chunk
    //      repeating across docs is boilerplate like any other) ----
    GraftQuery("q_utf8_line_dedup",
      (s, dir) => graft.operators.Boilerplate.lineDedup(
        htmlDocs(s, dir, utf8 = true), "doc_id", "html", dfCap = 2L),
      Some(s"""WITH d8 AS (${graft.operators.Utf8Corpus.oracleCte}),
             |${htmlCteFrom("d8")},
             |f AS (SELECT line, count(DISTINCT doc_id)::BIGINT AS df
             |      FROM l GROUP BY 1)
             |SELECT l.doc_id, count(*)::BIGINT AS n_lines,
             |  sum((f.df <= 2)::BIGINT)::BIGINT AS n_kept,
             |  coalesce(string_agg(CASE WHEN f.df <= 2 THEN l.line END,
             |    ' ' ORDER BY l.pos), '') AS clean_text
             |FROM l JOIN f USING (line) GROUP BY 1""".stripMargin)),

    // ---- Unicode NFC normalization (native unicode_norm kernel vs
    //      DuckDB nfc_normalize) over the multibyte corpus: the
    //      combining-mark decoration (doc_id%10=3) composes to a single
    //      code point; every other width class is NFC-stable ----
    GraftQuery("q_unicode_nfc",
      (s, dir) => {
        graft.operators.Utf8Corpus.decorate(
            t(s, dir, "documents"), "doc_id", "text")
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_cp_raw"),
            length(call_function("unicode_norm", col("text"), lit("NFC")))
              .cast("long").as("n_cp_nfc"))
          .withColumn("changed", (col("n_cp_raw") =!= col("n_cp_nfc"))
            .cast("long"))
      },
      Some(s"""WITH d8 AS (${graft.operators.Utf8Corpus.oracleCte})
             |SELECT doc_id, length(text)::BIGINT AS n_cp_raw,
             |  length(nfc_normalize(text))::BIGINT AS n_cp_nfc,
             |  (length(text) <> length(nfc_normalize(text)))::BIGINT
             |    AS changed
             |FROM d8""".stripMargin)),

    // ---- dedup AFTER normalization: canonically-equivalent variants
    //      (precomposed é vs e + combining acute) are byte-different —
    //      byte-exact dedup misses the pair, NFC-keyed dedup collapses
    //      it. Each doc spawns both variants; every group must close
    //      at exactly 2 copies keeping the even id ----
    GraftQuery("q_nfc_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pre = new String(Character.toChars(0xE9)) // é precomposed
        val cmb = "e" + new String(Character.toChars(0x301)) // e + U+0301
        val variants = docs.select((col("doc_id") * 2).as("id"),
            concat(lit("caf" + pre + " "), col("text")).as("text"))
          .unionByName(docs.select((col("doc_id") * 2 + 1).as("id"),
            concat(lit("caf" + cmb + " "), col("text")).as("text")))
        variants
          .select(col("id"),
            call_function("unicode_norm", col("text"), lit("NFC")).as("norm"))
          .groupBy("norm")
          .agg(min(col("id")).as("keep_id"),
            count(lit(1)).cast("long").as("n_copies"))
          .select(col("keep_id"), col("n_copies"),
            length(col("norm")).cast("long").as("n_cp"))
      },
      Some("""WITH v AS (
             |  SELECT doc_id * 2 AS id,
             |    'caf' || chr(233) || ' ' || text AS text FROM documents
             |  UNION ALL
             |  SELECT doc_id * 2 + 1 AS id,
             |    'caf' || 'e' || chr(769) || ' ' || text AS text
             |  FROM documents)
             |SELECT min(id)::BIGINT AS keep_id, count(*)::BIGINT AS n_copies,
             |  length(norm)::BIGINT AS n_cp
             |FROM (SELECT id, nfc_normalize(text) AS norm FROM v) n
             |GROUP BY norm""".stripMargin)),

    // ---- fenced code-block extraction from constructed markdown:
    //      two fences per doc (one tagged scala/python/'' by id%3, one
    //      untagged), code bodies sliced from the doc text; both
    //      engines build the SAME markdown and split on the literal
    //      delimiter, so lang/code/char counts hash-match ----
    GraftQuery("q_md_code_extract",
      (s, dir) => graft.operators.TextAnalysis.codeFences(
        t(s, dir, "documents")
          .select(col("doc_id"), expr(WebClean.mdFixtureExpr).as("md")),
        "doc_id", "md"),
      Some(s"""WITH m AS (SELECT doc_id, ${WebClean.mdFixtureExpr} AS md
             |  FROM documents),
             |p AS (SELECT doc_id, string_split(md, '${"```"}') AS parts
             |      FROM m),
             |e AS (SELECT doc_id, unnest(list_transform(
             |        range(len(parts)),
             |        i -> {'i': i, 'seg': parts[i+1]})) AS u
             |      FROM p),
             |f AS (SELECT doc_id, u.i AS i, u.seg AS seg
             |      FROM e WHERE u.i % 2 = 1)
             |SELECT doc_id, ((i - 1) // 2)::BIGINT AS fence_idx,
             |  CASE WHEN instr(seg, chr(10)) = 0 THEN seg
             |    ELSE substr(seg, 1, instr(seg, chr(10)) - 1) END AS lang,
             |  CASE WHEN instr(seg, chr(10)) = 0 THEN ''
             |    ELSE substr(seg, instr(seg, chr(10)) + 1) END AS code,
             |  length(CASE WHEN instr(seg, chr(10)) = 0 THEN ''
             |    ELSE substr(seg, instr(seg, chr(10)) + 1) END)::BIGINT
             |    AS n_code_chars
             |FROM f""".stripMargin)),

    // ---- dedup on the homoglyph SKELETON: spoof variants written
    //      with Cyrillic lookalikes (pаypаl: U+0430/U+043E/U+0435) are
    //      byte-different AND NFC-stable — both exact and NFC-keyed
    //      dedup keep them apart; the confusables translate + casefold
    //      collapses each pair to the even id. The oracle runs the
    //      same translate over the SAME shared from/to constants ----
    GraftQuery("q_homoglyph_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val spoof = "pаypаl оffеr " // Cyrillic а о е
        val variants = docs.select((col("doc_id") * 2).as("id"),
            concat(lit("paypal offer "), col("text")).as("text"))
          .unionByName(docs.select((col("doc_id") * 2 + 1).as("id"),
            concat(lit(spoof), col("text")).as("text")))
        variants
          .select(col("id"), graft.operators.TextAnalysis
            .homoglyphSkeleton(
              call_function("unicode_norm", col("text"), lit("NFC")))
            .as("sk"))
          .groupBy("sk")
          .agg(min(col("id")).as("keep_id"),
            count(lit(1)).cast("long").as("n_copies"))
          .select(col("keep_id"), col("n_copies"),
            length(col("sk")).cast("long").as("n_cp"))
      },
      Some(s"""WITH v AS (
             |  SELECT doc_id * 2 AS id,
             |    'paypal offer ' || text AS text FROM documents
             |  UNION ALL
             |  SELECT doc_id * 2 + 1 AS id,
             |    'pаypаl оffеr ' || text AS text
             |  FROM documents)
             |SELECT min(id)::BIGINT AS keep_id, count(*)::BIGINT AS n_copies,
             |  length(sk)::BIGINT AS n_cp
             |FROM (SELECT id, lower(translate(nfc_normalize(text),
             |  '${graft.operators.TextAnalysis.ConfusablesFrom}',
             |  '${graft.operators.TextAnalysis.ConfusablesTo}')) AS sk
             |  FROM v) n
             |GROUP BY sk""".stripMargin)))
}
