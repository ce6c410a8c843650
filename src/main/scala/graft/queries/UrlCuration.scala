package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import graft.GraftCatalog.artifactPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URL/domain curation surface ([[graft.operators.UrlCuration]]) —
  * the stage-zero web-pipeline verbs: canonicalization, registrable
  * domain, per-domain caps, blocklists.
  *
  * The fixture derives a deliberately MESSY deterministic URL per
  * document (uppercase schemes/hosts, userinfo, default and
  * non-default ports, trailing slashes, tracking params in shuffled
  * order, fragments) from doc_id with the same expression in both
  * engines; the ORACLE then parses it with the mirrored four-regex
  * grammar — what is under test is the parse + canonical rules, the
  * suffix-table join, and the no-window domain cap. */
object UrlCuration extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** Shared Spark/DuckDB fixture expression (valid in both dialects):
    * builds `url` from doc_id. */
  private val urlExpr: String =
    """concat(
      |  CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END, '://',
      |  CASE CAST(doc_id % 9 AS INTEGER)
      |    WHEN 0 THEN 'WWW.Example.co.uk'
      |    WHEN 1 THEN 'news.example.com:80'
      |    WHEN 2 THEN 'u:p@blog.example.com.au'
      |    WHEN 3 THEN 'example.github.io:8080'
      |    WHEN 4 THEN 'CDN.Example.org'
      |    WHEN 5 THEN 'Kid.BlogSpot.co.uk'
      |    WHEN 6 THEN 'shop.foo.CK:443'
      |    WHEN 7 THEN 'WWW.CK'
      |    ELSE 'localhost' END,
      |  '/Articles/', CAST(doc_id % 20 AS STRING),
      |  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
      |  CASE WHEN doc_id % 3 = 0 THEN '?b=2&utm_source=feed&a=1&gclid=x'
      |       WHEN doc_id % 3 = 1
      |         THEN concat('?id=', CAST(doc_id % 5 AS STRING),
      |                     '&utm_campaign=z')
      |       ELSE '' END,
      |  CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"""
      .stripMargin

  private def urlDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), expr(urlExpr).as("url"))

  /** q_robots_gate's rule fixture `(host, agent, allow, pattern)` —
    * shared verbatim between the Spark dim and the oracle VALUES.
    * Exercises every RFC 9309 branch against the fixture URLs:
    * specific-agent group override (news), `$` anchor vs trailing
    * slash (news 12, cdn 19), exact-length tie → allow (news 13),
    * longer literal beating a wildcard (co.uk 15), a present-but-empty
    * specific group = allow all (blog), bare-`*` disallow (shop),
    * longest-match disallow under a root allow (www.ck), and hosts
    * with no rules at all (github.io, blogspot, localhost). */
  private val robotsRules: Seq[(String, String, Boolean, String)] = Seq(
    ("news.example.com", "*", false, "/Articles/1"),
    ("news.example.com", "graftbot", false, "/Articles/12$"),
    ("news.example.com", "graftbot", true, "/Articles/1*"),
    ("news.example.com", "graftbot", false, "/Articles/13"),
    ("news.example.com", "graftbot", true, "/Articles/13"),
    ("www.example.co.uk", "*", false, "/Articles/*5"),
    ("www.example.co.uk", "*", true, "/Articles/15"),
    ("cdn.example.org", "*", false, "/"),
    ("cdn.example.org", "*", true, "/Articles/19$"),
    ("blog.example.com.au", "*", false, "*/7$"),
    ("blog.example.com.au", "graftbot", true, ""),
    ("shop.foo.ck", "graftbot", false, "*"),
    ("www.ck", "*", true, "/"),
    ("www.ck", "*", false, "/Articles/"))

  /** q_robots_policy's directive fixture `(host, agent, directive,
    * value)` — shared verbatim between the Spark dim and the oracle
    * VALUES. Branch coverage: specific-group delay min-wins +
    * file-scoped sitemaps across groups (a.com), invalid value +
    * empty no-op + foreign-agent group ignored (b.org), `*` delay NOT
    * leaking into a host with a specific group (c.net), sitemap-only
    * host with a duplicate entry (d.io), negative delay ignored
    * (e.gov). */
  private val robotsPolicyRules: Seq[(String, String, String, String)] =
    Seq(
      ("a.com", "*", "disallow", "/private"),
      ("a.com", "*", "allow", "/private/ok"),
      ("a.com", "*", "crawl-delay", "2"),
      ("a.com", "GraftBot", "disallow", "/tmp"),
      ("a.com", "graftbot", "crawl-delay", "5"),
      ("a.com", "graftbot", "crawl-delay", "3"),
      ("a.com", "*", "sitemap", "https://a.com/sm2.xml"),
      ("a.com", "graftbot", "sitemap", "https://a.com/sm1.xml"),
      ("b.org", "*", "crawl-delay", "oops"),
      ("b.org", "*", "disallow", ""),
      ("b.org", "*", "disallow", "/x"),
      ("b.org", "otherbot", "crawl-delay", "9"),
      ("c.net", "graftbot", "allow", "/"),
      ("c.net", "*", "crawl-delay", "7"),
      ("d.io", "*", "sitemap", "https://d.io/s.xml"),
      ("d.io", "*", "sitemap", "https://d.io/s.xml"),
      ("e.gov", "graftbot", "crawl-delay", "-4"),
      ("e.gov", "graftbot", "disallow", "/z"))

  /** q_crawl_schedule's delay fixture over the urlExpr hosts: a
    * specific-group delay beating a slower `*` one (news), a plain
    * `*` delay (co.uk), an invalid value (cdn → 0), a host with rules
    * but no delay (com.au → 0); the remaining fixture hosts have no
    * rules at all (opt-out → 0). */
  private val crawlDelayRules: Seq[(String, String, String, String)] =
    Seq(
      ("news.example.com", "GraftBot", "crawl-delay", "2"),
      ("news.example.com", "*", "crawl-delay", "9"),
      ("www.example.co.uk", "*", "crawl-delay", "5"),
      ("cdn.example.org", "*", "crawl-delay", "oops"),
      ("blog.example.com.au", "*", "disallow", "/x"))

  /** Oracle CTEs mirroring the operator's four-regex grammar +
    * canonical rules: the shared prefix yields `p1(doc_id, url,
    * scheme, host, port, path, query, keep_port, canon_q, canon_p,
    * labels)`; [[parseCte]] finishes with the bounded built-in
    * suffix rule, [[parsePslCte]] with the full PSL resolution over
    * [[graft.operators.UrlCuration.SyntheticPslRules]]. */
  private val parsePrefixCte: String =
    s"""u AS (SELECT doc_id, $urlExpr AS url FROM documents),
       |p0 AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1))
       |      AS scheme,
       |    lower(regexp_extract(
       |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
       |      '^(?:[^@]*@)?([^:]*)', 1)) AS host,
       |    regexp_extract(
       |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
       |      ':([0-9]+)$$', 1) AS port,
       |    regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
       |    regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS query
       |  FROM u),
       |p1 AS (
       |  SELECT *,
       |    CASE WHEN (scheme = 'http' AND port = '80')
       |           OR (scheme = 'https' AND port = '443')
       |           OR port = '' THEN ''
       |         ELSE ':' || port END AS keep_port,
       |    coalesce(array_to_string(list_sort(list_filter(
       |      string_split(query, '&'),
       |      p -> p <> '' AND NOT regexp_matches(p,
       |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)(=|$$)'))), '&'), '')
       |      AS canon_q,
       |    CASE WHEN path = '' THEN '/'
       |         ELSE regexp_replace(path, '(.)/$$', '\\1') END AS canon_p,
       |    string_split(host, '.') AS labels
       |  FROM p0)""".stripMargin

  private val parseCte: String = {
    val suffixes = graft.operators.UrlCuration.MultiPartSuffixes
      .map(s => s"'$s'").mkString("[", ", ", "]")
    s"""$parsePrefixCte,
       |pu AS (
       |  SELECT doc_id, url, scheme, host, port, path, query,
       |    scheme || '://' || host || keep_port || canon_p ||
       |      CASE WHEN canon_q = '' THEN '' ELSE '?' || canon_q END
       |      AS canon_url,
       |    CASE
       |      WHEN len(labels) >= 2 AND list_contains($suffixes,
       |        array_to_string(labels[len(labels)-1:len(labels)], '.'))
       |      THEN array_to_string(
       |        labels[greatest(len(labels)-2, 1):len(labels)], '.')
       |      WHEN len(labels) >= 2
       |      THEN array_to_string(labels[len(labels)-1:len(labels)], '.')
       |      ELSE host END AS registrable
       |  FROM p1)""".stripMargin
  }

  /** The PSL oracle finisher: brute longest-match resolution (rule
    * explode over k=1..4 host-suffix candidates, exception-first
    * priority, implicit `*` fallback) over the SAME generated rule
    * list the Spark dim broadcasts — yields the identical
    * `pu(..., registrable)` shape. */
  private val parsePslCte: String = {
    val rules = graft.operators.UrlCuration.SyntheticPslRules
      .map(r => s"'$r'").mkString("[", ", ", "]")
    s"""$parsePrefixCte,
       |rl AS (SELECT unnest($rules) AS rule),
       |rr AS (SELECT
       |    CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
       |         ELSE rule END AS body,
       |    (rule LIKE '!%') AS is_exc
       |  FROM rl),
       |r2 AS (SELECT
       |    CASE WHEN body LIKE '*.%' THEN substr(body, 3)
       |         ELSE body END AS key,
       |    is_exc, (body LIKE '*.%') AS is_wild,
       |    len(string_split(body, '.')) AS nlab
       |  FROM rr),
       |hc AS (SELECT doc_id, k,
       |    array_to_string(
       |      labels[greatest(len(labels)-k+1, 1):len(labels)], '.')
       |      AS lastk,
       |    array_to_string(
       |      labels[greatest(len(labels)-k+2, 1):len(labels)], '.')
       |      AS tailk
       |  FROM p1, unnest([1, 2, 3, 4]) AS t(k)
       |  WHERE len(labels) >= k),
       |m AS (SELECT hc.doc_id,
       |    CASE WHEN r2.is_exc THEN 1000 + (r2.nlab - 1)
       |         ELSE r2.nlab END AS prio
       |  FROM hc JOIN r2 ON r2.nlab = hc.k AND
       |    ((NOT r2.is_wild AND r2.key = hc.lastk) OR
       |     (r2.is_wild AND r2.key = hc.tailk))),
       |b AS (SELECT p1.doc_id, coalesce(max(m.prio), 1) % 1000 AS snlab
       |  FROM p1 LEFT JOIN m USING (doc_id) GROUP BY p1.doc_id),
       |pu AS (
       |  SELECT p1.doc_id, url, scheme, host, port, path, query,
       |    scheme || '://' || host || keep_port || canon_p ||
       |      CASE WHEN canon_q = '' THEN '' ELSE '?' || canon_q END
       |      AS canon_url,
       |    array_to_string(
       |      labels[greatest(len(labels) - snlab, 1):len(labels)], '.')
       |      AS registrable
       |  FROM p1 JOIN b ON p1.doc_id = b.doc_id)""".stripMargin
  }

  override val queries: Seq[GraftQuery] = Seq(

    // ---- parse + canonicalize + registrable domain: pure codegen'd
    //      per-row expressions + one broadcast suffix join ----
    GraftQuery("q_url_canonical",
      (s, dir) => graft.operators.UrlCuration.registrableDomain(
          graft.operators.UrlCuration.canonicalize(
            urlDocs(s, dir), "url"),
          "host")
        .select(col("doc_id"), col("scheme"), col("host"), col("port"),
          col("path"), col("query"), col("canon_url"), col("registrable")),
      Some(s"""WITH $parseCte
             |SELECT doc_id, scheme, host, port, path, query, canon_url,
             |  registrable
             |FROM pu""".stripMargin)),

    // ---- per-domain cap: rank within registrable domain WITHOUT a
    //      per-group window (range-partition + offset composition),
    //      resolving eTLD+1 against the PSL-SCALE rule dim (~5k rules
    //      incl. wildcard/exception cases — longest-match changes
    //      answers vs the bounded dim, e.g. kid.blogspot.co.uk);
    //      oracle is exactly the window the operator avoids, over the
    //      brute PSL resolution ----
    GraftQuery("q_domain_cap",
      (s, dir) => graft.operators.UrlCuration.domainCap(
          urlDocs(s, dir), "url", "doc_id", maxPerDomain = 40L,
          rules = Some(graft.operators.UrlCuration.syntheticPsl(s)))
        .select(col("doc_id"), col("registrable"),
          col("rnk").cast("long").as("rnk"), col("kept")),
      Some(s"""WITH $parsePslCte
             |SELECT doc_id, registrable,
             |  row_number() OVER (PARTITION BY registrable
             |    ORDER BY doc_id)::BIGINT AS rnk,
             |  (row_number() OVER (PARTITION BY registrable
             |    ORDER BY doc_id) <= 40)::BIGINT AS kept
             |FROM pu""".stripMargin)),

    // ---- domain-level quality gate: aggregate word counts to the
    //      registrable domain, keep domains with coverage AND average
    //      quality (the RefinedWeb-style domain curation step) ----
    GraftQuery("q_domain_quality_gate",
      (s, dir) => graft.operators.UrlCuration.domainQualityGate(
        t(s, dir, "documents")
          .select(col("doc_id"), expr(urlExpr).as("url"), col("text")),
        "url", "text", minDocs = 3L, minMeanWordsMilli = 54000L,
        rules = Some(graft.operators.UrlCuration.syntheticPsl(s))),
      Some(s"""WITH $parsePslCte,
             |nw AS (SELECT doc_id, len(list_filter(string_split(text, ' '),
             |  w -> w <> ''))::BIGINT AS n_words FROM documents),
             |g AS (SELECT pu.registrable, count(*)::BIGINT AS n_docs,
             |        sum(nw.n_words)::BIGINT AS sum_words
             |      FROM pu JOIN nw USING (doc_id) GROUP BY 1)
             |SELECT registrable, n_docs, sum_words,
             |  (sum_words * 1000 // n_docs)::BIGINT AS mean_words_milli,
             |  (n_docs >= 3 AND (sum_words * 1000 // n_docs) >= 54000)
             |    AS kept
             |FROM g""".stripMargin)),

    // ---- streamed domain-quality gate: documents arrive over three
    //      micro-batches, resolution + word count run map-side, state
    //      is two longs per domain (additive — any arrival order), the
    //      latest emitted row per domain equals the batch gate (shares
    //      its PSL oracle verbatim). MemoryStream is the harness
    //      transport, as elsewhere ----
    GraftQuery("q_domain_quality_gate_stream",
      (s, dir) => {
        import s.implicits._
        implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
        import graft.streaming.StreamingUrlCuration.DomainGateRow
        val rows = t(s, dir, "documents")
          .select(col("doc_id"), expr(urlExpr).as("url"), col("text"))
          .collect().sortBy(_.getLong(0))
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        val in = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String, String)]
        val nm = "graft_domain_gate_sink"
        s.catalog.dropTempView(nm)
        // r15: stateful stream — state-store task count sized by
        // StreamConf (state volume), not the batch shuffle width
        graft.streaming.StreamConf.withStatePartitions(s) {
          val q = graft.streaming.StreamingUrlCuration.domainQualityGateStream(
              in.toDS().toDF("doc_id", "url", "text"), "url", "text",
              graft.operators.UrlCuration.syntheticPsl(s),
              minDocs = 3L, minMeanWordsMilli = 54000L)
            .writeStream.format("memory").queryName(nm)
            .outputMode("append").start()
          try {
            val third = (rows.size + 2) / 3
            rows.grouped(math.max(third, 1)).foreach { b =>
              in.addData(b); q.processAllAvailable()
            }
          } finally q.stop()
        }
        s.table(nm).as[DomainGateRow]
          .groupByKey(_.registrable)
          .mapGroups((_, rs) => rs.maxBy(_.n_docs))
          .select(col("registrable"), col("n_docs"), col("sum_words"),
            col("mean_words_milli"), col("kept"))
      },
      Some(s"""WITH $parsePslCte,
             |nw AS (SELECT doc_id, len(list_filter(string_split(text, ' '),
             |  w -> w <> ''))::BIGINT AS n_words FROM documents),
             |g AS (SELECT pu.registrable, count(*)::BIGINT AS n_docs,
             |        sum(nw.n_words)::BIGINT AS sum_words
             |      FROM pu JOIN nw USING (doc_id) GROUP BY 1)
             |SELECT registrable, n_docs, sum_words,
             |  (sum_words * 1000 // n_docs)::BIGINT AS mean_words_milli,
             |  (n_docs >= 3 AND (sum_words * 1000 // n_docs) >= 54000)
             |    AS kept
             |FROM g""".stripMargin)),

    // ---- FILE-SOURCE streamed domain-quality gate: the same gate
    //      driven by spark.readStream over parquet FILES (one file per
    //      trigger) with a CHECKPOINTED RESTART in the middle — chunk 3
    //      lands while the query is down, the restarted query resumes
    //      from the checkpoint (source offsets + per-domain state), so
    //      nothing replays and the final report equals the batch gate
    //      (shares the PSL oracle VERBATIM). This is the registry's
    //      production-shaped attach path: no driver-collected
    //      MemoryStream anywhere in the flow ----
    GraftQuery("q_domain_quality_gate_files",
      (s, dir) => {
        import s.implicits._
        import graft.streaming.StreamingUrlCuration.DomainGateRow
        val root = artifactPath(dir, "gate_files")
        val in = s"$root/in"
        val ckpt = s"$root/ckpt"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), expr(urlExpr).as("url"), col("text"))
        val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
        def writeChunk(i: Long): Unit = docs
          .where(col("doc_id") >= i * maxId / 3 &&
            col("doc_id") < (i + 1) * maxId / 3)
          .coalesce(1).write.mode("append").parquet(in)
        val out = s"$root/out"
        // r15: stateful stream — state-store task count sized by
        // StreamConf (state volume), not the batch shuffle width
        def run(): Unit = graft.streaming.StreamConf.withStatePartitions(s) {
          val stream = s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(in)
          val q = graft.streaming.StreamingUrlCuration
            .domainQualityGateStream(stream, "url", "text",
              graft.operators.UrlCuration.syntheticPsl(s),
              minDocs = 3L, minMeanWordsMilli = 54000L)
            .toDF()
            .writeStream
            // memory sink refuses checkpoint recovery; foreachBatch +
            // parquet is the fault-tolerant production seam
            .foreachBatch {
              (df: org.apache.spark.sql.DataFrame, _: Long) =>
                df.write.mode("append").parquet(out); ()
            }
            .option("checkpointLocation", ckpt).start()
          try q.processAllAvailable() finally q.stop()
        }
        writeChunk(0); writeChunk(1)
        run()
        writeChunk(2) // arrives while the query is DOWN
        run() // checkpoint resume: only chunk 3 processes
        s.read.schema(org.apache.spark.sql.Encoders
            .product[DomainGateRow].schema).parquet(out)
          .as[DomainGateRow]
          .groupByKey(_.registrable)
          .mapGroups((_, rs) => rs.maxBy(_.n_docs))
          .select(col("registrable"), col("n_docs"), col("sum_words"),
            col("mean_words_milli"), col("kept"))
      },
      Some(s"""WITH $parsePslCte,
             |nw AS (SELECT doc_id, len(list_filter(string_split(text, ' '),
             |  w -> w <> ''))::BIGINT AS n_words FROM documents),
             |g AS (SELECT pu.registrable, count(*)::BIGINT AS n_docs,
             |        sum(nw.n_words)::BIGINT AS sum_words
             |      FROM pu JOIN nw USING (doc_id) GROUP BY 1)
             |SELECT registrable, n_docs, sum_words,
             |  (sum_words * 1000 // n_docs)::BIGINT AS mean_words_milli,
             |  (n_docs >= 3 AND (sum_words * 1000 // n_docs) >= 54000)
             |    AS kept
             |FROM g""".stripMargin)),

    // ---- robots.txt gate (RFC 9309): specific-agent group override,
    //      longest-octet-match precedence with allow-on-tie, `*`
    //      wildcards and `$` anchors compiled to the same LIKE in both
    //      engines, default allow; rules shared verbatim between the
    //      Spark dim and the oracle's VALUES list ----
    GraftQuery("q_robots_gate",
      (s, dir) => graft.operators.UrlCuration.robotsGate(
        urlDocs(s, dir), "doc_id", "url",
        s.createDataFrame(robotsRules)
          .toDF("host", "agent", "allow", "pattern"),
        agent = "GraftBot"),
      Some {
        val vals = robotsRules.map { case (h, a, al, p) =>
          s"('$h', '$a', $al, '$p')"
        }.mkString(",\n       ")
        raw"""WITH $parsePrefixCte,
           |rules AS (SELECT * FROM (VALUES
           |       $vals) t(rhost, agent, allow, pattern)),
           |hs AS (SELECT DISTINCT rhost FROM rules
           |       WHERE agent = 'graftbot'),
           |grp AS (SELECT r.rhost, r.allow, r.pattern
           |  FROM rules r LEFT JOIN hs USING (rhost)
           |  WHERE (r.agent = 'graftbot' AND hs.rhost IS NOT NULL)
           |     OR (r.agent = '*' AND hs.rhost IS NULL)),
           |cmp AS (SELECT rhost, allow, pattern,
           |    (pattern LIKE '%$$') AS anchored,
           |    CASE WHEN pattern LIKE '%$$'
           |      THEN substr(pattern, 1, len(pattern) - 1)
           |      ELSE pattern END AS body
           |  FROM grp),
           |cm2 AS (SELECT rhost, allow, pattern,
           |    replace(replace(replace(replace(body,
           |      '\', '\\'), '%', '\%'), '_', '\_'), '*', '%')
           |      || CASE WHEN anchored THEN '' ELSE '%' END AS lk
           |  FROM cmp WHERE body <> ''),
           |m AS (SELECT p1.doc_id, c.allow, c.pattern,
           |    row_number() OVER (PARTITION BY p1.doc_id
           |      ORDER BY strlen(c.pattern) DESC, c.allow DESC,
           |        c.pattern DESC) AS rn
           |  FROM p1 JOIN cm2 c ON p1.host = c.rhost
           |  WHERE p1.path LIKE c.lk ESCAPE '\')
           |SELECT p1.doc_id AS id, p1.host, p1.path,
           |  coalesce(w.pattern, '') AS rule_pattern,
           |  coalesce(w.allow, true) AS allowed
           |FROM p1 LEFT JOIN
           |  (SELECT doc_id, allow, pattern FROM m WHERE rn = 1) w
           |  USING (doc_id)""".stripMargin
      }),

    // ---- robots.txt fetch POLICY (beyond allow/deny): per-host
    //      crawl-delay under RFC 9309 group selection (specific group
    //      overrides *, a * delay never leaks into a specific group),
    //      try_cast-validated seconds with min-wins on contradicting
    //      lines, and FILE-scoped sitemap discovery; rules shared
    //      verbatim between the Spark dim and the oracle VALUES ----
    GraftQuery("q_robots_policy",
      (s, dir) => {
        // deterministic directive fixture exercising every branch:
        // specific-group delay min-wins (a), invalid + other-agent
        // rows ignored (b), *-delay not leaking into a specific group
        // (c), sitemap-only host (d), negative delay ignored (e) —
        // plus hosts derived per-document so output scales with dir
        val derived = t(s, dir, "documents")
          .where(col("doc_id") % 50 === 0)
          .select(concat(lit("h"),
              expr("doc_id div 50").cast("string"),
              lit(".example")).as("host"),
            when(col("doc_id") % 100 === 0, "graftbot").otherwise("*")
              .as("agent"),
            when(col("doc_id") % 150 === 0, "crawl-delay")
              .otherwise("disallow").as("directive"),
            when(col("doc_id") % 150 === 0,
                (col("doc_id") % 7).cast("string"))
              .otherwise(concat(lit("/p/"),
                (col("doc_id") % 11).cast("string"))).as("value"))
        val rules = s.createDataFrame(robotsPolicyRules)
          .toDF("host", "agent", "directive", "value")
          .unionByName(derived)
        graft.operators.UrlCuration.robotsPolicy(rules, "GraftBot")
      },
      Some {
        val vals = robotsPolicyRules.map { case (h, a, d, v) =>
          s"('$h', '$a', '$d', '$v')"
        }.mkString(",\n       ")
        s"""WITH fx AS (SELECT * FROM (VALUES
           |       $vals) t(host, agent, directive, value)),
           |dv AS (SELECT
           |    'h' || CAST(doc_id // 50 AS VARCHAR) || '.example' AS host,
           |    CASE WHEN doc_id % 100 = 0 THEN 'graftbot' ELSE '*' END
           |      AS agent,
           |    CASE WHEN doc_id % 150 = 0 THEN 'crawl-delay'
           |         ELSE 'disallow' END AS directive,
           |    CASE WHEN doc_id % 150 = 0 THEN CAST(doc_id % 7 AS VARCHAR)
           |         ELSE '/p/' || CAST(doc_id % 11 AS VARCHAR) END AS value
           |  FROM documents WHERE doc_id % 50 = 0),
           |rl AS (SELECT lower(host) AS host, lower(agent) AS agent,
           |    lower(directive) AS directive, value
           |  FROM (SELECT * FROM fx UNION ALL SELECT * FROM dv)),
           |g AS (SELECT * FROM rl
           |      WHERE directive IN ('allow', 'disallow', 'crawl-delay')),
           |ha AS (SELECT host,
           |    max((agent = 'graftbot')::INT) AS has_spec,
           |    max((agent = '*')::INT) AS has_wild
           |  FROM g GROUP BY 1),
           |grp AS (SELECT g.* FROM g JOIN ha USING (host)
           |  WHERE (g.agent = 'graftbot' AND ha.has_spec = 1)
           |     OR (g.agent = '*' AND ha.has_spec = 0)),
           |pa AS (SELECT host,
           |    sum(CASE WHEN directive = 'allow' AND value <> ''
           |        THEN 1 ELSE 0 END)::BIGINT AS n_allow,
           |    sum(CASE WHEN directive = 'disallow' AND value <> ''
           |        THEN 1 ELSE 0 END)::BIGINT AS n_disallow,
           |    min(CASE WHEN directive = 'crawl-delay'
           |          AND try_cast(value AS BIGINT) >= 0
           |        THEN least(try_cast(value AS BIGINT), 86400) END)
           |      AS cd
           |  FROM grp GROUP BY 1),
           |mp AS (SELECT host,
           |    count(DISTINCT value)::BIGINT AS n_sitemaps,
           |    string_agg(DISTINCT value, ',' ORDER BY value)
           |      AS sitemaps
           |  FROM rl WHERE directive = 'sitemap' AND value <> ''
           |  GROUP BY 1)
           |SELECT h.host,
           |  CASE WHEN ha.has_spec = 1 THEN 'specific'
           |       WHEN ha.has_wild = 1 THEN 'wildcard'
           |       ELSE 'none' END AS agent_group,
           |  coalesce(pa.cd * 1000, 0)::BIGINT AS crawl_delay_ms,
           |  coalesce(pa.n_allow, 0)::BIGINT AS n_allow,
           |  coalesce(pa.n_disallow, 0)::BIGINT AS n_disallow,
           |  coalesce(mp.n_sitemaps, 0)::BIGINT AS n_sitemaps,
           |  coalesce(mp.sitemaps, '') AS sitemaps
           |FROM (SELECT DISTINCT host FROM rl) h
           |LEFT JOIN ha USING (host)
           |LEFT JOIN pa USING (host)
           |LEFT JOIN mp USING (host)""".stripMargin
      }),

    // ---- politeness scheduler: robotsPolicy × the frontier — every
    //      URL gets its per-host fetch sequence (rankWithinGroups, no
    //      per-host window) and earliest polite offset under the
    //      host's crawl-delay (specific group beats *, invalid delays
    //      and rule-less hosts fail open to 0) ----
    GraftQuery("q_crawl_schedule",
      (s, dir) => graft.operators.UrlCuration.crawlSchedule(
        urlDocs(s, dir), "doc_id", "url",
        s.createDataFrame(crawlDelayRules)
          .toDF("host", "agent", "directive", "value"),
        agent = "GraftBot"),
      Some {
        val vals = crawlDelayRules.map { case (h, a, d, v) =>
          s"('$h', '$a', '$d', '$v')"
        }.mkString(",\n       ")
        s"""WITH $parsePrefixCte,
           |rules AS (SELECT * FROM (VALUES
           |       $vals) t(host, agent, directive, value)),
           |rl AS (SELECT lower(host) AS host, lower(agent) AS agent,
           |    lower(directive) AS directive, value
           |  FROM rules),
           |g AS (SELECT * FROM rl
           |      WHERE directive IN ('allow', 'disallow', 'crawl-delay')),
           |ha AS (SELECT host,
           |    max((agent = 'graftbot')::INT) AS has_spec
           |  FROM g GROUP BY 1),
           |grp AS (SELECT g.* FROM g JOIN ha USING (host)
           |  WHERE (g.agent = 'graftbot' AND ha.has_spec = 1)
           |     OR (g.agent = '*' AND ha.has_spec = 0)),
           |pa AS (SELECT host,
           |    min(CASE WHEN directive = 'crawl-delay'
           |          AND try_cast(value AS BIGINT) >= 0
           |        THEN least(try_cast(value AS BIGINT), 86400) END)
           |      AS cd
           |  FROM grp GROUP BY 1),
           |r AS (SELECT doc_id AS id, host,
           |    row_number() OVER (PARTITION BY host ORDER BY doc_id)
           |      ::BIGINT AS fetch_seq
           |  FROM p1)
           |SELECT r.id, r.host, r.fetch_seq,
           |  coalesce(pa.cd * 1000, 0)::BIGINT AS crawl_delay_ms,
           |  ((r.fetch_seq - 1) * coalesce(pa.cd * 1000, 0))::BIGINT
           |    AS scheduled_offset_ms
           |FROM r LEFT JOIN pa USING (host)""".stripMargin
      }),

    // ---- blocklist gate: broadcast anti-join on registrable domain ----
    GraftQuery("q_domain_blocklist",
      (s, dir) => {
        val blocked = s.createDataFrame(Seq(
            Tuple1("example.co.uk"), Tuple1("example.github.io")))
          .toDF("domain")
        graft.operators.UrlCuration.blocklistFilter(
            urlDocs(s, dir), "url", blocked)
          .groupBy(col("registrable"))
          .agg(count(lit(1)).cast("long").as("n_docs"))
      },
      Some(s"""WITH $parseCte
             |SELECT registrable, count(*)::BIGINT AS n_docs
             |FROM pu
             |WHERE registrable NOT IN ('example.co.uk', 'example.github.io')
             |GROUP BY 1""".stripMargin)))
}
