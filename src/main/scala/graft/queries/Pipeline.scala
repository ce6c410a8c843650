package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 training-data pipeline operators (north-star surface beyond
  * SURVEY.md §2.11's dedup/similarity core): TF-IDF term scoring, document
  * chunking, stratified sampling, PII-style redaction, and per-class
  * embedding centroids.
  *
  * Scale notes (100 TB):
  *  - TF-IDF: two shuffles — (doc,word) term counts and word document
  *    frequencies; the df side is words-only (tiny vs the corpus) and is
  *    broadcast back. No driver-side constants: corpus size N flows in as a
  *    broadcast scalar, so the same plan runs on any corpus unchanged.
  *  - Chunking is a stateless per-row flatMap (explode) — no shuffle; output
  *    rows carry provenance (doc_id, chunk_idx, start) so downstream dedup
  *    can map back to documents.
  *  - Stratified sampling is a deterministic hash predicate (never rand():
  *    reproducible across engines, retries, and cluster sizes) — pushes
  *    down to the scan and shuffles nothing.
  *  - Redaction is per-row regexp work inside whole-stage codegen.
  *  - Centroids: posexplode fans each vector into (label, dim, v) — the
  *    shuffle key (label, dim) spreads one label's mean across dim
  *    reducers, so a skewed label distribution still balances.
  *
  * Determinism contract: TF-IDF avoids ln() (libm last-ulp differences
  * across engines flip 4-dp rounding); the idf is the integer
  * `(N * 1_000_000) div df`, exact in both engines.
  */
object Pipeline extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** Chunk geometry: 120-char chunks every 90 chars (30-char overlap). */
  private val ChunkLen = 120
  private val ChunkStride = 90

  /** q_phrase_tag's dictionary — 2- and 3-word phrases over the corpus
    * vocabulary, with a nested pair ("big table" ⊂ "the big table") to
    * pin all-matches semantics. Shared verbatim by the Spark dict and
    * the oracle VALUES list. */
  private[queries] val TagPhrases = Seq("hash join", "sort merge",
    "table scan", "window agg", "big table", "the big table",
    "stream batch window")

  /** Shared by q_twap and q_twap_stream (the streamed slices fold to
    * exactly the batch relation, so the oracle is identical). */
  private val twapOracle: String =
    """WITH e AS (
      |  SELECT user_id AS k, epoch_ms(ts)::BIGINT AS lo,
      |    event_id AS tie,
      |    CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |iv AS (
      |  SELECT k, lo, cents,
      |    lead(lo) OVER (PARTITION BY k ORDER BY lo, tie) AS hi
      |  FROM e),
      |bk AS (
      |  SELECT k, cents, lo, hi,
      |    unnest(range(lo // 86400000, (hi - 1) // 86400000 + 1))
      |      AS b
      |  FROM iv WHERE hi IS NOT NULL AND hi > lo),
      |wg AS (
      |  SELECT k, b, cents,
      |    least(hi, (b + 1) * 86400000)
      |      - greatest(lo, b * 86400000) AS wgt
      |  FROM bk)
      |SELECT k AS user_id, b::BIGINT AS bucket,
      |  sum(wgt)::BIGINT AS held_millis,
      |  sum(cents * wgt)::BIGINT AS vw,
      |  (sum(cents * wgt) // greatest(sum(wgt), 1))::BIGINT
      |    AS twap_cents
      |FROM wg GROUP BY 1, 2""".stripMargin

  /** q_luhn_redact's fixture: published TEST card numbers — valid
    * (spaced 16-digit Visa, 15-digit Amex, 13-digit Visa, dashed
    * Mastercard) and a checksum-broken variant — plus sub-length digit
    * noise and a trailing numeric ref that must all survive. Valid in
    * both dialects. */
  private val luhnFixtureExpr: String =
    """concat('pay ',
      |  CASE CAST(doc_id % 6 AS INTEGER)
      |    WHEN 0 THEN '4111 1111 1111 1111'
      |    WHEN 1 THEN '4111 1111 1111 1112'
      |    WHEN 2 THEN '378282246310005'
      |    WHEN 3 THEN '4222222222222'
      |    WHEN 4 THEN '1234 5678'
      |    ELSE '4012-8888-8888-1881' END,
      |  ' ref ', CAST(doc_id AS STRING), ' end')""".stripMargin

  /** q_iban_redact's fixture: published TEST IBANs — valid (DE, GB,
    * FR with a BBAN letter, NO's 15-char minimum with a trailing
    * glued currency word, GB with bank code), a checksum-broken
    * variant, the classic `IBAN `-prefixed form, a lowercase copy and
    * a too-short run that must all survive. Valid in both dialects. */
  private val ibanFixtureExpr: String =
    """concat('acct ',
      |  CASE CAST(doc_id % 8 AS INTEGER)
      |    WHEN 0 THEN 'DE89 3704 0044 0532 0130 00'
      |    WHEN 1 THEN 'DE89 3704 0044 0532 0130 01'
      |    WHEN 2 THEN 'IBAN GB29 NWBK 6016 1331 9268 19'
      |    WHEN 3 THEN 'FR14 2004 1010 0505 0001 3M02 606'
      |    WHEN 4 THEN 'NO93 8601 1117 947 EUR'
      |    WHEN 5 THEN 'de89 3704 0044 0532 0130 00'
      |    WHEN 6 THEN 'DE89 1234'
      |    ELSE 'GB94 BARC 1020 1530 0934 59' END,
      |  ' ref ', CAST(doc_id AS STRING), ' end')""".stripMargin

  /** Shared by q_length_buckets / q_length_bucket_gain: whitespace
    * counts, the zero-token drop, and the (n_tokens, doc_id)-ranked
    * batch ids — `bs(batch_id, n_tokens)` plus `nz` for the naive
    * ordering. */
  private val lengthBucketCtes: String =
    """tk AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT
      |      AS n_tokens
      |  FROM documents),
      |nz AS (SELECT * FROM tk WHERE n_tokens > 0),
      |bs AS (SELECT n_tokens,
      |    (row_number() OVER (ORDER BY n_tokens, doc_id) - 1) // 16
      |      AS batch_id
      |  FROM nz)""".stripMargin

  override val queries: Seq[GraftQuery] = Seq(

    // ---- purged temporal split: train before the 4/5 time cut, val
    //      from 6 h after it, the embargo gap belongs to neither (the
    //      leakage channel trailing-window features open across a bare
    //      time cut). Exact epoch-micros arithmetic in both engines ----
    GraftQuery("q_time_split",
      (s, dir) => graft.operators.Splits.timeEmbargoSplit(
        t(s, dir, "events"), "event_id", "ts"),
      Some("""WITH b AS (
             |  SELECT min(epoch_us(ts))::BIGINT AS tmin,
             |         max(epoch_us(ts))::BIGINT AS tmax
             |  FROM events),
             |c AS (SELECT tmin + (tmax - tmin) * 4 // 5 AS cut FROM b)
             |SELECT event_id, epoch_us(ts)::BIGINT AS ts_us,
             |  CASE WHEN epoch_us(ts) < cut THEN 'train'
             |       WHEN epoch_us(ts) >= cut + 21600000000 THEN 'val'
             |       ELSE 'embargo' END AS role
             |FROM events CROSS JOIN c""".stripMargin)),

    // ---- TF-IDF: top-3 terms per document, integer-scaled idf ----
    GraftQuery("q_tfidf",
      (s, dir) => {
        import s.implicits._
        val words = t(s, dir, "documents")
          .select($"doc_id",
            explode(expr(graft.operators.Dedup.wordsExpr("text"))).as("word"))
        val tf = words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
        // df derives FROM tf (one row per (doc, word) → count = distinct
        // docs), so the corpus is scanned and exploded once — the words
        // relation feeding two aggregations would double the most
        // expensive stage at 100 TB.
        val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
        val n = t(s, dir, "documents").agg(count(lit(1)).as("n"))
        val scored = tf
          .join(broadcast(df), "word")
          .join(broadcast(n), lit(true))
          .select($"doc_id", $"word", $"tf",
            ($"tf" * expr("(n * 1000000L) DIV df")).as("score"))
        val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"word")
        scored.withColumn("rk", row_number().over(w).cast("long"))
          .where($"rk" <= 3)
      },
      Some("""WITH d AS (SELECT doc_id,
             |  list_filter(string_split(text, ' '), w -> w <> '') AS words
             |  FROM documents),
             |u AS (SELECT doc_id, unnest(words) AS word FROM d),
             |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
             |       FROM u GROUP BY doc_id, word),
             |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM u GROUP BY word),
             |n AS (SELECT count(*)::BIGINT AS n FROM documents),
             |sc AS (SELECT doc_id, tf.word AS word, tf,
             |         (tf * ((n.n * 1000000) // df.df))::BIGINT AS score
             |       FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
             |r AS (SELECT *, row_number() OVER
             |        (PARTITION BY doc_id ORDER BY score DESC, word) AS rk
             |      FROM sc)
             |SELECT doc_id, word, tf, score, rk FROM r WHERE rk <= 3""".stripMargin)),

    // ---- data-mixture balancing: downsample every language to the
    //      smallest language's share using DATA-DEPENDENT keep rates
    //      (rate_ppm = min_count×1e6 ÷ count, exact integer arithmetic)
    //      and the usual deterministic hash predicate — the "mixture
    //      weights" step of corpus assembly. The per-group rate relation
    //      is tiny and broadcast; the corpus pass is one filter. ----
    GraftQuery("q_lang_balance",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val cnt = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
        val rated = broadcast(cnt
          .join(cnt.agg(min($"n").as("m")))
          .select($"lang", expr("(m * 1000000L) DIV n").as("rate_ppm")))
        docs.join(rated, "lang")
          .where(expr(
            s"${graft.operators.Dedup.h60("concat(doc_id, ':', lang)")} % 1000000 < rate_ppm"))
          .select($"doc_id", $"lang")
      },
      Some("""WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |tgt AS (SELECT min(n) AS m FROM cnt),
             |rated AS (SELECT lang, (m * 1000000) // n AS rate_ppm FROM cnt, tgt)
             |SELECT d.doc_id, d.lang
             |FROM documents d JOIN rated r ON d.lang = r.lang
             |WHERE ('0x' || substr(md5(d.doc_id || ':' || d.lang), 1, 15))::BIGINT
             |      % 1000000007 % 1000000 < r.rate_ppm""".stripMargin)),

    // ---- token-budget chunking: 16-token windows every 12 tokens
    //      (4-token overlap) over the word array — the unit an LLM data
    //      loader actually feeds; the char-based variant is q_doc_chunks.
    //      Stateless per-row explode, provenance via chunk_idx. ----
    GraftQuery("q_token_chunks",
      (s, dir) => {
        import s.implicits._
        val extra =
          "CASE WHEN size(words) > 16 THEN (size(words) - 5) DIV 12 ELSE 0 END"
        t(s, dir, "documents")
          .select($"doc_id",
            expr(graft.operators.Dedup.wordsExpr("text")).as("words"))
          .select($"doc_id", posexplode(expr(
            s"""transform(sequence(0, $extra),
               |  i -> concat_ws(' ', slice(words, i*12 + 1, 16)))""".stripMargin)))
          .toDF("doc_id", "chunk_idx", "chunk")
          .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"), $"chunk",
            size(split($"chunk", " ")).cast("long").as("n_tokens"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
             |  FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(
             |      CASE WHEN len(words) > 16 THEN (len(words) - 5) // 12 ELSE 0 END + 1),
             |      i -> {'idx': i, 'chunk': array_to_string(words[i*12+1:i*12+16], ' ')})) AS e
             |  FROM d)
             |SELECT doc_id, CAST(e.idx AS BIGINT) AS chunk_idx, e.chunk AS chunk,
             |  CAST(len(string_split(e.chunk, ' ')) AS BIGINT) AS n_tokens
             |FROM c""".stripMargin)),

    // ---- benchmark decontamination: training docs sharing any word
    //      5-gram with the eval set (doc_id < 20 stands in for a held-out
    //      benchmark) get flagged with their overlap count — the standard
    //      n-gram-collision decontamination pass an LLM corpus runs
    //      before training. The eval shingle-hash set is tiny and
    //      BROADCAST; the corpus side is a stateless map + explode, and
    //      only colliding rows reach the count shuffle. ----
    GraftQuery("q_decontaminate",
      (s, dir) => {
        import s.implicits._
        graft.functions.VectorFunctions.register(s)
        // native k-shingle kernel (NULL for docs with < 5 words — same
        // guard as the oracle's WHERE); the interpreted HOF form cost
        // ~4s of the bench at sf0.1
        val sh = t(s, dir, "documents")
          .select($"doc_id",
            call_function("shingle_hashes", $"text", lit(5)).as("sh"))
          .where($"sh".isNotNull)
        val ev = broadcast(sh.where($"doc_id" < 20)
          .select(explode($"sh").as("h")).distinct())
        sh.where($"doc_id" >= 20)
          .select($"doc_id", explode($"sh").as("h"))
          .join(ev, "h")
          .groupBy($"doc_id").agg(count(lit(1)).as("shared_ngrams"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(range(len(words)-4),
             |    i -> ('0x' || substr(md5(concat_ws(' ', words[i+1], words[i+2],
             |         words[i+3], words[i+4], words[i+5])), 1, 15))::BIGINT)) AS sh
             |  FROM d WHERE len(words) >= 5),
             |ev AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id < 20)
             |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams
             |FROM (SELECT doc_id, unnest(sh) AS h FROM sh WHERE doc_id >= 20) s
             |JOIN ev ON s.h = ev.h GROUP BY s.doc_id""".stripMargin)),

    // ---- data validation / quarantine: a declarative rule engine — each
    //      rule is a CASE label, violations concat into one audit string
    //      (concat_ws skips NULLs identically in both engines), and only
    //      violating rows route to the quarantine relation. Stateless row
    //      map fused into the scan; the clean/quarantine split is a
    //      filter, not a shuffle. ----
    GraftQuery("q_validate",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .select($"o_orderkey", concat_ws(",",
            when($"o_totalprice" > 450000, lit("extreme_price")),
            when(year($"o_orderdate") >= 2001, lit("stale_window")),
            when($"o_orderpriority" === "5-LOW" && $"o_totalprice" > 300000,
              lit("odd_combo"))).as("rules"))
          .where($"rules" =!= "")
      },
      Some("""WITH flagged AS (
             |  SELECT o_orderkey,
             |    concat_ws(',',
             |      CASE WHEN o_totalprice > 450000 THEN 'extreme_price' END,
             |      CASE WHEN year(o_orderdate) >= 2001 THEN 'stale_window' END,
             |      CASE WHEN o_orderpriority = '5-LOW' AND o_totalprice > 300000
             |           THEN 'odd_combo' END) AS rules
             |  FROM orders)
             |SELECT o_orderkey, rules FROM flagged WHERE rules <> ''""".stripMargin)),

    // ---- retention cohorts: users bucketed by first-seen day, then
    //      (cohort, day_offset) active-user counts — two shuffles, both
    //      on user_id until the final small cohort-grid aggregation. ----
    GraftQuery("q_retention",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val firstDay = ev.groupBy($"user_id").agg(min(to_date($"ts")).as("cohort"))
        ev.join(firstDay, "user_id")
          .select($"user_id", $"cohort",
            datediff(to_date($"ts"), $"cohort").cast("long").as("day_offset"))
          .distinct()
          .where($"day_offset" <= 7)
          .groupBy($"cohort", $"day_offset")
          .agg(count(lit(1)).as("active_users"))
      },
      Some("""WITH first_day AS (
             |  SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS cohort
             |  FROM events GROUP BY user_id),
             |activity AS (
             |  SELECT DISTINCT e.user_id, f.cohort,
             |    CAST(date_diff('day', f.cohort, CAST(date_trunc('day', e.ts) AS DATE))
             |         AS BIGINT) AS day_offset
             |  FROM events e JOIN first_day f ON e.user_id = f.user_id)
             |SELECT cohort, day_offset, CAST(count(*) AS BIGINT) AS active_users
             |FROM activity WHERE day_offset <= 7
             |GROUP BY cohort, day_offset""".stripMargin)),

    // ---- ordered funnel (view → click → purchase, each step within 24 h
    //      of the previous): chained min-after-anchor aggregations, all
    //      keyed on user_id so the three shuffles reuse one partitioning.
    //      Emits per-user step timestamps (nullable = dropped off) rather
    //      than bare counts, so the oracle checks every user's path. ----
    GraftQuery("q_funnel",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val s1 = ev.where($"event_type" === "view")
          .groupBy($"user_id").agg(min($"ts").as("t1"))
        val s2 = ev.where($"event_type" === "click").join(s1, "user_id")
          .where($"ts" > $"t1" && $"ts" <= $"t1" + expr("INTERVAL 24 HOURS"))
          .groupBy($"user_id").agg(min($"ts").as("t2"))
        val s3 = ev.where($"event_type" === "purchase").join(s2, "user_id")
          .where($"ts" > $"t2" && $"ts" <= $"t2" + expr("INTERVAL 24 HOURS"))
          .groupBy($"user_id").agg(min($"ts").as("t3"))
        s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
          .select($"user_id", $"t1", $"t2", $"t3")
      },
      Some("""WITH s1 AS (
             |  SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (
             |  SELECT e.user_id, min(ts) AS t2 FROM events e
             |  JOIN s1 ON e.user_id = s1.user_id
             |  WHERE e.event_type = 'click' AND e.ts > s1.t1
             |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
             |s3 AS (
             |  SELECT e.user_id, min(ts) AS t3 FROM events e
             |  JOIN s2 ON e.user_id = s2.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             |    AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY e.user_id)
             |SELECT s1.user_id, t1, t2, t3
             |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
             |        LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin)),

    // ---- time-series resampling: hourly grid per user (sequence +
    //      explode between each user's min/max hour) left-joined to the
    //      observed aggregate, then FORWARD-FILL via last(ignoreNulls)
    //      over an ordered running frame. One shuffle on user_id; grid
    //      size is bounded by the time span, not the event count. ----
    GraftQuery("q_gap_fill",
      (s, dir) => {
        import s.implicits._
        val obs = t(s, dir, "events").where($"user_id" < 20)
          .groupBy($"user_id", date_trunc("hour", $"ts").as("h"))
          .agg(round(sum($"value"), 2).as("v"))
        val grid = obs.groupBy($"user_id")
          .agg(min($"h").as("h0"), max($"h").as("h1"))
          .select($"user_id",
            explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
        val w = Window.partitionBy($"user_id").orderBy($"h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(obs, Seq("user_id", "h"), "left")
          .select($"user_id", $"h", $"v",
            last($"v", ignoreNulls = true).over(w).as("v_ffill"))
      },
      Some("""WITH obs AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h,
             |         round(sum(value), 2) AS v
             |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
             |bounds AS (
             |  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY user_id),
             |grid AS (
             |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
             |  FROM bounds),
             |j AS (
             |  SELECT g.user_id, g.h, o.v FROM grid g
             |  LEFT JOIN obs o ON o.user_id = g.user_id AND o.h = g.h)
             |SELECT user_id, h, v,
             |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
             |FROM j""".stripMargin)),

    // ---- exact-N per-stratum deterministic sample: md5-hash order gives
    //      a reproducible "random" pick; Spark 4 plans a WindowGroupLimit
    //      that prunes to N per MAP partition before the lang shuffle, so
    //      a hot stratum never funnels its full membership through one
    //      reducer. Complements q_stratified_sample's rate-based filter
    //      (which cannot promise an exact count). ----
    GraftQuery("q_group_sample",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"lang").orderBy(
          expr(graft.operators.Dedup.h60("CAST(doc_id AS STRING)")), $"doc_id")
        t(s, dir, "documents")
          .withColumn("rk", row_number().over(w).cast("long"))
          .where($"rk" <= 20)
          .select($"doc_id", $"lang", $"rk")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
             |    ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
             |             % 1000000007, doc_id) AS rk
             |  FROM documents)
             |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
             |FROM r WHERE rk <= 20""".stripMargin)),

    // ---- per-group z-score outliers: whole-partition window aggregates
    //      (avg/stddev per event_type) without a global pass; threshold
    //      compares the ROUNDED z so cross-engine double noise cannot
    //      flip boundary rows. ----
    GraftQuery("q_outliers",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"event_type")
        t(s, dir, "events")
          .select($"event_id", $"event_type", $"value",
            avg($"value").over(w).as("m"),
            stddev_samp($"value").over(w).as("sd"))
          .select($"event_id", $"event_type",
            round(($"value" - $"m") / $"sd", 2).as("z"))
          .where(abs($"z") >= 2.5)
      },
      Some("""WITH s AS (
             |  SELECT event_id, event_type, value,
             |    avg(value) OVER (PARTITION BY event_type) AS m,
             |    stddev_samp(value) OVER (PARTITION BY event_type) AS sd
             |  FROM events)
             |SELECT event_id, event_type, round((value - m) / sd, 2) AS z
             |FROM s WHERE abs(round((value - m) / sd, 2)) >= 2.5""".stripMargin)),

    // ---- Winsorization at exact rank cuts (p1/p99): heavy tails move
    //      the z-score's own mean/sigma, order statistics don't; the
    //      cut values are exact ceil(n*ppm/1e6)-th order statistics via
    //      the two-phase global rank (no one-reducer sort), clamping is
    //      pure least/greatest so raw doubles hash bit-for-bit ----
    GraftQuery("q_winsorize",
      (s, dir) => graft.operators.Profiler.winsorize(
        t(s, dir, "events"), "event_id", "value",
        loPpm = 10000L, hiPpm = 990000L),
      Some("""WITH r AS (
             |  SELECT event_id AS id, value AS v,
             |    row_number() OVER (ORDER BY value, event_id) AS rnk,
             |    count(*) OVER ()::BIGINT AS n
             |  FROM events WHERE value IS NOT NULL),
             |c AS (SELECT
             |    min(CASE WHEN rnk = greatest(least(
             |      (n * 10000 + 999999) // 1000000, n), 1)
             |      THEN v END) AS lo_cut,
             |    max(CASE WHEN rnk = greatest(least(
             |      (n * 990000 + 999999) // 1000000, n), 1)
             |      THEN v END) AS hi_cut
             |  FROM r)
             |SELECT r.id, r.v AS value, c.lo_cut, c.hi_cut,
             |  least(greatest(r.v, c.lo_cut), c.hi_cut) AS winsorized,
             |  (r.v < c.lo_cut OR r.v > c.hi_cut)::BIGINT AS clipped
             |FROM r CROSS JOIN c""".stripMargin)),

    // ---- per-GROUP winsorization: one exact rank-cut pair per event
    //      type (a global p95 calibrated on the majority type clips
    //      minority types at the wrong place — the conformalByGroup
    //      argument applied to robust clipping); corpus work is one
    //      (group, value) histogram groupBy, the cum window runs on
    //      the aggregated value-range-sized relation ----
    GraftQuery("q_winsorize_by_group",
      (s, dir) => graft.operators.Profiler.winsorizeByGroup(
        t(s, dir, "events"), "event_id", "event_type", "value",
        loPpm = 50000L, hiPpm = 950000L),
      Some("""WITH r AS (
             |  SELECT event_id AS id, event_type AS grp, value AS v,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY value, event_id) AS rnk,
             |    count(*) OVER (PARTITION BY event_type)::BIGINT AS n
             |  FROM events WHERE value IS NOT NULL),
             |c AS (SELECT grp,
             |    min(CASE WHEN rnk = greatest(least(
             |      (n * 50000 + 999999) // 1000000, n), 1)
             |      THEN v END) AS lo_cut,
             |    max(CASE WHEN rnk = greatest(least(
             |      (n * 950000 + 999999) // 1000000, n), 1)
             |      THEN v END) AS hi_cut
             |  FROM r GROUP BY 1)
             |SELECT r.id, r.grp AS "group", r.v AS value,
             |  c.lo_cut, c.hi_cut,
             |  least(greatest(r.v, c.lo_cut), c.hi_cut) AS winsorized,
             |  (r.v < c.lo_cut OR r.v > c.hi_cut)::BIGINT AS clipped
             |FROM r JOIN c USING (grp)""".stripMargin)),

    // ---- streamed winsorization: observations arrive in three
    //      id-range folds, each appending its ADDITIVE value
    //      histogram; the read side recovers BOTH exact rank cuts
    //      (batch clamp-to-[1,n] k rule) as the first histogram
    //      values whose running count reaches each k, so clamping
    //      everything seen equals the batch operator VERBATIM
    //      (shares q_winsorize's oracle; mid-run compaction must not
    //      change it) ----
    GraftQuery("q_winsorize_stream",
      (s, dir) => {
        val base =
          s"/tmp/graft_wins_stream/${graft.GraftCatalog.dbFor(dir)}"
        graft.streaming.StreamingWinsorize.init(s, base)
        val ev = t(s, dir, "events")
        val maxId = ev.agg(max(col("event_id"))).head.getLong(0) + 1
        for (i <- 0L until 3L) {
          graft.streaming.StreamingWinsorize.fold(s, base,
            ev.where(col("event_id") >= i * maxId / 3 &&
              col("event_id") < (i + 1) * maxId / 3),
            "value", batchId = i)
          if (i == 1L) // mid-run compaction is answer-preserving
            graft.streaming.StreamingWinsorize.compact(s, base)
        }
        graft.streaming.StreamingWinsorize.winsorized(s, base, ev,
          "event_id", "value", loPpm = 10000L, hiPpm = 990000L)
      },
      Some("""WITH r AS (
             |  SELECT event_id AS id, value AS v,
             |    row_number() OVER (ORDER BY value, event_id) AS rnk,
             |    count(*) OVER ()::BIGINT AS n
             |  FROM events WHERE value IS NOT NULL),
             |c AS (SELECT
             |    min(CASE WHEN rnk = greatest(least(
             |      (n * 10000 + 999999) // 1000000, n), 1)
             |      THEN v END) AS lo_cut,
             |    max(CASE WHEN rnk = greatest(least(
             |      (n * 990000 + 999999) // 1000000, n), 1)
             |      THEN v END) AS hi_cut
             |  FROM r)
             |SELECT r.id, r.v AS value, c.lo_cut, c.hi_cut,
             |  least(greatest(r.v, c.lo_cut), c.hi_cut) AS winsorized,
             |  (r.v < c.lo_cut OR r.v > c.hi_cut)::BIGINT AS clipped
             |FROM r CROSS JOIN c""".stripMargin)),

    // ---- streamed PER-GROUP winsorization (r14 — the streamed-grouped
    //      cell of the winsorize matrix): same three id-range folds,
    //      one additive (group, value) histogram per fold; the read
    //      side recovers each group's exact rank-cut pair, so clamping
    //      everything seen equals the batch winsorizeByGroup VERBATIM
    //      (shares q_winsorize_by_group's oracle; mid-run compaction
    //      must not change it) ----
    GraftQuery("q_winsorize_by_group_stream",
      (s, dir) => {
        val base =
          s"/tmp/graft_winsg_stream/${graft.GraftCatalog.dbFor(dir)}"
        graft.streaming.StreamingWinsorize.init(s, base)
        val ev = t(s, dir, "events")
        val maxId = ev.agg(max(col("event_id"))).head.getLong(0) + 1
        for (i <- 0L until 3L) {
          graft.streaming.StreamingWinsorize.foldByGroup(s, base,
            ev.where(col("event_id") >= i * maxId / 3 &&
              col("event_id") < (i + 1) * maxId / 3),
            "event_type", "value", batchId = i)
          if (i == 1L) // mid-run compaction is answer-preserving
            graft.streaming.StreamingWinsorize.compactByGroup(s, base)
        }
        graft.streaming.StreamingWinsorize.winsorizedByGroup(s, base,
          ev, "event_id", "event_type", "value",
          loPpm = 50000L, hiPpm = 950000L)
      },
      Some("""WITH r AS (
             |  SELECT event_id AS id, event_type AS grp, value AS v,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY value, event_id) AS rnk,
             |    count(*) OVER (PARTITION BY event_type)::BIGINT AS n
             |  FROM events WHERE value IS NOT NULL),
             |c AS (SELECT grp,
             |    min(CASE WHEN rnk = greatest(least(
             |      (n * 50000 + 999999) // 1000000, n), 1)
             |      THEN v END) AS lo_cut,
             |    max(CASE WHEN rnk = greatest(least(
             |      (n * 950000 + 999999) // 1000000, n), 1)
             |      THEN v END) AS hi_cut
             |  FROM r GROUP BY 1)
             |SELECT r.id, r.grp AS "group", r.v AS value,
             |  c.lo_cut, c.hi_cut,
             |  least(greatest(r.v, c.lo_cut), c.hi_cut) AS winsorized,
             |  (r.v < c.lo_cut OR r.v > c.hi_cut)::BIGINT AS clipped
             |FROM r JOIN c USING (grp)""".stripMargin)),

    // ---- burst suppression: drop events repeating within 1 HOUR of
    //      the PREVIOUS raw event per (user, type) — retry/duplicate
    //      rate limiting (threshold sized to the fixture's gap
    //      distribution: p1 ~ 30 min, so the filter provably fires);
    //      gap-from-previous semantics (not transitive
    //      closure) keeps it one lag window, deterministic, and exactly
    //      SQL-expressible. The batch twin of the streaming
    //      dropDuplicatesWithinWatermark state. ----
    GraftQuery("q_event_dedup",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"ts", $"event_id")
        t(s, dir, "events")
          .withColumn("gap_us",
            unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
          .where($"gap_us".isNull || $"gap_us" > 3600000000L)
          .select($"event_id", $"user_id", $"event_type", $"ts")
      },
      Some("""WITH g AS (
             |  SELECT event_id, user_id, event_type, ts,
             |    epoch_us(ts) - epoch_us(lag(ts) OVER (
             |      PARTITION BY user_id, event_type
             |      ORDER BY ts, event_id)) AS gap_us
             |  FROM events)
             |SELECT event_id, user_id, event_type, ts
             |FROM g WHERE gap_us IS NULL OR gap_us > 3600000000""".stripMargin)),

    // ---- TWAP resampling: duration-weighted bucket averages of held
    //      values (what the count-weighted OHLC/mean bars get wrong for
    //      irregular observations): one per-key lead window, map-side
    //      bucket explode, exact cents x milliseconds integers ----
    GraftQuery("q_twap",
      (s, dir) => graft.operators.Resample.twap(
        t(s, dir, "events"), "user_id", "ts", "event_id", "value",
        bucketMillis = 86400000L),
      Some(twapOracle)),

    // ---- streamed TWAP: the same relation built incrementally —
    //      observations arrive over three FILE-SOURCE micro-batches
    //      (r14, the q_domain_quality_gate_files seam: the old
    //      MemoryStream twin collected the whole events table to the
    //      driver), each interval's bucket slices emit when the next
    //      observation closes it, and the ADDITIVE slices fold with a
    //      plain sum to exactly the batch rows (shares q_twap's oracle
    //      verbatim). Chunks are ts TERCILES — the two boundary
    //      scalars are the only driver data — so per key the chunk
    //      index is monotone in ts and the cross-batch (ts, tie)
    //      arrival contract holds. The first two chunks fold in ONE
    //      micro-batch (the per-key in-batch (ts, tie) sort makes
    //      same-batch delivery order-safe); the third lands while the
    //      query is DOWN and a checkpoint-resumed run processes it —
    //      the flatMapGroupsWithState held-observation state survives
    //      a real restart inside the registry query itself (the
    //      q_domain_quality_gate_files shape exactly) ----
    GraftQuery("q_twap_stream",
      (s, dir) => {
        import s.implicits._
        import graft.streaming.StreamingResample
        import graft.streaming.StreamingResample.{BucketSlice, Obs}
        val root = s"/tmp/graft_twap_stream/${graft.GraftCatalog.dbFor(dir)}"
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
        val obs = t(s, dir, "events")
          .select($"event_id", $"ts", $"user_id", $"value")
        val mm = obs.agg(min($"ts").cast("long"), max($"ts").cast("long"))
          .head
        val (tsLo, tsHi) = (mm.getLong(0), mm.getLong(1))
        val (b1, b2) =
          (tsLo + (tsHi - tsLo) / 3, tsLo + 2 * (tsHi - tsLo) / 3)
        def writeChunk(i: Int): Unit = (i match {
          case 0 => obs.where($"ts".cast("long") <= b1)
          case 1 => obs.where($"ts".cast("long") > b1 &&
            $"ts".cast("long") <= b2)
          case _ => obs.where($"ts".cast("long") > b2)
        }).coalesce(1).write.mode("append").parquet(in)
        // r15: stateful stream — state-store task count sized by
        // StreamConf (state volume), not the batch shuffle width
        def run(): Unit = graft.streaming.StreamConf.withStatePartitions(s) {
          val stream = s.readStream.schema(obs.schema)
            .parquet(in).as[Obs]
          val q = StreamingResample.twapStream(stream, 86400000L).toDF()
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
        run() // checkpoint resume: per-key held state restored
        s.read.schema(org.apache.spark.sql.Encoders
            .product[BucketSlice].schema).parquet(out)
          .as[BucketSlice].groupBy($"user_id", $"bucket")
          .agg(sum($"held_millis").cast("long").as("held_millis"),
            sum($"vw").cast("long").as("vw"))
          .select($"user_id", $"bucket", $"held_millis", $"vw",
            expr("(vw - pmod(vw, greatest(held_millis, 1L)))" +
              " div greatest(held_millis, 1L)").as("twap_cents"))
      },
      Some(twapOracle)),

    // ---- OHLC resampling bars: per (event type, hour) the first /
    //      max / min / last value — time-series downsampling as one
    //      grouped aggregate; open/close are min_by/max_by over the
    //      (ts, event_id) struct (deterministic tiebreak), so no
    //      windows and full map-side partial aggregation ----
    GraftQuery("q_ohlc",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
          .agg(
            expr("min_by(value, struct(ts, event_id))").as("open"),
            max($"value").as("high"),
            min($"value").as("low"),
            expr("max_by(value, struct(ts, event_id))").as("close"),
            count(lit(1)).as("n"))
      },
      Some("""WITH b AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hour,
             |    ts, event_id, value
             |  FROM events),
             |o AS (SELECT event_type, hour, value,
             |    row_number() OVER (PARTITION BY event_type, hour
             |      ORDER BY ts, event_id) AS rf,
             |    row_number() OVER (PARTITION BY event_type, hour
             |      ORDER BY ts DESC, event_id DESC) AS rl
             |  FROM b),
             |agg AS (SELECT event_type, hour, max(value) AS high,
             |    min(value) AS low, count(*)::BIGINT AS n
             |  FROM b GROUP BY 1, 2)
             |SELECT agg.event_type, agg.hour, fo.value AS open, agg.high,
             |  agg.low, lc.value AS close, agg.n
             |FROM agg
             |JOIN o fo ON fo.event_type = agg.event_type
             |  AND fo.hour = agg.hour AND fo.rf = 1
             |JOIN o lc ON lc.event_type = agg.event_type
             |  AND lc.hour = agg.hour AND lc.rl = 1""".stripMargin)),

    // ---- co-occurrence mining (market basket): the 50 part pairs most
    //      often ordered together. The self-join key is the order, so
    //      pair fan-out is bounded by C(lines-per-order, 2) — linear in
    //      orders, never parts² ----
    GraftQuery("q_cooccurrence",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        li.as("a")
          .join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("part_a"),
            col("b.l_partkey").as("part_b"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
          .limit(50)
          .withColumn("rk",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("n_orders").desc, col("part_a"), col("part_b")))
              .cast("long"))
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             |    count(*)::BIGINT AS n_orders
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2),
             |r AS (SELECT part_a, part_b, n_orders,
             |    row_number() OVER (ORDER BY n_orders DESC, part_a, part_b)
             |      AS rk
             |  FROM p)
             |SELECT part_a, part_b, n_orders, rk::BIGINT AS rk
             |FROM r WHERE rk <= 50""".stripMargin)),

    // ---- interval max-concurrency: each event occupies
    //      [ts, ts + value seconds); the classic +1/-1 boundary sweep
    //      gives the peak number of simultaneously-open intervals per
    //      event type. Ends sort before starts at the same instant
    //      (half-open semantics); within a tie-class the prefix-value
    //      SET is order-invariant, so max(cum) is deterministic in both
    //      engines. Window partitions by event_type — no global sort. ----
    GraftQuery("q_max_concurrency",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .where($"value" > 0)
          .select($"event_type", unix_micros($"ts").as("st"),
            (unix_micros($"ts") + $"value".cast("long") * 1000000L).as("en"))
        val bounds = ev.select($"event_type", $"st".as("t"), lit(1L).as("d"))
          .union(ev.select($"event_type", $"en".as("t"), lit(-1L).as("d")))
        val w = Window.partitionBy($"event_type").orderBy($"t", $"d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        bounds.withColumn("cum", sum($"d").over(w))
          .groupBy($"event_type")
          .agg(max($"cum").as("max_concurrent"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type, epoch_us(ts)::BIGINT AS st,
             |    -- floor, not a bare cast: DuckDB's double->int cast ROUNDS
             |    -- while Spark's truncates
             |    epoch_us(ts)::BIGINT + CAST(floor(value) AS BIGINT) * 1000000 AS en
             |  FROM events WHERE value > 0),
             |b AS (SELECT event_type, st AS t, 1::BIGINT AS d FROM ev
             |      UNION ALL SELECT event_type, en, -1::BIGINT FROM ev),
             |c AS (SELECT event_type,
             |    sum(d) OVER (PARTITION BY event_type ORDER BY t, d
             |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
             |  FROM b)
             |SELECT event_type, max(cum)::BIGINT AS max_concurrent
             |FROM c GROUP BY event_type""".stripMargin)),

    // ---- 2-D skyline / Pareto frontier: orders that are maximal in
    //      (total price, order recency) — no other order is >= on both
    //      and > on one. Two-phase distributed prefix MAX over range
    //      partitions (Skyline.skyline2D); the oracle's global
    //      ORDER BY window is exactly the one-reducer shape the
    //      operator avoids. No arithmetic on the compared columns, so
    //      raw doubles/dates hash-match bit-for-bit. ----
    GraftQuery("q_skyline",
      (s, dir) => {
        val (cached, frontier) = graft.operators.Skyline.skyline2D(
          t(s, dir, "orders").select(col("o_totalprice").as("price"),
            datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day")),
          "price", "day")
        // frontier is driver-small (8 rows at sf0.01): drain so the
        // distinct-x cache is released for library callers too
        Drain.drained(s, cached, frontier)
      },
      Some("""WITH d AS (SELECT o_totalprice AS price,
             |    date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT AS day
             |  FROM orders),
             |g AS (SELECT price, max(day) AS day FROM d GROUP BY price),
             |s AS (SELECT price, day,
             |    max(day) OVER (ORDER BY price DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             |  FROM g)
             |SELECT price, day FROM s WHERE pm IS NULL OR day > pm""".stripMargin)),

    // ---- padding-aware length bucketing: batches of 16 similar-length
    //      sequences, each padding only to its own max — per-batch
    //      padded-token and pad-ppm report; rank via the two-phase
    //      range-partitioned composition (the oracle's global window is
    //      the one-reducer shape the operator avoids) ----
    GraftQuery("q_length_buckets",
      (s, dir) => graft.operators.Packing.lengthBucketBatches(
        t(s, dir, "documents"), "doc_id", "text", batchSize = 16),
      Some(s"""WITH $lengthBucketCtes
             |SELECT batch_id::BIGINT AS batch_id, count(*)::BIGINT AS n_seqs,
             |  sum(n_tokens)::BIGINT AS sum_tokens,
             |  max(n_tokens)::BIGINT AS max_tokens,
             |  (max(n_tokens) * count(*))::BIGINT AS padded_tokens,
             |  ((max(n_tokens) * count(*) - sum(n_tokens)) * 1000000
             |   // (max(n_tokens) * count(*)))::BIGINT AS pad_ppm
             |FROM bs GROUP BY 1""".stripMargin)),

    // ---- the measured padding SAVING of length bucketing vs naive
    //      arrival-order batching, one row: what the trick buys ----
    GraftQuery("q_length_bucket_gain",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val srt = graft.operators.Packing.lengthBucketBatches(
            docs, "doc_id", "text", batchSize = 16)
          .agg(count(lit(1)).cast("long").as("n_batches"),
            sum($"sum_tokens").cast("long").as("real_tokens"),
            sum($"padded_tokens").cast("long").as("padded_sorted"))
        val naive = graft.operators.Packing.lengthBucketBatches(
            docs, "doc_id", "text", batchSize = 16, byLength = false)
          .agg(sum($"padded_tokens").cast("long").as("padded_naive"))
        srt.crossJoin(naive)
          .select($"n_batches", $"real_tokens", $"padded_sorted",
            $"padded_naive",
            expr("""(padded_naive - padded_sorted) * 1000000L
                   | div padded_naive""".stripMargin).as("saving_ppm"))
      },
      Some(s"""WITH $lengthBucketCtes,
             |srt AS (SELECT count(*)::BIGINT AS n_batches,
             |    sum(st)::BIGINT AS real_tokens,
             |    sum(mx * ns)::BIGINT AS padded_sorted
             |  FROM (SELECT batch_id, sum(n_tokens) AS st,
             |          max(n_tokens) AS mx, count(*) AS ns
             |        FROM bs GROUP BY 1)),
             |rn AS (SELECT n_tokens,
             |    (row_number() OVER (ORDER BY doc_id) - 1) // 16 AS bid
             |  FROM nz),
             |nv AS (SELECT sum(mx * ns)::BIGINT AS padded_naive
             |  FROM (SELECT bid, max(n_tokens) AS mx, count(*) AS ns
             |        FROM rn GROUP BY 1))
             |SELECT n_batches, real_tokens, padded_sorted, padded_naive,
             |  ((padded_naive - padded_sorted) * 1000000
             |   // padded_naive)::BIGINT AS saving_ppm
             |FROM srt CROSS JOIN nv""".stripMargin)),

    // ---- sequence packing: global token offsets + pack ranges via a
    //      two-phase distributed prefix sum (per-partition cumsum + P
    //      collected totals broadcast back) — the oracle's single window
    //      cumsum is exactly the one-reducer shape the operator avoids. ----
    GraftQuery("q_seq_pack",
      (s, dir) => graft.operators.Packing.packOffsets(
        t(s, dir, "documents"), "doc_id", "text", packSize = 512),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT
             |      AS n_tokens
             |  FROM documents),
             |t2 AS (
             |  SELECT doc_id, n_tokens,
             |    COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             |      AS "offset"
             |  FROM tk WHERE n_tokens > 0)
             |SELECT doc_id, n_tokens, "offset",
             |  "offset" // 512 AS first_pack,
             |  ("offset" + n_tokens - 1) // 512 AS last_pack
             |FROM t2""".stripMargin)),

    // ---- fixed-size overlapping chunking (context-window prep) ----
    GraftQuery("q_doc_chunks",
      (s, dir) => {
        import s.implicits._
        // extra = ceil((len - ChunkLen) / stride) for len > ChunkLen, via
        // positive-only integer arithmetic (negative int division rounds
        // differently across engines).
        val extraExpr =
          s"""CASE WHEN length(text) > $ChunkLen
             | THEN (length(text) - ${ChunkLen - ChunkStride + 1}) DIV $ChunkStride
             | ELSE 0 END""".stripMargin
        t(s, dir, "documents")
          .select($"doc_id", $"text", expr(extraExpr).as("extra"))
          .select($"doc_id", posexplode(expr(
            s"transform(sequence(0, extra), i -> substring(text, i * $ChunkStride + 1, $ChunkLen))")))
          .toDF("doc_id", "chunk_idx", "chunk")
          .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
            ($"chunk_idx".cast("long") * ChunkStride).as("start0"),
            $"chunk", length($"chunk").cast("long").as("chunk_len"))
      },
      Some(s"""WITH d AS (SELECT doc_id, text,
             |  CASE WHEN length(text) > $ChunkLen
             |    THEN (length(text) - ${ChunkLen - ChunkStride + 1}) // $ChunkStride
             |    ELSE 0 END AS extra
             |  FROM documents),
             |u AS (SELECT doc_id, unnest(list_transform(range(extra + 1),
             |  i -> {'idx': i, 'chunk': substr(text, (i * $ChunkStride + 1)::INT, $ChunkLen)})) AS e
             |  FROM d)
             |SELECT doc_id, e.idx AS chunk_idx,
             |  e.idx * $ChunkStride AS start0, e.chunk AS chunk,
             |  length(e.chunk)::BIGINT AS chunk_len FROM u""".stripMargin)),

    // ---- the same chunker over the MULTIBYTE corpus: substring /
    //      length are code-point-indexed in both engines, so chunk
    //      boundaries land identically even through surrogate-pair
    //      emoji and combining marks (see graft.operators.Utf8Corpus) ----
    GraftQuery("q_utf8_chunks",
      (s, dir) => {
        import s.implicits._
        val extraExpr =
          s"""CASE WHEN length(text) > $ChunkLen
             | THEN (length(text) - ${ChunkLen - ChunkStride + 1}) DIV $ChunkStride
             | ELSE 0 END""".stripMargin
        graft.operators.Utf8Corpus.decorate(
            t(s, dir, "documents"), "doc_id", "text")
          .select($"doc_id", $"text", expr(extraExpr).as("extra"))
          .select($"doc_id", posexplode(expr(
            s"transform(sequence(0, extra), i -> substring(text, i * $ChunkStride + 1, $ChunkLen))")))
          .toDF("doc_id", "chunk_idx", "chunk")
          .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
            ($"chunk_idx".cast("long") * ChunkStride).as("start0"),
            $"chunk", length($"chunk").cast("long").as("chunk_len"))
      },
      Some(s"""WITH docs8 AS (${graft.operators.Utf8Corpus.oracleCte}),
             |d AS (SELECT doc_id, text,
             |  CASE WHEN length(text) > $ChunkLen
             |    THEN (length(text) - ${ChunkLen - ChunkStride + 1}) // $ChunkStride
             |    ELSE 0 END AS extra
             |  FROM docs8),
             |u AS (SELECT doc_id, unnest(list_transform(range(extra + 1),
             |  i -> {'idx': i, 'chunk': substr(text, (i * $ChunkStride + 1)::INT, $ChunkLen)})) AS e
             |  FROM d)
             |SELECT doc_id, e.idx AS chunk_idx,
             |  e.idx * $ChunkStride AS start0, e.chunk AS chunk,
             |  length(e.chunk)::BIGINT AS chunk_len FROM u""".stripMargin)),

    // ---- stratified deterministic sampling (per-language rates) ----
    GraftQuery("q_stratified_sample",
      (s, dir) => {
        import s.implicits._
        val rate = "CASE WHEN lang = 'en' THEN 10 WHEN lang = 'de' THEN 30 ELSE 50 END"
        t(s, dir, "documents")
          .where(expr(
            s"${graft.operators.Dedup.h60("concat(doc_id, ':', lang)")} % 100 < $rate"))
          .select($"doc_id", $"lang", $"source")
      },
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE ('0x' || substr(md5(doc_id || ':' || lang), 1, 15))::BIGINT
             |      % 1000000007 % 100 <
             |      CASE WHEN lang = 'en' THEN 10
             |           WHEN lang = 'de' THEN 30 ELSE 50 END""".stripMargin)),

    // ---- deterministic epoch shuffle: per epoch a reproducible
    //      pseudo-random permutation, derived from (doc_id, epoch)
    //      alone — rankWithinGroups on corpus-sized groups (each epoch
    //      IS the corpus; the oracle's PARTITION BY epoch window is the
    //      one-task funnel the operator avoids) ----
    GraftQuery("q_epoch_shuffle",
      (s, dir) => graft.operators.Packing.epochShuffle(
        t(s, dir, "documents"), "doc_id", epochs = 3),
      Some("""WITH e AS (SELECT doc_id, unnest(range(0, 3))::BIGINT AS epoch
             |  FROM documents),
             |k AS (SELECT doc_id, epoch,
             |  (('0x' || substr(md5(doc_id || ':' || epoch), 1, 15))::BIGINT
             |    % 1000000007) * 8589934592 + doc_id AS kk
             |  FROM e)
             |SELECT doc_id, epoch,
             |  row_number() OVER (PARTITION BY epoch ORDER BY kk)::BIGINT AS pos
             |FROM k""".stripMargin)),

    // ---- curriculum ordering: per-language quality-descending rank
    //      (rankWithinGroups — no per-language giant window) round-robin
    //      interleaved across languages into one global training order.
    //      The oracle IS the one-task-per-language row_number the
    //      operator avoids. ----
    GraftQuery("q_curriculum_order",
      (s, dir) => graft.operators.Packing.curriculumOrder(
        t(s, dir, "documents"), "doc_id", "text", "lang"),
      Some {
        val en = graft.operators.TextAnalysis.stopwords.toMap.apply("en")
          .map(x => s"'$x'").mkString("[", ", ", "]")
        s"""WITH d AS (SELECT doc_id, lang, text,
           |  list_filter(string_split(text, ' '), x -> x <> '') AS words
           |  FROM documents),
           |f AS (SELECT doc_id, lang,
           |  CAST(round(round(len(list_distinct(words))
           |        / CAST(len(words) AS DOUBLE), 4) * 10000) * 3
           |    + round(round(len(list_filter(words, w -> list_contains($en, w)))
           |        / CAST(len(words) AS DOUBLE), 4) * 10000) * 3
           |    + round(round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
           |        / CAST(length(text) AS DOUBLE), 4) * 10000) * 4
           |    AS BIGINT) AS quality
           |  FROM d WHERE len(words) >= 1),
           |r AS (SELECT doc_id, lang, quality,
           |  row_number() OVER (PARTITION BY lang
           |    ORDER BY quality DESC, doc_id)::BIGINT AS lang_rank
           |  FROM f),
           |l AS (SELECT lang,
           |  (row_number() OVER (ORDER BY lang) - 1)::BIGINT AS li
           |  FROM (SELECT DISTINCT lang FROM f) dl),
           |n AS (SELECT count(*)::BIGINT AS nl FROM l)
           |SELECT r.doc_id, r.lang, r.quality, r.lang_rank,
           |  ((r.lang_rank - 1) * n.nl + l.li)::BIGINT AS curriculum_pos
           |FROM r JOIN l USING (lang) CROSS JOIN n""".stripMargin
      }),

    // ---- dictionary phrase tagging (the Aho-Corasick use case):
    //      n-gram explode per DISTINCT dictionary length + equi-join;
    //      overlapping and nested phrases ("big table" inside "the big
    //      table") each count, like an automaton's hit stream ----
    GraftQuery("q_phrase_tag",
      (s, dir) => {
        import s.implicits._
        graft.operators.TextAnalysis.phraseTag(
          t(s, dir, "documents"), "doc_id", "text",
          Pipeline.TagPhrases.toDF("phrase"))
      },
      Some(s"""WITH dict(phrase) AS (VALUES ${
               Pipeline.TagPhrases.map(p => s"('$p')").mkString(", ")}),
             |u AS (SELECT doc_id,
             |  list_filter(string_split(text, ' '), x -> x <> '') AS w
             |  FROM documents),
             |dl AS (SELECT DISTINCT
             |  len(list_filter(string_split(phrase, ' '), x -> x <> ''))::INT AS n
             |  FROM dict),
             |g AS (SELECT doc_id, unnest(list_transform(
             |    range(1, len(w) - n + 2),
             |    p -> {'pos': p, 'ph': array_to_string(w[p:p+n-1], ' ')})) AS e
             |  FROM u CROSS JOIN dl WHERE len(w) >= n)
             |SELECT g.doc_id, d.phrase, count(*)::BIGINT AS n_hits,
             |  min(g.e.pos)::BIGINT AS first_pos
             |FROM g JOIN dict d ON d.phrase = g.e.ph
             |GROUP BY 1, 2""".stripMargin)),

    // ---- token-budget mixing: the COMPUTED-rate half of data mixing
    //      (q_stratified_sample is the given-rates half). Equal-share
    //      rebalance: budget = global tokens / nDomains; keep iff
    //      bucket * T_domain < budget * 65536 — integer cross-multiply,
    //      so the kept SET hash-matches, not just its size. ----
    GraftQuery("q_token_budget_mix",
      (s, dir) => graft.operators.TextAnalysis.tokenBudgetMix(
        t(s, dir, "documents"), "doc_id", "text", "lang"),
      Some("""WITH w AS (SELECT doc_id, lang AS domain,
             |  len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS toks,
             |  ('0x' || substr(md5(doc_id || ':' || lang), 1, 15))::BIGINT
             |    % 1000000007 % 65536 AS bucket
             |  FROM documents),
             |t AS MATERIALIZED (SELECT domain, count(*)::BIGINT AS n_docs,
             |  sum(toks)::BIGINT AS total_tokens FROM w GROUP BY 1),
             |g AS (SELECT sum(total_tokens)::BIGINT AS gt,
             |  count(*)::BIGINT AS nd FROM t),
             |k AS (SELECT w.domain, count(*)::BIGINT AS kept_docs,
             |  sum(w.toks)::BIGINT AS kept_tokens
             |  FROM w JOIN t USING (domain) CROSS JOIN g
             |  WHERE w.bucket * t.total_tokens < (g.gt // g.nd) * 65536
             |  GROUP BY 1)
             |SELECT t.domain, t.n_docs, t.total_tokens,
             |  g.gt // g.nd AS budget_tokens,
             |  coalesce(k.kept_docs, 0)::BIGINT AS kept_docs,
             |  coalesce(k.kept_tokens, 0)::BIGINT AS kept_tokens
             |FROM t CROSS JOIN g LEFT JOIN k USING (domain)""".stripMargin)),

    // ---- PII-style redaction: mask digit runs, count the hits ----
    GraftQuery("q_text_redact",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events").select(
          $"event_id",
          regexp_replace($"props", lit("[0-9]+"), lit("#")).as("redacted"),
          size(regexp_extract_all($"props", lit("[0-9]+"), lit(0)))
            .cast("long").as("n_hits"))
      },
      Some("""SELECT event_id,
             |regexp_replace(props, '[0-9]+', '#', 'g') AS redacted,
             |len(regexp_extract_all(props, '[0-9]+'))::BIGINT AS n_hits
             |FROM events""".stripMargin)),

    // ---- Luhn-VALIDATED card redaction: candidates are maximal
    //      digit/space/dash runs trimmed to their digits, replaced by
    //      <CARD> only when 13-19 digits pass the Luhn checksum — the
    //      precision upgrade over q_text_redact's blanket digit mask
    //      (order numbers and timestamps survive, PANs do not). The
    //      fixture injects published TEST card numbers (valid and
    //      checksum-broken variants, spaced and dashed); the oracle is
    //      CONSTRUCTIVE (expected text stated from the injected ground
    //      truth — the Luhn math itself is pinned by LuhnRedactSpec's
    //      hand cases + single-digit-mutation property) ----
    GraftQuery("q_luhn_redact",
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        import s.implicits._
        t(s, dir, "documents").select($"doc_id",
          call_function("luhn_redact", expr(luhnFixtureExpr))
            .as("redacted"))
      },
      Some(s"""SELECT doc_id,
             |  'pay ' ||
             |  CASE CAST(doc_id % 6 AS INTEGER)
             |    WHEN 0 THEN '<CARD>'
             |    WHEN 1 THEN '4111 1111 1111 1112'
             |    WHEN 2 THEN '<CARD>'
             |    WHEN 3 THEN '<CARD>'
             |    WHEN 4 THEN '1234 5678'
             |    ELSE '<CARD>' END ||
             |  ' ref ' || CAST(doc_id AS VARCHAR) || ' end' AS redacted
             |FROM documents""".stripMargin)),

    // ---- IBAN redaction (ISO 13616 mod-97, longest-valid-prefix at
    //      group boundaries): CONSTRUCTIVE oracle (expected text stated
    //      from the injected ground truth — the mod-97 math is pinned
    //      by IbanRedactSpec's hand cases + mutation property) ----
    GraftQuery("q_iban_redact",
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        import s.implicits._
        t(s, dir, "documents").select($"doc_id",
          call_function("iban_redact", expr(ibanFixtureExpr))
            .as("redacted"))
      },
      Some(s"""SELECT doc_id,
             |  'acct ' ||
             |  CASE CAST(doc_id % 8 AS INTEGER)
             |    WHEN 0 THEN '<IBAN>'
             |    WHEN 1 THEN 'DE89 3704 0044 0532 0130 01'
             |    WHEN 2 THEN 'IBAN <IBAN>'
             |    WHEN 3 THEN '<IBAN>'
             |    WHEN 4 THEN '<IBAN> EUR'
             |    WHEN 5 THEN 'de89 3704 0044 0532 0130 00'
             |    WHEN 6 THEN 'DE89 1234'
             |    ELSE '<IBAN>' END ||
             |  ' ref ' || CAST(doc_id AS VARCHAR) || ' end' AS redacted
             |FROM documents""".stripMargin)),

    // ---- per-class embedding centroids (label × dimension means) ----
    GraftQuery("q_vec_centroid",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "embeddings")
          .select($"label", posexplode($"embedding"))
          .toDF("label", "dim", "v")
          .groupBy($"label", $"dim")
          // + 0.0 normalizes IEEE -0.0 (a tiny negative mean rounds to
          // negative zero in one engine and positive zero in the other)
          .agg((round(avg($"v"), 4) + 0.0).as("mean_v"), count(lit(1)).as("n"))
          .select($"label", $"dim".cast("long").as("dim"), $"mean_v", $"n")
      },
      Some("""WITH u AS (SELECT label,
             |  unnest(list_transform(range(len(embedding)),
             |    i -> {'dim': i, 'v': embedding[i+1]})) AS e
             |  FROM embeddings)
             |SELECT label, e.dim AS dim, round(avg(e.v), 4) + 0.0 AS mean_v,
             |  count(*)::BIGINT AS n
             |FROM u GROUP BY label, e.dim""".stripMargin)),

    // ---- multi-touch attribution: every purchase distributes its
    //      cents over the user's view/click touches in a 24 h lookback
    //      under first/last/linear at once; the (none) channel carries
    //      untouched conversions so each model's column sums to total
    //      converted cents (conservation pinned in AttributionSpec) ----
    GraftQuery("q_attribution",
      (s, dir) => graft.operators.Attribution.multiTouch(
        t(s, dir, "events"), lookbackHours = 24),
      Some("""WITH p AS (
             |  SELECT event_id AS conv_id, user_id, ts AS c_ts,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |t AS (
             |  SELECT user_id, event_id AS touch_id,
             |    event_type AS channel, ts AS t_ts
             |  FROM events WHERE event_type IN ('view', 'click')),
             |tp AS (
             |  SELECT p.conv_id, p.cents, t.touch_id, t.channel, t.t_ts
             |  FROM p JOIN t USING (user_id)
             |  WHERE t.t_ts < p.c_ts
             |    AND t.t_ts >= p.c_ts - INTERVAL 24 HOURS),
             |c AS (
             |  SELECT channel, cents,
             |    count(*) OVER (PARTITION BY conv_id) AS n,
             |    row_number() OVER (PARTITION BY conv_id
             |      ORDER BY t_ts DESC, touch_id DESC) AS rd,
             |    row_number() OVER (PARTITION BY conv_id
             |      ORDER BY t_ts, touch_id) AS ra
             |  FROM tp),
             |cr AS (
             |  SELECT channel,
             |    (cents // n) + CASE WHEN rd = 1
             |      THEN cents - (cents // n) * n ELSE 0 END AS lin,
             |    CASE WHEN ra = 1 THEN cents ELSE 0 END AS fir,
             |    CASE WHEN rd = 1 THEN cents ELSE 0 END AS las
             |  FROM c),
             |un AS (
             |  SELECT '(none)' AS channel, cents AS lin, cents AS fir,
             |    cents AS las
             |  FROM p WHERE conv_id NOT IN (SELECT conv_id FROM tp)),
             |u AS (SELECT * FROM cr UNION ALL SELECT * FROM un)
             |SELECT channel, count(*)::BIGINT AS n_rows,
             |  sum(lin)::BIGINT AS linear_cents,
             |  sum(fir)::BIGINT AS first_cents,
             |  sum(las)::BIGINT AS last_cents
             |FROM u GROUP BY 1""".stripMargin))
  )
}
