package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import graft.GraftCatalog.artifactPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-mining & mixture surface (round 14, second session):
  * the lossless prefix-filtered set-similarity join (AllPairs/PPJoin)
  * and its blocking diagnostics — the third pair-generation family
  * after the df-capped inverted index and MinHash LSH — plus the
  * training-mixture operators added alongside it.
  *
  * Oracle discipline as everywhere else: exact BIGINT
  * cross-multiplications, ppm scaling, floored single divisions —
  * every query hash-matches DuckDB cell-for-cell. For [[graft
  * .operators.SetSimJoin.ppJoin]] the oracle is deliberately the
  * BRUTE-FORCE all-pairs join: the hash-match is the losslessness
  * proof of the prefix filter at the full SF, not just the spec's
  * tiny corpus.
  */
object Mining extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** Brute-force distinct-3-shingle relation shared by the oracles. */
  private val shingleCte =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), w -> w <> '') AS words
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(len(words) - 2),
      |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])))
      |      AS tok
      |  FROM d WHERE len(words) >= 3),
      |n AS (SELECT doc_id, count(*)::BIGINT AS n FROM tk GROUP BY 1)"""
      .stripMargin

  /** Shared by q_temperature_mix and q_temperature_mix_stream. */
  private val temperatureMixOracle: String =
    """WITH cnt AS (SELECT lang AS domain, count(*)::BIGINT AS n
      |  FROM documents GROUP BY 1),
      |mn AS (SELECT min(n)::BIGINT AS m FROM cnt),
      |rated AS (SELECT domain,
      |    floor(1000000.0 * sqrt(m::DOUBLE / n::DOUBLE))::BIGINT
      |      AS rate_ppm
      |  FROM cnt, mn)
      |SELECT d.doc_id AS id, d.lang AS domain, r.rate_ppm
      |FROM documents d JOIN rated r ON d.lang = r.domain
      |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':'
      |    || d.lang), 1, 15))::BIGINT
      |  % 1000000007 % 1000000 < r.rate_ppm""".stripMargin

  def queries: Seq[GraftQuery] = Seq(

    // ---- prefix-filtered set-similarity self-join (AllPairs/PPJoin):
    //      all pairs with 3-shingle Jaccard >= 0.5 via the LOSSLESS
    //      rarest-first prefix index — the oracle is the brute-force
    //      all-pairs join, so the hash-match proves no pair was lost
    //      to blocking ----
    GraftQuery("q_set_sim_ppjoin",
      (s, dir) => graft.operators.SetSimJoin.ppJoin(
        t(s, dir, "documents"), "doc_id", "text", tPpm = 500000L),
      Some(shingleCte +
        """,
          |ov AS (
          |  SELECT x.doc_id AS a, y.doc_id AS b,
          |    count(*)::BIGINT AS overlap
          |  FROM tk x JOIN tk y ON x.tok = y.tok AND x.doc_id < y.doc_id
          |  GROUP BY 1, 2)
          |SELECT ov.a, ov.b, na.n AS n_a, nb.n AS n_b, ov.overlap,
          |  (ov.overlap * 1000000
          |    // (na.n + nb.n - ov.overlap))::BIGINT AS jacc_ppm
          |FROM ov
          |JOIN n na ON ov.a = na.doc_id
          |JOIN n nb ON ov.b = nb.doc_id
          |WHERE ov.overlap * 1000000
          |  >= 500000 * (na.n + nb.n - ov.overlap)""".stripMargin)),

    // ---- prefix-filter blocking diagnostics: ONE row with the
    //      candidate count the prefix index actually probed vs the
    //      all-pairs space (candidate_ppm), plus the qualifying-pair
    //      count — the oracle replays the rank-by-(df, shingle)
    //      prefix construction itself, so the candidate COUNT (not
    //      just the final pairs) is pinned cell-for-cell ----
    GraftQuery("q_set_sim_ppjoin_stats",
      (s, dir) => graft.operators.SetSimJoin.ppJoinStats(
        t(s, dir, "documents"), "doc_id", "text", tPpm = 500000L),
      Some(shingleCte +
        """,
          |dfr AS (SELECT tok, count(*)::BIGINT AS df
          |        FROM tk GROUP BY 1),
          |pr AS (SELECT tk.doc_id, tk.tok, n.n,
          |    row_number() OVER (PARTITION BY tk.doc_id
          |                       ORDER BY dfr.df, tk.tok) AS rn
          |  FROM tk JOIN dfr USING (tok) JOIN n USING (doc_id)),
          |pf AS (SELECT doc_id, tok, n FROM pr
          |  WHERE rn <= n - ((500000 * n + 999999) // 1000000) + 1),
          |cand AS (
          |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
          |    x.n AS n_a, y.n AS n_b
          |  FROM pf x JOIN pf y ON x.tok = y.tok AND x.doc_id < y.doc_id
          |  WHERE y.n * 1000000 >= x.n * 500000
          |    AND x.n * 1000000 >= y.n * 500000),
          |ovr AS (
          |  SELECT c.a, c.b, c.n_a, c.n_b, count(*)::BIGINT AS overlap
          |  FROM cand c
          |  JOIN tk ta ON ta.doc_id = c.a
          |  JOIN tk tb ON tb.doc_id = c.b AND tb.tok = ta.tok
          |  GROUP BY 1, 2, 3, 4)
          |SELECT
          |  (SELECT count(*)::BIGINT FROM n) AS n_docs,
          |  (SELECT count(*)::BIGINT FROM cand) AS n_candidates,
          |  (SELECT count(*)::BIGINT FROM ovr
          |   WHERE overlap * 1000000
          |     >= (n_a + n_b - overlap) * 500000) AS n_qualifying,
          |  ((SELECT count(*) FROM n)
          |    * ((SELECT count(*) FROM n) - 1) // 2)::BIGINT
          |    AS brute_pairs,
          |  (CASE WHEN (SELECT count(*) FROM n) < 2 THEN 0
          |   ELSE (SELECT count(*) FROM cand) * 1000000
          |     // ((SELECT count(*) FROM n)
          |         * ((SELECT count(*) FROM n) - 1) // 2)
          |   END)::BIGINT AS candidate_ppm""".stripMargin)),

    // ---- margin-based pair mining (Artetxe & Schwenk 2019): the even
    //      and odd vec_id halves of the embeddings table play the two
    //      corpora to align; every x is paired with its best
    //      RATIO-MARGIN partner y (cosine over the endpoints' average
    //      8-NN cosine — hub-corrected), kept at margin >= 1.2, with
    //      the reciprocal-best flag. Exact micro-BIGINT margins over
    //      the 6-dp cosines; the oracle replays the full kNN + margin
    //      construction ----
    GraftQuery("q_margin_mine",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val x = emb.where(col("vec_id") % 2 === 0)
        val y = emb.where(col("vec_id") % 2 === 1)
        graft.operators.BitextMine.marginPairs(
          graft.operators.Similarity.bruteTopK(
            y, x, "vec_id", "embedding", 8),
          graft.operators.Similarity.bruteTopK(
            x, y, "vec_id", "embedding", 8),
          minMarginPpm = 1200000L)
      },
      Some {
        def fold(a: String, b: String) =
          s"list_reduce([0.0::DOUBLE] || list_transform(range(64), " +
            s"i -> $a[i+1]::DOUBLE * $b[i+1]::DOUBLE), (x,y) -> x+y)"
        s"""WITH nrm AS MATERIALIZED (
           |  SELECT vec_id, embedding,
           |    sqrt(${fold("embedding", "embedding")}) AS nm
           |  FROM embeddings),
           |x AS (SELECT * FROM nrm WHERE vec_id % 2 = 0),
           |y AS (SELECT * FROM nrm WHERE vec_id % 2 = 1),
           |s AS MATERIALIZED (
           |  SELECT x.vec_id AS a, y.vec_id AS b,
           |    round(${fold("x.embedding", "y.embedding")}
           |      / (x.nm * y.nm), 6) AS c
           |  FROM x, y),
           |fwd AS (SELECT a, b, c, row_number() OVER (
           |    PARTITION BY a ORDER BY c DESC, b) AS r FROM s),
           |bwd AS (SELECT a, b, c, row_number() OVER (
           |    PARTITION BY b ORDER BY c DESC, a) AS r FROM s),
           |fm AS (SELECT a, b, floor(c*1000000 + 0.5)::BIGINT AS cm
           |       FROM fwd WHERE r <= 8),
           |bm AS (SELECT a, b, floor(c*1000000 + 0.5)::BIGINT AS cm
           |       FROM bwd WHERE r <= 8),
           |sx AS (SELECT a, sum(cm)::BIGINT AS sx,
           |       count(*)::BIGINT AS kx FROM fm GROUP BY 1),
           |sy AS (SELECT b, sum(cm)::BIGINT AS sy,
           |       count(*)::BIGINT AS ky FROM bm GROUP BY 1),
           |mf AS (SELECT fm.a, fm.b, cm,
           |    (2*cm*kx*ky*1000000) // (sx*ky + sy*kx) AS m
           |  FROM fm JOIN sx USING (a) JOIN sy USING (b)
           |  WHERE sx*ky + sy*kx > 0),
           |mb AS (SELECT bm.a, bm.b, cm,
           |    (2*cm*kx*ky*1000000) // (sx*ky + sy*kx) AS m
           |  FROM bm JOIN sx USING (a) JOIN sy USING (b)
           |  WHERE sx*ky + sy*kx > 0),
           |fbest AS (SELECT a, b, cm, m FROM (
           |    SELECT a, b, cm, m, row_number() OVER (
           |      PARTITION BY a ORDER BY m DESC, b) AS rn FROM mf)
           |  WHERE rn = 1 AND m >= 1200000),
           |bbest AS (SELECT b, a AS bwd_best_a FROM (
           |    SELECT a, b, row_number() OVER (
           |      PARTITION BY b ORDER BY m DESC, a) AS rn FROM mb)
           |  WHERE rn = 1)
           |SELECT f.a, f.b, f.cm AS c_micro, f.m AS margin_ppm,
           |  coalesce(bb.bwd_best_a = f.a, false) AS mutual
           |FROM fbest f LEFT JOIN bbest bb ON bb.b = f.b""".stripMargin
      }),

    // ---- T5 span corruption: iid 15% token masking drawn from the
    //      md5 hash of (doc_id, pos, salt=7), runs merged into
    //      numbered-sentinel spans, input/target pair assembly with
    //      the trailing close sentinel — the denoising-objective data
    //      prep, reproducible forever under its salt ----
    GraftQuery("q_span_corrupt",
      (s, dir) => graft.operators.SpanCorrupt.corrupt(
        t(s, dir, "documents"), "doc_id", "text",
        noisePpm = 150000L, salt = 7L),
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), t -> t <> '')
             |      AS words
             |  FROM documents),
             |tk AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(len(words)),
             |      i -> {'pos': i, 'tok': words[i+1]})) AS s
             |  FROM w WHERE len(words) >= 1),
             |t2 AS (
             |  SELECT doc_id, s.pos AS pos, s.tok AS tok,
             |    (('0x' || substr(md5(doc_id::VARCHAR || ':'
             |        || s.pos::VARCHAR || ':7'), 1, 15))::BIGINT
             |      % 1000000) < 150000 AS m
             |  FROM tk),
             |sp AS (
             |  SELECT doc_id, pos, tok, m,
             |    m AND NOT coalesce(lag(m) OVER (
             |      PARTITION BY doc_id ORDER BY pos), false)
             |      AS span_start
             |  FROM t2),
             |sid AS (
             |  SELECT *, (sum(CASE WHEN span_start THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      - 1) AS span_id
             |  FROM sp),
             |pc AS (
             |  SELECT doc_id, pos, m, span_start,
             |    CASE WHEN NOT m THEN tok
             |         WHEN span_start THEN
             |           '<extra_id_' || span_id::VARCHAR || '>'
             |    END AS piece_in,
             |    CASE WHEN m AND span_start THEN
             |           '<extra_id_' || span_id::VARCHAR || '> ' || tok
             |         WHEN m THEN tok
             |    END AS piece_tgt
             |  FROM sid),
             |ag AS (
             |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
             |    sum(CASE WHEN m THEN 1 ELSE 0 END)::BIGINT AS n_masked,
             |    sum(CASE WHEN span_start THEN 1 ELSE 0 END)::BIGINT
             |      AS n_spans,
             |    coalesce(string_agg(piece_in, ' ' ORDER BY pos), '')
             |      AS i_text,
             |    coalesce(string_agg(piece_tgt, ' ' ORDER BY pos), '')
             |      AS t_text
             |  FROM pc GROUP BY 1)
             |SELECT doc_id, n_tokens, n_masked, n_spans,
             |  i_text AS input_text,
             |  CASE WHEN n_spans = 0 THEN '<extra_id_0>'
             |       ELSE t_text || ' <extra_id_' || n_spans::VARCHAR
             |         || '>'
             |  END AS target_text
             |FROM ag""".stripMargin)),

    // ---- temperature-smoothed language sampling (alpha = 1/2, the
    //      mT5/XLM-R rule): keep rate sqrt(c_min/c_lang) — halfway
    //      between no rebalance (alpha=1) and q_lang_balance's full
    //      equalization (alpha->0); the md5-uniform draw makes the
    //      kept SET hash-match, not just its size ----
    GraftQuery("q_temperature_mix",
      (s, dir) => graft.operators.Mixing.temperatureSample(
        t(s, dir, "documents"), "doc_id", "lang"),
      Some(temperatureMixOracle)),

    // ---- streamed temperature mixing: (domain, n) counts are
    //      ADDITIVE, so three id-range folds append <= |domains|-row
    //      deltas and the sqrt-rate arithmetic + md5 draw rerun
    //      read-side — sampling everything folded equals the batch
    //      operator (shares q_temperature_mix's oracle VERBATIM; a
    //      mid-run compaction must not change it) ----
    GraftQuery("q_temperature_mix_stream",
      (s, dir) => {
        val base = artifactPath(dir, "tempmix_stream")
        graft.streaming.StreamingMixing.init(s, base)
        val docs = t(s, dir, "documents")
        for ((slice, i) <- Tables.thirds(docs, "doc_id").zipWithIndex) {
          graft.streaming.StreamingMixing.fold(s, base, slice,
            "lang", batchId = i)
          if (i == 1) // mid-run compaction is answer-preserving
            graft.streaming.StreamingMixing.compact(s, base)
        }
        graft.streaming.StreamingMixing.sample(s, base, docs,
          "doc_id", "lang")
      },
      Some(temperatureMixOracle)),

    // ---- exact integer water-filling of a 70% global token budget
    //      over per-language token counts: alloc = min(c, level) with
    //      the closed-form first-feasible level — small languages keep
    //      everything, big ones are capped at the level ----
    GraftQuery("q_token_waterfill",
      (s, dir) => graft.operators.Mixing.waterfill(
        t(s, dir, "documents"), "text", "lang", budgetPpm = 700000L),
      Some("""WITH c AS (SELECT lang AS domain,
             |    sum(len(list_filter(string_split(text, ' '),
             |      w -> w <> '')))::BIGINT AS c
             |  FROM documents GROUP BY 1),
             |g AS (SELECT sum(c)::BIGINT AS gt, count(*)::BIGINT AS m,
             |    max(c)::BIGINT AS cmax FROM c),
             |r AS (SELECT domain, c, (gt * 700000) // 1000000 AS budget,
             |    m, row_number() OVER (ORDER BY c, domain) AS j,
             |    coalesce(sum(c) OVER (ORDER BY c, domain
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0)::BIGINT AS pre
             |  FROM c, g),
             |r2 AS (SELECT *, m - j + 1 AS rem FROM r),
             |r3 AS (SELECT *, (pre + c * rem) >= budget AS feasible
             |  FROM r2),
             |lv AS (SELECT coalesce(
             |    min_by((budget - pre) // rem, j) FILTER (WHERE feasible),
             |    max(c))::BIGINT AS level FROM r3)
             |SELECT domain, c AS total_tokens,
             |  least(c, level) AS alloc_tokens,
             |  budget AS budget_tokens, level
             |FROM r3, lv""".stripMargin)),

    // ---- ColBERT MaxSim late-interaction retrieval: vectors grouped
    //      into 4-vector pseudo-documents (vec_id div 4); the first
    //      four docs' vector bags are the queries; score = sum over
    //      query vectors of the best in-document cosine, exact micro
    //      BIGINTs, top-5 docs per query via the histogram-threshold
    //      top-N (never a per-query full sort) ----
    GraftQuery("q_maxsim_topk",
      (s, dir) => {
        val v = t(s, dir, "embeddings")
          .select((col("vec_id") / 4).cast("long").as("doc_id"),
            col("vec_id"), col("embedding"))
        graft.operators.Similarity.maxSimTopK(
          v, v.where(col("doc_id") < 4), "doc_id", "vec_id",
          "embedding", k = 5)
      },
      Some {
        def fold(a: String, b: String) =
          s"list_reduce([0.0::DOUBLE] || list_transform(range(64), " +
            s"i -> $a[i+1]::DOUBLE * $b[i+1]::DOUBLE), (x,y) -> x+y)"
        s"""WITH v AS (
           |  SELECT vec_id // 4 AS doc_id, vec_id, embedding,
           |    sqrt(${fold("embedding", "embedding")}) AS nm
           |  FROM embeddings),
           |q AS (SELECT doc_id AS query_id, vec_id AS qvec_id,
           |    embedding AS qe, nm AS qn FROM v WHERE doc_id < 4),
           |s AS MATERIALIZED (
           |  SELECT q.query_id, q.qvec_id, v.doc_id,
           |    floor(${fold("q.qe", "v.embedding")} / (q.qn * v.nm)
           |      * 1000000 + 0.5)::BIGINT AS cm
           |  FROM q, v WHERE v.doc_id <> q.query_id),
           |m AS (SELECT query_id, qvec_id, doc_id, max(cm) AS mx
           |      FROM s GROUP BY 1, 2, 3),
           |d AS (SELECT query_id, doc_id, sum(mx)::BIGINT
           |        AS maxsim_micro
           |      FROM m GROUP BY 1, 2),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY maxsim_micro DESC, doc_id) AS rnk FROM d)
           |SELECT query_id, rnk::BIGINT AS rank, doc_id, maxsim_micro
           |FROM r WHERE rnk <= 5""".stripMargin
      }),

    // ---- Flesch reading ease + Flesch-Kincaid grade in integer
    //      millis: milli-scaled floored ratios, decimal weights lifted
    //      to integers — the readability pair of the quality-feature
    //      family, cell-exact across engines ----
    GraftQuery("q_readability",
      (s, dir) => graft.operators.TextAnalysis.readability(
        t(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH d AS (
             |  SELECT doc_id, text,
             |    list_filter(string_split(lower(text), ' '),
             |      w -> w <> '') AS words
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, len(words)::BIGINT AS n_words,
             |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))
             |      ::BIGINT AS n_sentences,
             |    list_sum(list_transform(words, w ->
             |      greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
             |      ::BIGINT AS n_syllables
             |  FROM d WHERE len(words) >= 1),
             |g AS (
             |  SELECT *, (n_words * 1000) // n_sentences AS wps,
             |    (n_syllables * 1000) // n_words AS spw
             |  FROM f)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  (206835 - (1015 * wps) // 1000 - (84600 * spw) // 1000)
             |    ::BIGINT AS flesch_milli,
             |  ((390 * wps) // 1000 + (11800 * spw) // 1000 - 15590)
             |    ::BIGINT AS fk_grade_milli
             |FROM g""".stripMargin)),

    // ---- word2vec negative-sampling table: unigram^(3/4) smoothing
    //      via sqrt(f*sqrt(f)) (two IEEE sqrts — bit-identical across
    //      engines, unlike pow), cumulative [lo, hi) intervals over
    //      the word-ascending axis through the two-phase prefix sum —
    //      the artifact a trainer's sampler binary-searches ----
    GraftQuery("q_negative_sampling",
      (s, dir) => graft.operators.NegativeSampling.table(
        t(s, dir, "documents"), "text"),
      Some("""WITH w AS (
             |  SELECT unnest(list_filter(string_split(text, ' '),
             |    x -> x <> '')) AS word
             |  FROM documents),
             |c AS (SELECT word, count(*)::BIGINT AS f
             |      FROM w GROUP BY 1),
             |wt AS (SELECT word, f,
             |    floor(1000000 * sqrt(f * sqrt(f)))::BIGINT
             |      AS weight_micro
             |  FROM c),
             |cm AS (SELECT *,
             |    (sum(weight_micro) OVER (ORDER BY word
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |      ::BIGINT AS hi_micro,
             |    (sum(weight_micro) OVER ())::BIGINT AS total_micro
             |  FROM wt)
             |SELECT word, f, weight_micro,
             |  (hi_micro - weight_micro)::BIGINT AS lo_micro, hi_micro,
             |  (weight_micro * 1000000 // total_micro)::BIGINT
             |    AS prob_ppm
             |FROM cm""".stripMargin)),

    // ---- Matryoshka truncation recall: exact top-5 over the first
    //      64/32/16/8 embedding dims vs the full-width top-5 — the
    //      "can we serve these vectors at quarter width" audit, exact
    //      ppm recall per dim with the 64-dim row as the 1e6 anchor ----
    GraftQuery("q_matryoshka_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        graft.operators.Similarity.matryoshkaRecall(
          emb, emb.where(col("vec_id") < 8), "vec_id", "embedding",
          dims = Seq(64, 32, 16, 8), k = 5)
      },
      Some {
        def fold(a: String, b: String, d: Int) =
          s"list_reduce([0.0::DOUBLE] || list_transform(range($d), " +
            s"i -> $a[i+1]::DOUBLE * $b[i+1]::DOUBLE), (x,y) -> x+y)"
        def level(d: Int) =
          s"""s$d AS MATERIALIZED (
             |  SELECT query_id, e.vec_id,
             |    ${fold("qe", "e.embedding", d)}
             |      / (sqrt(${fold("qe", "qe", d)})
             |         * sqrt(${fold("e.embedding", "e.embedding", d)}))
             |      AS c
             |  FROM q, embeddings e WHERE e.vec_id <> query_id),
             |t$d AS MATERIALIZED (
             |  SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id, row_number() OVER (
             |      PARTITION BY query_id ORDER BY c DESC, vec_id)
             |      AS rnk
             |    FROM s$d)
             |  WHERE rnk <= 5)""".stripMargin
        s"""WITH q AS (
           |  SELECT vec_id AS query_id, embedding AS qe
           |  FROM embeddings WHERE vec_id < 8),
           |${Seq(64, 32, 16, 8).map(level).mkString(",\n")},
           |n AS (SELECT count(*)::BIGINT AS np FROM t64),
           |m AS (
           |  SELECT 64::BIGINT AS dim,
           |    (SELECT count(*) FROM t64)::BIGINT AS matches
           |  UNION ALL SELECT 32,
           |    (SELECT count(*) FROM t32 JOIN t64
           |      USING (query_id, vec_id))::BIGINT
           |  UNION ALL SELECT 16,
           |    (SELECT count(*) FROM t16 JOIN t64
           |      USING (query_id, vec_id))::BIGINT
           |  UNION ALL SELECT 8,
           |    (SELECT count(*) FROM t8 JOIN t64
           |      USING (query_id, vec_id))::BIGINT)
           |SELECT dim, matches, np AS n_pairs,
           |  (matches * 1000000 // np)::BIGINT AS recall_ppm
           |FROM m, n""".stripMargin
      }),

    // ---- greedy maximum-coverage selection: 8 rounds of "the doc
    //      with the most not-yet-covered distinct 3-shingles wins"
    //      (ties: smallest id) — submodular data selection with the
    //      diminishing-returns curve in covered_total; the oracle
    //      unrolls all 8 greedy rounds as MATERIALIZED CTEs ----
    GraftQuery("q_max_coverage",
      (s, dir) => graft.operators.Coverage.maxCoverage(
        t(s, dir, "documents"), "doc_id", "text", k = 8),
      Some(maxCoverageOracle(8))))

  /** Generated greedy max-coverage oracle: one (sel_i, rel_i) CTE pair
    * per round — argmax by (gain DESC, doc_id), covered-shingle
    * anti-filter — mirroring [[graft.operators.Coverage.maxCoverage]]
    * round for round; every CTE of the recurrence is MATERIALIZED
    * (each rel is referenced three times by the next level). */
  private[queries] def maxCoverageOracle(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH d AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), w -> w <> '')
             |      AS words
             |  FROM documents),
             |rel0 AS MATERIALIZED (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(range(len(words) - 2),
             |      i -> ('0x' || substr(md5(words[i+1] || ' ' ||
             |        words[i+2] || ' ' || words[i+3]), 1, 15))::BIGINT)))
             |      AS h
             |  FROM d WHERE len(words) >= 3)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
                |sel$i AS MATERIALIZED (
                |  SELECT doc_id, count(*)::BIGINT AS gain
                |  FROM rel${i - 1} GROUP BY 1
                |  ORDER BY gain DESC, doc_id LIMIT 1),
                |rel$i AS MATERIALIZED (
                |  SELECT r.* FROM rel${i - 1} r
                |  WHERE r.h NOT IN (SELECT h FROM rel${i - 1}
                |    WHERE doc_id = (SELECT doc_id FROM sel$i)))"""
        .stripMargin
    }
    sb ++= s""",
              |sels AS (${(1 to k).map(i =>
                s"SELECT $i::BIGINT AS round, doc_id, gain FROM sel$i")
                .mkString("\n  UNION ALL\n  ")})
              |SELECT round, doc_id, gain,
              |  (sum(gain) OVER (ORDER BY round
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              |    ::BIGINT AS covered_total
              |FROM sels""".stripMargin
    sb.toString
  }
}
