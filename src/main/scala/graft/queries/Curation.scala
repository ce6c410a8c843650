package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation & retrieval surface: rule-based quality gates
  * (Gopher/MassiveText-style), BM25 ranked retrieval, KMV/theta distinct
  * sketches with post-aggregation set algebra, and asymmetric n-gram
  * containment — the curation verbs that complement the dedup family in
  * [[Extensions]].
  *
  * Oracle determinism contract as everywhere else: md5-derived integer
  * hashes, integer-exact thresholds/scores (cross-multiplication, ppm
  * scaling, floored single divisions of exact integers), so every query
  * here hash-matches DuckDB cell-for-cell — including the KMV sketches,
  * whose k-smallest-distinct state is deterministic (no seed) and hence
  * fully SQL-expressible, unlike the seeded HLL/CMS estimators that get
  * rows-only checks.
  */
object Curation extends QueryModule {

  /** Generated N-round BPE oracle: chained per-round CTEs, each
    * MATERIALIZED (v_i and b_i are each referenced twice — re-reference
    * of an inlined DuckDB CTE is exponential). Mirrors
    * [[graft.operators.TextAnalysis.bpeMerges]] construct for construct:
    * chr(1)-delimited segmentations, overlapping pair COUNTS, greedy
    * non-overlapping `replace` application, (cnt DESC, left, right)
    * argmax tiebreak. */
  private[queries] def bpeMergesOracle(rounds: Int,
      byteLevel: Boolean = false): String =
    bpeChain(rounds, applyLast = false, byteLevel = byteLevel) + "\n" +
      (1 to rounds).map(r =>
        s"SELECT $r::BIGINT AS round, left_sym, right_sym, cnt FROM b$r")
        .mkString("\nUNION ALL\n")

  /** ENCODE oracle: the same trained chain with the FINAL merge applied,
    * then per-document token counts through the word→pieces join —
    * mirrors [[graft.operators.TextAnalysis.bpeEncode]]. `src`/`prelude`
    * retarget the chain at a derived corpus CTE (the UTF-8 variant). */
  private[queries] def bpeEncodeOracle(rounds: Int,
      src: String = "documents", prelude: String = "",
      byteLevel: Boolean = false): String =
    bpeChain(rounds, applyLast = true, src, prelude, byteLevel) + s""",
      |enc AS (SELECT word,
      |    len(string_split(substr(wstr, 2, length(wstr) - 2),
      |        chr(1) || chr(1)))::BIGINT AS n
      |  FROM v${rounds + 1})
      |SELECT doc_id, count(*)::BIGINT AS n_words,
      |  sum(n)::BIGINT AS n_bpe_tokens
      |FROM u JOIN enc USING (word) GROUP BY doc_id""".stripMargin

  /** Generated MaxMatch (WordPiece-style) oracle — mirrors
    * [[graft.operators.MaxMatch]] construct for construct: substring
    * seed vocabulary, then per round
    * [[graft.operators.MaxMatch.MaxWordChars]] greedy longest-match
    * step CTEs (steps past the
    * longest live cursor are empty no-ops; the CAP is the operator's
    * documented word-length cap, applied identically in `wf`), usage
    * counts over the step union, and the singles ∪ top-budget prune
    * ((cnt DESC, piece) total order). Every step CTE is referenced
    * twice (next step's state + the usage union) — MATERIALIZED
    * throughout, like every generated recurrence here. */
  private[queries] def maxMatchTrainOracle(rounds: Int): String =
    maxMatchChain(rounds, applyLast = false) + s"""
      |SELECT v.piece, length(v.piece)::BIGINT AS piece_len,
      |  coalesce(u.cnt, 0)::BIGINT AS cnt
      |FROM v${rounds + 1} v
      |LEFT JOIN use$rounds u ON u.piece = v.piece""".stripMargin

  /** Encode twin: one more segmentation under the final vocabulary,
    * then per-document counts through the word → piece-count join.
    * `src`/`prelude` retarget the corpus CTE (the UTF-8 variant). */
  private[queries] def maxMatchEncodeOracle(rounds: Int,
      src: String = "documents", prelude: String = ""): String =
    maxMatchChain(rounds, applyLast = true, src, prelude) + s"""
      |SELECT u.doc_id, count(*)::BIGINT AS n_words,
      |  sum(enc.n)::BIGINT AS n_tokens
      |FROM u JOIN enc USING (word) GROUP BY 1""".stripMargin

  /** Viterbi-decode twin of [[maxMatchEncodeOracle]]: the same trained
    * vocabulary joined back to its last-round usage as integer scores
    * (`sv`), then [[graft.operators.MaxMatch.MaxWordChars]] DP CTEs —
    * `b{p}` = per word the minimal packed key over the ≤
    * [[graft.operators.MaxMatch.MaxPieceLen]] predecessor frontiers —
    * and the per-document rollup off `b{length(word)}`. Every `b{p}`
    * is referenced by up to MaxPieceLen later steps plus the final
    * union: MATERIALIZED, like every generated recurrence here. */
  private[queries] def viterbiEncodeOracle(rounds: Int,
      src: String = "documents", prelude: String = ""): String = {
    val L = graft.operators.MaxMatch.MaxPieceLen
    val W = graft.operators.MaxMatch.MaxWordChars
    val T = graft.operators.MaxMatch.TokWeight
    val sb = new StringBuilder(
      maxMatchChain(rounds, applyLast = false, src, prelude))
    sb.append(s""",
      |sv AS MATERIALIZED (
      |  SELECT v.piece, coalesce(u2.cnt, 0)::BIGINT AS cnt
      |  FROM v${rounds + 1} v
      |  LEFT JOIN use$rounds u2 ON u2.piece = v.piece)""".stripMargin)
    for (p <- 1 to W) {
      val branches = (1 to math.min(L, p)).map { l =>
        val prev = if (p - l == 0) "(SELECT word, 0::BIGINT AS key FROM wf)"
                   else s"b${p - l}"
        s"""SELECT s.word, s.key + $T - sv.cnt AS key
           |    FROM $prev s JOIN sv ON sv.piece = substr(s.word, ${p - l + 1}, $l)
           |    WHERE length(s.word) >= $p""".stripMargin
      }.mkString("\n    UNION ALL ")
      sb.append(s""",
        |b$p AS MATERIALIZED (
        |  SELECT word, min(key) AS key FROM (
        |    $branches) c$p GROUP BY 1)""".stripMargin)
    }
    val bestUnion = (1 to W).map(p =>
      s"SELECT word, key FROM b$p WHERE length(word) = $p")
      .mkString(" UNION ALL ")
    sb.append(s""",
      |pw AS (SELECT word, (key + ${T - 1}) // $T AS n, key
      |  FROM ($bestUnion) bu)
      |SELECT u.doc_id, count(*)::BIGINT AS n_words,
      |  sum(pw.n)::BIGINT AS n_tokens,
      |  sum(pw.n * $T - pw.key)::BIGINT AS piece_cnt_sum
      |FROM u JOIN pw USING (word) GROUP BY 1""".stripMargin)
    sb.toString
  }

  private def maxMatchChain(rounds: Int, applyLast: Boolean,
      src: String = "documents", prelude: String = ""): String = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds) — mirrors " +
      "MaxMatch.core's guard; use0 is never generated")
    val L = graft.operators.MaxMatch.MaxPieceLen
    val W = graft.operators.MaxMatch.MaxWordChars
    val K = graft.operators.MaxMatch.VocabBudget
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${prelude}u AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
         |    w -> w <> '')) AS word FROM $src),
         |wf AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq
         |  FROM u WHERE length(word) <= $W GROUP BY 1),
         |v1 AS MATERIALIZED (
         |  SELECT DISTINCT substr(word, p, l) AS piece
         |  FROM wf
         |  CROSS JOIN (SELECT unnest(range(1, ${L + 1})) AS l) ls
         |  CROSS JOIN (SELECT unnest(range(1, ${W + 1})) AS p) ps
         |  WHERE p + l - 1 <= length(word))""".stripMargin)
    // one greedy longest-match pass under v$vi: step CTEs a{tag}_1..W
    def segSteps(tag: String, vi: Int): Unit =
      for (s <- 1 to W) {
        val state =
          if (s == 1) "(SELECT word, 0 AS pos, freq FROM wf)"
          else s"(SELECT word, pos + bl AS pos, freq FROM a${tag}_${s - 1})"
        sb.append(s""",
          |a${tag}_$s AS MATERIALIZED (
          |  SELECT c.word, c.pos, c.freq, max(c.l) AS bl
          |  FROM (SELECT s.word, s.pos, s.freq, ls.l
          |        FROM $state s
          |        CROSS JOIN (SELECT unnest(range(1, ${L + 1})) AS l) ls
          |        WHERE s.pos + ls.l <= length(s.word)) c
          |  JOIN v$vi ON v$vi.piece = substr(c.word, c.pos + 1, c.l)
          |  GROUP BY 1, 2, 3)""".stripMargin)
      }
    def stepUnion(tag: String): String =
      (1 to W).map(s => s"SELECT * FROM a${tag}_$s").mkString(" UNION ALL ")
    for (r <- 1 to rounds) {
      segSteps(r.toString, r)
      sb.append(s""",
        |use$r AS MATERIALIZED (
        |  SELECT substr(word, pos + 1, bl) AS piece,
        |    sum(freq)::BIGINT AS cnt
        |  FROM (${stepUnion(r.toString)}) t$r
        |  GROUP BY 1),
        |v${r + 1} AS MATERIALIZED (
        |  SELECT piece FROM v$r WHERE length(piece) = 1
        |  UNION ALL
        |  SELECT piece FROM (
        |    SELECT piece FROM use$r WHERE length(piece) > 1
        |    ORDER BY cnt DESC, piece LIMIT $K) q$r)""".stripMargin)
    }
    if (applyLast) {
      segSteps("e", rounds + 1)
      sb.append(s""",
        |enc AS (SELECT word, count(*)::BIGINT AS n
        |  FROM (${stepUnion("e")}) te GROUP BY 1)""".stripMargin)
    }
    sb.toString
  }

  /** The shared trained-vocabulary CTE chain: word frequencies, chr(1)-
    * delimited segmentations, `rounds` iterations of pair-count → argmax
    * → greedy re-segment. `applyLast` also applies round `rounds`' merge
    * (yielding v_{rounds+1}, the vocabulary encode uses). `prelude` (a
    * complete `name AS (...),` fragment) injects the CTE `src` reads. */
  private def bpeChain(rounds: Int, applyLast: Boolean,
      src: String = "documents", prelude: String = "",
      byteLevel: Boolean = false): String = {
    // char level: one symbol per code point; byte level: one symbol per
    // UTF-8 byte as its 2-hex-char pair (hex(encode(word)) — uppercase
    // in DuckDB and Spark alike)
    val seg =
      if (byteLevel)
        "regexp_replace(hex(encode(word)), '(..)', chr(1) || '\\1' || chr(1), 'g')"
      else
        "regexp_replace(word, '(.)', chr(1) || '\\1' || chr(1), 'g')"
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${prelude}u AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), w -> w <> ''))
        |    AS word FROM $src),
        |wf AS (SELECT word, count(*)::BIGINT AS freq FROM u GROUP BY 1),
        |v1 AS MATERIALIZED (
        |  SELECT word,
        |    $seg
        |    AS wstr, freq FROM wf)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |tok$r AS (SELECT string_split(substr(wstr, 2, length(wstr) - 2),
        |    chr(1) || chr(1)) AS t, freq FROM v$r),
        |p$r AS (SELECT (unnest(list_transform(range(1, len(t)),
        |      j -> struct_pack(l := t[j], r := t[j+1])))).l AS left_sym,
        |    (unnest(list_transform(range(1, len(t)),
        |      j -> struct_pack(l := t[j], r := t[j+1])))).r AS right_sym,
        |    freq FROM tok$r WHERE len(t) >= 2),
        |c$r AS (SELECT left_sym, right_sym, sum(freq)::BIGINT AS cnt
        |    FROM p$r GROUP BY 1, 2),
        |b$r AS MATERIALIZED (SELECT left_sym, right_sym, cnt FROM c$r
        |    ORDER BY cnt DESC, left_sym, right_sym LIMIT 1)""".stripMargin)
      if (r < rounds || applyLast) sb.append(s""",
        |v${r + 1} AS MATERIALIZED (
        |  SELECT word,
        |    CASE WHEN b.left_sym IS NULL THEN wstr
        |         ELSE replace(wstr,
        |      chr(1) || b.left_sym || chr(1) || chr(1) || b.right_sym || chr(1),
        |      chr(1) || b.left_sym || b.right_sym || chr(1)) END AS wstr,
        |    freq
        |  FROM v$r LEFT JOIN b$r b ON TRUE)""".stripMargin)
    }
    sb.toString
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** 2^60 as an exact double literal (KMV hash range; 255·2^60 is also
    * exactly representable, so the estimator arithmetic is precise). */
  private val Pow60 = "1152921504606846976.0"

  /** DuckDB spelling of the raw 60-bit md5 hash (no mod — mirrors the
    * native `shingle_hashes` kernel and the q_ngram_jaccard oracle). */
  private def dH60raw(e: String) = s"('0x'||substr(md5($e),1,15))::BIGINT"

  /** Shared by q_conformal_by_group and its streamed twin (the
    * streamed gate over everything seen must equal the batch gate
    * VERBATIM). */
  private[queries] def conformalByGroupOracle: String =
    Curation.perceptronChain(32, 4) + """,
        |pred AS MATERIALIZED (
        |  SELECT f.doc_id, f.y, sum(f.x * w.w)::BIGINT AS margin
        |  FROM feat f JOIN w4 w USING (j) GROUP BY 1, 2),
        |rws AS (SELECT p.doc_id AS id, d.lang AS grp,
        |    -p.margin AS nonconf,
        |    (p.y = 1 AND p.doc_id % 2 = 0) AS is_cal
        |  FROM pred p JOIN documents d USING (doc_id)),
        |h AS (SELECT grp, nonconf, count(*)::BIGINT AS c
        |      FROM rws WHERE is_cal GROUP BY 1, 2),
        |cw AS (SELECT grp, nonconf,
        |    sum(c) OVER (PARTITION BY grp ORDER BY nonconf
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n_cal
        |  FROM h),
        |th AS (SELECT grp,
        |    coalesce(min(CASE WHEN cum >=
        |        ((n_cal + 1) * 900000 + 999999) // 1000000
        |      THEN nonconf END), 9223372036854775807)::BIGINT AS thr,
        |    max(n_cal)::BIGINT AS n_cal
        |  FROM cw GROUP BY 1)
        |SELECT r.id, r.grp AS "group", r.nonconf, r.is_cal,
        |  coalesce(t.thr, 9223372036854775807)::BIGINT AS thr,
        |  coalesce(t.n_cal, 0)::BIGINT AS n_cal,
        |  (r.nonconf <= coalesce(t.thr, 9223372036854775807)) AS kept
        |FROM rws r LEFT JOIN th t USING (grp)""".stripMargin

  /** Generated q_eval_ci oracle: both coverage runs (the
    * q_rank_overlap CTE chain), per-query AP@10 for each (the q_map
    * chain ×2), the paired per-query delta, then the Poisson-bootstrap
    * percentile CI — weights from the md5 uniform through the
    * fixed-point [[graft.operators.Bootstrap.CdfPpm]] constants, rank
    * rule `ceil(B·tail/10⁶)` mirrored from the operator. CTEs
    * referenced more than once are MATERIALIZED (the unrolled-CTE
    * inlining gotcha). */
  private[queries] def evalCiOracle(replicates: Int,
      tailPpm: Long): String = {
    def ap(run: String, tag: String): String =
      s"""rr$tag AS (SELECT r.query, r.rnk,
         |    (CASE WHEN q.doc IS NOT NULL THEN 1 ELSE 0 END) AS rel
         |  FROM $run r LEFT JOIN qrels q
         |    ON q.query = r.query AND q.doc = r.doc),
         |cw$tag AS (SELECT query, rnk, rel,
         |    sum(rel) OVER (PARTITION BY query ORDER BY rnk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS relcum
         |  FROM rr$tag),
         |m$tag AS (SELECT query,
         |    sum(CASE WHEN rel = 1
         |        THEN relcum * (2520 // rnk) ELSE 0 END)::BIGINT
         |      AS ap_units
         |  FROM cw$tag GROUP BY 1),
         |ap$tag AS (SELECT m.query,
         |    (CASE WHEN coalesce(n.n_rel, 0) > 0
         |      THEN m.ap_units * 1000000 // (2520 * least(n.n_rel, 10))
         |      ELSE 0 END)::BIGINT AS ap
         |  FROM m$tag m LEFT JOIN nrel n USING (query))""".stripMargin
    twoCoverageRunsCte +
    s"""qrels AS MATERIALIZED (SELECT source AS query, doc_id AS doc
       |  FROM documents),
       |nrel AS MATERIALIZED (SELECT query, count(*)::BIGINT AS n_rel
       |  FROM qrels GROUP BY 1),
       |""".stripMargin +
      ap("runa", "a") + ",\n" + ap("runb", "b") + ",\n" +
    s"""dl AS MATERIALIZED (SELECT a.query, (a.ap - b.ap) AS delta
       |  FROM apa a JOIN apb b USING (query)),
       |""".stripMargin + bootstrapCiTail(replicates, tailPpm)
  }

  /** The two-coverage-runs CTE prefix (5-term `runa` vs 3-term `runb`)
    * shared by the ranker-comparison oracles (q_eval_ci, q_ndcg_ci —
    * the q_rank_overlap chain with multiply-referenced CTEs
    * MATERIALIZED). */
  private val twoCoverageRunsCte: String =
    """WITH u AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '),
      |    w -> w <> '')) AS word
      |  FROM documents),
      |tfc AS MATERIALIZED (SELECT source AS class, word,
      |        count(*)::BIGINT AS tf
      |        FROM u GROUP BY 1, 2),
      |gtf AS (SELECT word, sum(tf)::BIGINT AS gtf FROM tfc GROUP BY 1),
      |sc AS (SELECT class, tfc.word, tf,
      |    ((tf * 1000000) // gtf)::BIGINT AS conc_ppm
      |  FROM tfc JOIN gtf ON tfc.word = gtf.word WHERE tf >= 5),
      |rkd AS MATERIALIZED (SELECT class, word, row_number() OVER (
      |    PARTITION BY class
      |    ORDER BY conc_ppm DESC, tf DESC, word) AS rk FROM sc),
      |tra AS (SELECT class, word FROM rkd WHERE rk <= 5),
      |trb AS (SELECT class, word FROM rkd WHERE rk <= 3),
      |dwu AS (SELECT doc_id AS doc,
      |    unnest(list_filter(string_split(text, ' '),
      |      w -> w <> '')) AS word
      |  FROM documents),
      |dw AS MATERIALIZED (SELECT DISTINCT doc, word FROM dwu),
      |cova AS (SELECT tra.class AS query, dw.doc,
      |    count(*)::BIGINT AS coverage
      |  FROM dw JOIN tra ON dw.word = tra.word GROUP BY 1, 2),
      |runa AS (SELECT query, doc, rnk FROM (
      |    SELECT query, doc, row_number() OVER (PARTITION BY query
      |      ORDER BY coverage DESC, doc) AS rnk
      |    FROM cova) WHERE rnk <= 10),
      |covb AS (SELECT trb.class AS query, dw.doc,
      |    count(*)::BIGINT AS coverage
      |  FROM dw JOIN trb ON dw.word = trb.word GROUP BY 1, 2),
      |runb AS (SELECT query, doc, rnk FROM (
      |    SELECT query, doc, row_number() OVER (PARTITION BY query
      |      ORDER BY coverage DESC, doc) AS rnk
      |    FROM covb) WHERE rnk <= 10),
      |""".stripMargin

  /** The Poisson-bootstrap percentile-CI tail over a `dl(query,
    * delta)` CTE — shared by the ranker-comparison oracles; mirrors
    * [[graft.operators.Retrieval.metricDeltaCi]]'s rank rule. */
  private def bootstrapCiTail(replicates: Int, tailPpm: Long): String = {
    val cases = graft.operators.Bootstrap.CdfPpm.zipWithIndex
      .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
    val loRank = math.max(1L,
      (replicates.toLong * tailPpm + 999999L) / 1000000L)
    val hiRank = replicates.toLong + 1L - loRank
    s"""pt AS (SELECT count(*)::BIGINT AS n_queries,
       |    coalesce(sum(delta), 0)::BIGINT AS s FROM dl),
       |rp AS (SELECT query, delta, b FROM dl, range($replicates) t(b)),
       |uu AS (SELECT delta, b,
       |    ${dH60raw("query || ':' || CAST(b AS VARCHAR)")} % 1000000
       |      AS u
       |  FROM rp),
       |kk AS (SELECT b, delta, CASE $cases ELSE 6 END AS k FROM uu),
       |rm AS (SELECT b, sum(k * delta)::BIGINT AS ks,
       |    sum(k)::BIGINT AS kn FROM kk GROUP BY 1),
       |rs AS (SELECT b, (CASE WHEN ks < 0 THEN -1 ELSE 1 END)
       |    * (abs(ks) // greatest(kn, 1)) AS rep_mean FROM rm),
       |rk2 AS (SELECT rep_mean,
       |    row_number() OVER (ORDER BY rep_mean, b) AS r FROM rs),
       |ci AS (SELECT
       |    min(CASE WHEN r = $loRank THEN rep_mean END)::BIGINT
       |      AS ci_lo_ppm,
       |    min(CASE WHEN r = $hiRank THEN rep_mean END)::BIGINT
       |      AS ci_hi_ppm FROM rk2)
       |SELECT pt.n_queries,
       |  ((CASE WHEN pt.s < 0 THEN -1 ELSE 1 END)
       |    * (abs(pt.s) // greatest(pt.n_queries, 1)))::BIGINT
       |    AS mean_delta_ppm,
       |  ci.ci_lo_ppm, ci.ci_hi_ppm,
       |  ${replicates}::BIGINT AS replicates,
       |  (ci.ci_lo_ppm > 0 OR ci.ci_hi_ppm < 0) AS significant
       |FROM pt, ci""".stripMargin
  }

  /** Generated q_ndcg_ci oracle: the two coverage runs, the graded
    * qrels and nDCG@10 chain of q_ndcg applied to EACH run (the ideal
    * side is shared — identical qrels), the paired per-query delta,
    * then the shared bootstrap-CI tail. */
  private[queries] def ndcgCiOracle(replicates: Int,
      tailPpm: Long): String = {
    val wt = graft.operators.Retrieval.DcgDiscountMicro.take(10)
      .zipWithIndex.map { case (w, i) => s"(${i + 1}, ${w})" }
      .mkString(", ")
    def nd(run: String, tag: String): String =
      s"""dcg$tag AS (SELECT r.query,
         |    sum(coalesce(q.grade, 0) * wt.w)::BIGINT AS dcg_unit
         |  FROM $run r
         |  LEFT JOIN qr q ON q.query = r.query AND q.doc = r.doc
         |  JOIN wt ON wt.d = r.rnk GROUP BY 1),
         |nd$tag AS (SELECT rq.query,
         |    (CASE WHEN coalesce(i.idcg_unit, 0) > 0
         |      THEN coalesce(d.dcg_unit, 0) * 1000000 // i.idcg_unit
         |      ELSE 0 END)::BIGINT AS nd
         |  FROM (SELECT DISTINCT query FROM $run) rq
         |  LEFT JOIN dcg$tag d USING (query)
         |  LEFT JOIN idcg i USING (query))""".stripMargin
    twoCoverageRunsCte +
    s"""runl AS (SELECT q.query, tl.doc, tl.rnk
       |  FROM (SELECT DISTINCT source AS query FROM documents) q,
       |    (SELECT doc_id AS doc, row_number() OVER (
       |        ORDER BY n_chars ASC, doc_id) AS rnk
       |      FROM documents ORDER BY n_chars ASC, doc_id LIMIT 10) tl),
       |qr AS MATERIALIZED (SELECT tra.class AS query, dw.doc,
       |    least(count(*), 3)::BIGINT AS grade
       |  FROM dw JOIN tra ON dw.word = tra.word GROUP BY 1, 2),
       |wt(d, w) AS (VALUES $wt),
       |ideal AS (SELECT query, grade, row_number() OVER (
       |    PARTITION BY query ORDER BY grade DESC, doc) AS ir
       |  FROM qr WHERE grade > 0),
       |idcg AS MATERIALIZED (SELECT query,
       |    sum(grade * wt.w)::BIGINT AS idcg_unit
       |  FROM ideal JOIN wt ON wt.d = ideal.ir GROUP BY 1),
       |""".stripMargin +
      nd("runa", "a") + ",\n" + nd("runl", "b") + ",\n" +
    s"""dl AS MATERIALIZED (SELECT a.query, (a.nd - b.nd) AS delta
       |  FROM nda a JOIN ndb b USING (query)),
       |""".stripMargin + bootstrapCiTail(replicates, tailPpm)
  }

  /** Generated batch-perceptron oracle chain (mirrors
    * [[graft.operators.Perceptron.train]] construct for construct):
    * hashed-bag features + bias row, stopword-ratio weak labels, then
    * per round r: margins under w_{r-1}, integer weight deltas over the
    * `y*m <= 0` set, w_r. Every w_r is referenced twice (m_{r+1} and
    * w_{r+1}) — MATERIALIZED, or DuckDB's per-reference inlining goes
    * exponential. Returns the chain up to `w{rounds}`; callers append
    * the final SELECT. */
  private def perceptronChain(d: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH u AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
         |    w -> w <> '')) AS word FROM documents),
         |lab AS MATERIALIZED (SELECT doc_id,
         |    (CASE WHEN 10 * sum(CASE WHEN word IN
         |        ('the','a','of','and','is','to','in') THEN 1 ELSE 0 END)
         |      >= count(*) THEN 1 ELSE -1 END)::BIGINT AS y
         |  FROM u GROUP BY 1),
         |feat AS MATERIALIZED (
         |  SELECT b.doc_id, b.j, b.x, l.y
         |  FROM (SELECT doc_id, ${dH60raw("word")} % $d AS j,
         |          count(*)::BIGINT AS x
         |        FROM u GROUP BY 1, 2) b JOIN lab l USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id, $d::BIGINT, 1::BIGINT, y FROM lab),
         |w0 AS MATERIALIZED (
         |  SELECT range::BIGINT AS j, 0::BIGINT AS w FROM range(${d + 1}))"""
        .stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
         |m$r AS MATERIALIZED (SELECT f.doc_id, f.y, sum(f.x * w.w)::BIGINT AS m
         |  FROM feat f JOIN w${r - 1} w USING (j) GROUP BY 1, 2),
         |u$r AS MATERIALIZED (SELECT f.j, sum(f.y * f.x)::BIGINT AS dw
         |  FROM feat f JOIN m$r m ON f.doc_id = m.doc_id
         |  WHERE m.y * m.m <= 0 GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT w.j, (w.w + COALESCE(u.dw, 0))::BIGINT AS w
         |  FROM w${r - 1} w LEFT JOIN u$r u USING (j))""".stripMargin)
    }
    sb.toString
  }

  /** Full weight trajectory `(round, j, w)`. */
  private[queries] def perceptronTrajOracle(d: Int, rounds: Int): String =
    perceptronChain(d, rounds) + "\n" +
      (1 to rounds).map(r =>
        s"SELECT $r::BIGINT AS round, j, w FROM w$r").mkString("\nUNION ALL\n")

  /** Per-document predictions under the final weights. */
  private[queries] def perceptronPredictOracle(d: Int, rounds: Int): String =
    perceptronChain(d, rounds) + s"""
      |SELECT f.doc_id, f.y AS y, sum(f.x * w.w)::BIGINT AS margin,
      |  (CASE WHEN sum(f.x * w.w) > 0 THEN 1 ELSE -1 END)::BIGINT AS pred
      |FROM feat f JOIN w$rounds w USING (j) GROUP BY 1, 2""".stripMargin

  /** Isotonic-calibration oracle: the perceptron chain, final-weight
    * margins, sign-safe binning, then the PAV max-min closed form
    * (prefix sums → j≤k pairs → per-j suffix-min → per-k max) —
    * mirrors [[graft.operators.Calibration.isotonicBins]] stage for
    * stage. */
  private[queries] def isotonicOracle(d: Int, rounds: Int,
      binWidth: Long, clamp: Long): String =
    isotonicChain(d, rounds, binWidth, clamp) + """
      |SELECT o.bin, o.tot AS n, o.pos,
      |  (o.pos * 1000000000 // o.tot)::BIGINT AS praw_ppb,
      |  iso.iso_ppb
      |FROM ord o JOIN iso ON iso.k = o.i""".stripMargin

  /** The calibrated-gate finisher: every scored doc mapped through its
    * fitted bin to iso_ppb, kept iff >= minPpb — shares the whole
    * perceptron + PAV chain with [[isotonicOracle]]. */
  private[queries] def calibratedGateOracle(d: Int, rounds: Int,
      binWidth: Long, clamp: Long, minPpb: Long): String =
    isotonicChain(d, rounds, binWidth, clamp) + s""",
      |pb AS (
      |  SELECT doc_id, margin,
      |    greatest(least(
      |      (CASE WHEN margin < 0 THEN -1 ELSE 1 END)
      |        * (abs(margin) // $binWidth), ${clamp - 1}), ${-clamp})
      |      ::BIGINT AS bin
      |  FROM pred)
      |SELECT pb.doc_id AS id, pb.margin AS score, pb.bin, iso.iso_ppb,
      |  (iso.iso_ppb >= $minPpb) AS kept
      |FROM pb
      |JOIN ord o ON o.bin = pb.bin
      |JOIN iso ON iso.k = o.i""".stripMargin

  /** Classifier-scorecard oracle: the perceptron chain, the classes²
    * confusion relation, per-class P/R/F1 in floored ppm — mirrors
    * [[graft.operators.Perceptron.classifierEval]] stage for stage
    * (shared by the batch query and the streamed fold twin). */
  private[queries] def classifierEvalOracle(d: Int, rounds: Int): String =
    perceptronChain(d, rounds) + s""",
      |pred AS MATERIALIZED (
      |  SELECT f.doc_id, f.y,
      |    (CASE WHEN sum(f.x * w.w) > 0 THEN 1 ELSE -1 END)::BIGINT
      |      AS p
      |  FROM feat f JOIN w$rounds w USING (j) GROUP BY 1, 2),
      |cm AS (SELECT y, p, count(*)::BIGINT AS n FROM pred
      |       GROUP BY 1, 2),
      |cl AS (SELECT y AS class FROM cm UNION SELECT p FROM cm),
      |ag AS (SELECT cl.class,
      |    sum(CASE WHEN cm.y = cl.class AND cm.p = cl.class
      |      THEN cm.n ELSE 0 END)::BIGINT AS tp,
      |    sum(CASE WHEN cm.y <> cl.class AND cm.p = cl.class
      |      THEN cm.n ELSE 0 END)::BIGINT AS fp,
      |    sum(CASE WHEN cm.y = cl.class AND cm.p <> cl.class
      |      THEN cm.n ELSE 0 END)::BIGINT AS fn
      |  FROM cl CROSS JOIN cm GROUP BY 1),
      |m AS (SELECT class, tp, fp, fn,
      |    (tp * 1000000 // greatest(tp + fp, 1))::BIGINT
      |      AS precision_ppm,
      |    (tp * 1000000 // greatest(tp + fn, 1))::BIGINT AS recall_ppm
      |  FROM ag)
      |SELECT class, tp, fp, fn, precision_ppm, recall_ppm,
      |  (2 * precision_ppm * recall_ppm
      |   // greatest(precision_ppm + recall_ppm, 1))::BIGINT AS f1_ppm
      |FROM m""".stripMargin

  /** Split-conformal gate oracle: the perceptron chain, nonconformity
    * = -margin, calibration = even-id positives, the exact
    * `ceil((n+1)(1-α))`-th smallest calibration nonconformity as the
    * threshold (`+∞` when the rank exceeds n — the fail-open branch),
    * keep iff nonconf ≤ thr — mirrors
    * [[graft.operators.Calibration.conformalGate]] stage for stage. */
  private[queries] def conformalGateOracle(d: Int, rounds: Int,
      alphaPpm: Long): String =
    perceptronChain(d, rounds) + s""",
      |pred AS MATERIALIZED (
      |  SELECT f.doc_id, f.y, sum(f.x * w.w)::BIGINT AS margin
      |  FROM feat f JOIN w$rounds w USING (j) GROUP BY 1, 2),
      |cal AS (SELECT doc_id, -margin AS nonconf FROM pred
      |        WHERE y = 1 AND doc_id % 2 = 0),
      |rk AS (SELECT nonconf,
      |         row_number() OVER (ORDER BY nonconf, doc_id) AS rnk
      |       FROM cal),
      |n_ AS (SELECT count(*)::BIGINT AS n_cal FROM cal),
      |k_ AS (SELECT n_cal,
      |         ((n_cal + 1) * ${1000000L - alphaPpm} + 999999)
      |           // 1000000 AS k_raw
      |       FROM n_),
      |thr AS (SELECT k_.n_cal,
      |          (CASE WHEN k_.k_raw > k_.n_cal OR k_.n_cal = 0
      |            THEN 9223372036854775807
      |            ELSE (SELECT rk.nonconf FROM rk
      |                  WHERE rk.rnk = k_.k_raw) END)::BIGINT AS thr
      |        FROM k_)
      |SELECT p.doc_id AS id, -p.margin AS nonconf,
      |  (p.y = 1 AND p.doc_id % 2 = 0) AS is_cal, t.thr, t.n_cal,
      |  (-p.margin <= t.thr) AS kept
      |FROM pred p CROSS JOIN thr t""".stripMargin

  /** Calibration-residual oracle: the shared perceptron → PAV chain,
    * then the bin-weighted |praw − iso| mean, the worst gap, and the
    * per-bin ppk Brier — mirrors
    * [[graft.operators.Calibration.calibrationError]]. */
  private[queries] def calibrationErrorOracle(d: Int, rounds: Int,
      binWidth: Long, clamp: Long): String =
    isotonicChain(d, rounds, binWidth, clamp) + """
      |SELECT sum(o.tot)::BIGINT AS n,
      |  (sum(o.tot * abs((o.pos * 1000000000 // o.tot) - iso.iso_ppb))
      |   // sum(o.tot))::BIGINT AS ece_ppb,
      |  max(abs((o.pos * 1000000000 // o.tot) - iso.iso_ppb))::BIGINT
      |    AS max_gap_ppb,
      |  (sum(o.pos * (1000 - iso.iso_ppb // 1000000)
      |       * (1000 - iso.iso_ppb // 1000000)
      |     + (o.tot - o.pos) * (iso.iso_ppb // 1000000)
      |       * (iso.iso_ppb // 1000000))
      |   // sum(o.tot))::BIGINT AS brier_micro
      |FROM ord o JOIN iso ON iso.k = o.i""".stripMargin

  /** The shared perceptron → binning → PAV chain (ends at the `iso`
    * CTE; `pred`/`ord` remain addressable). */
  private def isotonicChain(d: Int, rounds: Int,
      binWidth: Long, clamp: Long): String =
    perceptronChain(d, rounds) + s""",
      |pred AS MATERIALIZED (
      |  SELECT f.doc_id, f.y, sum(f.x * w.w)::BIGINT AS margin
      |  FROM feat f JOIN w$rounds w USING (j) GROUP BY 1, 2),
      |bn AS MATERIALIZED (
      |  SELECT greatest(least(
      |      (CASE WHEN margin < 0 THEN -1 ELSE 1 END)
      |        * (abs(margin) // $binWidth), ${clamp - 1}), ${-clamp})
      |      ::BIGINT AS bin,
      |    count(*)::BIGINT AS tot,
      |    sum((y = 1)::BIGINT)::BIGINT AS pos
      |  FROM pred GROUP BY 1),
      |ord AS MATERIALIZED (
      |  SELECT bin, tot, pos,
      |    row_number() OVER (ORDER BY bin)::BIGINT AS i,
      |    (sum(tot) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS ct,
      |    (sum(pos) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cp
      |  FROM bn),
      |pairs AS MATERIALIZED (
      |  SELECT j.i AS j, k.i AS k,
      |    ((k.cp - j.cp + j.pos) * 1000000000
      |     // (k.ct - j.ct + j.tot))::BIGINT AS a
      |  FROM ord j JOIN ord k ON j.i <= k.i),
      |sm AS MATERIALIZED (
      |  SELECT j, k, min(a) OVER (PARTITION BY j ORDER BY k DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm
      |  FROM pairs),
      |iso AS (SELECT k, max(sm)::BIGINT AS iso_ppb FROM sm GROUP BY k)""".stripMargin

  /** Shared DuckDB CTE prefix: per-(lang, doc) distinct shingle hashes,
    * exploded — the input relation for the KMV sketches. */
  private def duckShingleHashes(where: String) =
    s"""WITH d AS (
       |  SELECT lang, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |  FROM documents$where),
       |sgl AS (
       |  SELECT lang, unnest(list_distinct(list_transform(range(len(words)-2),
       |    i -> ${dH60raw("words[i+1]||' '||words[i+2]||' '||words[i+3]")}))) AS h
       |  FROM d WHERE len(words) >= 3)""".stripMargin

  override val queries: Seq[GraftQuery] = Seq(

    // ---- Gopher-style hard quality gates: per-rule 0/1 attribution +
    //      conjunctive keep, all thresholds integer cross-multiplied
    //      (no float ratios anywhere) ----
    GraftQuery("q_gopher_rules",
      (s, dir) => graft.operators.TextAnalysis.gopherRules(
        t(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH u AS (
             |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             |    w -> w <> '')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
             |       FROM u GROUP BY 1, 2),
             |p AS (SELECT doc_id,
             |    sum(tf)::BIGINT AS n_words,
             |    sum(tf * length(word))::BIGINT AS n_chars,
             |    sum(CASE WHEN word IN ('the','a','of','and','is','to','in')
             |        THEN tf ELSE 0 END)::BIGINT AS n_stop,
             |    max(tf)::BIGINT AS max_tf
             |  FROM tf GROUP BY 1)
             |SELECT doc_id, n_words, n_chars, n_stop, max_tf,
             |  (n_words BETWEEN 30 AND 100000)::INT AS r_len,
             |  (3 * n_words <= n_chars AND n_chars <= 10 * n_words)::INT
             |    AS r_wordlen,
             |  (n_stop >= 2)::INT AS r_stop,
             |  (5 * max_tf <= n_words)::INT AS r_dom,
             |  ((n_words BETWEEN 30 AND 100000)
             |   AND (3 * n_words <= n_chars AND n_chars <= 10 * n_words)
             |   AND n_stop >= 2 AND 5 * max_tf <= n_words)::INT AS keep
             |FROM p""".stripMargin)),

    // ---- corpus-level distinct-n diversity per language: total vs
    //      distinct word n-grams (n = 1..3) and the distinct share in
    //      ppm — what the whole group keeps repeating, vs
    //      q_text_repetition's within-document statistic ----
    GraftQuery("q_ngram_diversity",
      (s, dir) => graft.operators.TextAnalysis.ngramDiversity(
        t(s, dir, "documents"), "text", "lang", maxN = 3),
      Some("""WITH d AS (
             |  SELECT lang, list_filter(string_split(text, ' '),
             |    w -> w <> '') AS words
             |  FROM documents),
             |g AS (
             |  SELECT lang, n, unnest(list_transform(range(len(words) - n + 1),
             |    i -> array_to_string(list_slice(words, i + 1, i + n), ' ')))
             |    AS gram
             |  FROM d CROSS JOIN (SELECT unnest(range(1, 4)) AS n) ns
             |  WHERE len(words) >= n)
             |SELECT lang, n::BIGINT AS n, count(*)::BIGINT AS n_grams,
             |  count(DISTINCT gram)::BIGINT AS distinct_grams,
             |  (count(DISTINCT gram) * 1000000 // count(*))::BIGINT
             |    AS distinct_ppm
             |FROM g GROUP BY 1, 2""".stripMargin)),

    // ---- BM25 top-10: disjunctive query = the 3 rarest corpus terms
    //      (df asc, word asc — deterministic), integer-exact scores
    //      (see operators/Retrieval.scala for the arithmetic contract) ----
    GraftQuery("q_bm25",
      (s, dir) => graft.operators.Retrieval.bm25TopKRarest(
        t(s, dir, "documents"), "doc_id", "text", nTerms = 3, k = 10)._2,
      Some("""WITH u AS (
             |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             |    w -> w <> '')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
             |       FROM u GROUP BY 1, 2),
             |dfw AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY 1),
             |terms AS (SELECT word, df FROM dfw ORDER BY df ASC, word ASC LIMIT 3),
             |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
             |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS s FROM dl),
             |tr AS (SELECT word, ((2 * (n - df) + 1) * 1000000) // (2 * df + 1)
             |         AS idf_ppm, n, s
             |       FROM terms, st),
             |sc AS (SELECT tf.doc_id,
             |    floor((tr.idf_ppm::DOUBLE * tf.tf::DOUBLE * 22.0
             |           * tr.s::DOUBLE)
             |      / (10.0 * tr.s::DOUBLE * tf.tf::DOUBLE
             |         + 3.0 * tr.s::DOUBLE
             |         + 9.0 * tr.n::DOUBLE * dl.dl::DOUBLE))::BIGINT AS score_t
             |  FROM tf JOIN tr ON tf.word = tr.word
             |  JOIN dl ON tf.doc_id = dl.doc_id),
             |agg AS (SELECT doc_id, sum(score_t)::BIGINT AS score
             |        FROM sc GROUP BY 1),
             |top AS (SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rk
             |  FROM agg)
             |SELECT doc_id, score, rk::BIGINT AS rk FROM top WHERE rk <= 10""".stripMargin)),

    // ---- exact TF-IDF cosine similarity self-join via the inverted
    //      index (vocabulary-overlap near-dups, where shingle Jaccard
    //      sees only verbatim runs): BIGINT-exact weights/dots/norms,
    //      the only floats are the final IEEE sqrt+divide ----
    GraftQuery("q_tfidf_sim",
      (s, dir) => graft.operators.Retrieval.tfidfSimJoin(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.6)._2,
      Some("""WITH u AS (
             |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             |    w -> w <> '')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
             |       FROM u GROUP BY 1, 2),
             |dfw AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY 1),
             |nn AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM tf),
             |w AS (SELECT doc_id, tf.word,
             |    (tf * (((SELECT n FROM nn) * 1000) // df))::BIGINT AS w
             |  FROM tf JOIN dfw ON tf.word = dfw.word WHERE df <= 256),
             |norms AS (SELECT doc_id, sum(w * w)::BIGINT AS nsq
             |          FROM w GROUP BY 1),
             |d AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    sum(a.w * b.w)::BIGINT AS dot
             |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |c AS (SELECT doc_a, doc_b,
             |    dot::DOUBLE / (sqrt(na.nsq::DOUBLE) * sqrt(nb.nsq::DOUBLE)) AS c
             |  FROM d JOIN norms na ON na.doc_id = doc_a
             |  JOIN norms nb ON nb.doc_id = doc_b)
             |SELECT doc_a, doc_b, round(c, 6) AS cosine
             |FROM c WHERE c >= 0.6""".stripMargin)),

    // ---- ranked-retrieval scorecard: one query per source (its top-5
    //      class terms), docs ranked by term coverage, cut to top-10 by
    //      the histogram-threshold TopN; MRR@10 / P@10 / R@10 in exact
    //      ppm against the "docs of the same source" qrels ----
    GraftQuery("q_retrieval_metrics",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val (tfc, run) = graft.operators.Retrieval.classCoverageRun(
          docs, "doc_id", "source", "text", nTerms = 5, minTf = 5L,
          k = 10)
        // scorecard is queries-sized: drain it and release the
        // operator's (cached, result) handle per its release contract
        Drain.drained(s, tfc,
          graft.operators.Retrieval.rankingMetrics(
            run,
            docs.select(col("source").as("query"),
              col("doc_id").as("doc")),
            "query", "doc", "rank", k = 10))
      },
      Some("""WITH u AS (
             |  SELECT source, unnest(list_filter(string_split(text, ' '),
             |    w -> w <> '')) AS word
             |  FROM documents),
             |tfc AS (SELECT source AS class, word, count(*)::BIGINT AS tf
             |        FROM u GROUP BY 1, 2),
             |gtf AS (SELECT word, sum(tf)::BIGINT AS gtf FROM tfc GROUP BY 1),
             |sc AS (SELECT class, tfc.word, tf,
             |    ((tf * 1000000) // gtf)::BIGINT AS conc_ppm
             |  FROM tfc JOIN gtf ON tfc.word = gtf.word WHERE tf >= 5),
             |tr AS (SELECT class, word FROM (
             |    SELECT class, word, row_number() OVER (PARTITION BY class
             |      ORDER BY conc_ppm DESC, tf DESC, word) AS rk
             |    FROM sc) WHERE rk <= 5),
             |dwu AS (SELECT doc_id AS doc,
             |    unnest(list_filter(string_split(text, ' '),
             |      w -> w <> '')) AS word
             |  FROM documents),
             |dw AS (SELECT DISTINCT doc, word FROM dwu),
             |cov AS (SELECT tr.class AS query, dw.doc,
             |    count(*)::BIGINT AS coverage
             |  FROM dw JOIN tr ON dw.word = tr.word GROUP BY 1, 2),
             |run AS (SELECT query, doc, rnk FROM (
             |    SELECT query, doc, row_number() OVER (PARTITION BY query
             |      ORDER BY coverage DESC, doc) AS rnk
             |    FROM cov) WHERE rnk <= 10),
             |qrels AS (SELECT source AS query, doc_id AS doc FROM documents),
             |nrel AS (SELECT query, count(*)::BIGINT AS n_rel
             |         FROM qrels GROUP BY 1),
             |m AS (SELECT r.query, count(*)::BIGINT AS n_ret,
             |    sum(CASE WHEN q.doc IS NOT NULL THEN 1 ELSE 0 END)
             |      ::BIGINT AS hits,
             |    min(CASE WHEN q.doc IS NOT NULL THEN r.rnk END) AS first_rel
             |  FROM run r LEFT JOIN qrels q
             |    ON q.query = r.query AND q.doc = r.doc
             |  GROUP BY 1)
             |SELECT m.query, COALESCE(n.n_rel, 0)::BIGINT AS n_rel,
             |  m.n_ret, m.hits,
             |  (m.hits * 1000000 // 10)::BIGINT AS p_at_k_ppm,
             |  (m.hits * 1000000
             |    // greatest(COALESCE(n.n_rel, 0), 1))::BIGINT AS r_at_k_ppm,
             |  COALESCE(1000000 // m.first_rel, 0)::BIGINT AS mrr_ppm
             |FROM m LEFT JOIN nrel n USING (query)""".stripMargin)),

    // ---- MAP@10: average precision per query in exact integers —
    //      every P@d term scaled by lcm(1..10)=2520 so relcum·(2520/d)
    //      is a plain BIGINT, TREC-style min(n_rel, k) denominator;
    //      completes the IR-eval suite next to P/R/MRR, nDCG, RBO ----
    GraftQuery("q_map",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val (tfc, run) = graft.operators.Retrieval.classCoverageRun(
          docs, "doc_id", "source", "text", nTerms = 5, minTf = 5L,
          k = 10)
        Drain.drained(s, tfc,
          graft.operators.Retrieval.averagePrecisionAtK(
            run,
            docs.select(col("source").as("query"),
              col("doc_id").as("doc")),
            "query", "doc", "rank", k = 10))
      },
      Some("""WITH u AS (
             |  SELECT source, unnest(list_filter(string_split(text, ' '),
             |    w -> w <> '')) AS word
             |  FROM documents),
             |tfc AS (SELECT source AS class, word, count(*)::BIGINT AS tf
             |        FROM u GROUP BY 1, 2),
             |gtf AS (SELECT word, sum(tf)::BIGINT AS gtf FROM tfc GROUP BY 1),
             |sc AS (SELECT class, tfc.word, tf,
             |    ((tf * 1000000) // gtf)::BIGINT AS conc_ppm
             |  FROM tfc JOIN gtf ON tfc.word = gtf.word WHERE tf >= 5),
             |tr AS (SELECT class, word FROM (
             |    SELECT class, word, row_number() OVER (PARTITION BY class
             |      ORDER BY conc_ppm DESC, tf DESC, word) AS rk
             |    FROM sc) WHERE rk <= 5),
             |dwu AS (SELECT doc_id AS doc,
             |    unnest(list_filter(string_split(text, ' '),
             |      w -> w <> '')) AS word
             |  FROM documents),
             |dw AS (SELECT DISTINCT doc, word FROM dwu),
             |cov AS (SELECT tr.class AS query, dw.doc,
             |    count(*)::BIGINT AS coverage
             |  FROM dw JOIN tr ON dw.word = tr.word GROUP BY 1, 2),
             |run AS (SELECT query, doc, rnk FROM (
             |    SELECT query, doc, row_number() OVER (PARTITION BY query
             |      ORDER BY coverage DESC, doc) AS rnk
             |    FROM cov) WHERE rnk <= 10),
             |qrels AS (SELECT source AS query, doc_id AS doc FROM documents),
             |nrel AS (SELECT query, count(*)::BIGINT AS n_rel
             |         FROM qrels GROUP BY 1),
             |rr AS (SELECT r.query, r.rnk,
             |    (CASE WHEN q.doc IS NOT NULL THEN 1 ELSE 0 END) AS rel
             |  FROM run r LEFT JOIN qrels q
             |    ON q.query = r.query AND q.doc = r.doc),
             |cw AS (SELECT query, rnk, rel,
             |    sum(rel) OVER (PARTITION BY query ORDER BY rnk
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS relcum
             |  FROM rr),
             |m AS (SELECT query, sum(rel)::BIGINT AS hits,
             |    sum(CASE WHEN rel = 1
             |        THEN relcum * (2520 // rnk) ELSE 0 END)::BIGINT
             |      AS ap_units
             |  FROM cw GROUP BY 1)
             |SELECT m.query, coalesce(n.n_rel, 0)::BIGINT AS n_rel,
             |  m.hits, m.ap_units,
             |  (CASE WHEN coalesce(n.n_rel, 0) > 0
             |    THEN m.ap_units * 1000000
             |         // (2520 * least(n.n_rel, 10))
             |    ELSE 0 END)::BIGINT AS ap_ppm
             |FROM m LEFT JOIN nrel n USING (query)""".stripMargin)),

    // ---- rank-biased overlap between the 5-term and 3-term coverage
    //      runs per source (query-truncation robustness of the
    //      ranking), dyadic p = 1/2 so every term is exact integer ----
    GraftQuery("q_rank_overlap",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // r14 (guide §2.4): both budgets from ONE ranked-vocab pass +
        // ONE distinct (doc, word) projection — the former two-call
        // form re-ran the corpus tf exchange and the distinct-word
        // explode for a cutoff that differs only in `rk <= n`
        val (handles, runs) = graft.operators.Retrieval.classCoverageRuns(
          docs, "doc_id", "source", "text", nTermsList = Seq(5, 3),
          minTf = 5L, k = 10)
        Drain.drainedAll(s, handles,
          graft.operators.Retrieval.rankBiasedOverlap(
            runs(0), runs(1), "query", "doc", "rank", k = 10))
      },
      Some("""WITH u AS (
             |  SELECT source, unnest(list_filter(string_split(text, ' '),
             |    w -> w <> '')) AS word
             |  FROM documents),
             |tfc AS (SELECT source AS class, word, count(*)::BIGINT AS tf
             |        FROM u GROUP BY 1, 2),
             |gtf AS (SELECT word, sum(tf)::BIGINT AS gtf FROM tfc GROUP BY 1),
             |sc AS (SELECT class, tfc.word, tf,
             |    ((tf * 1000000) // gtf)::BIGINT AS conc_ppm
             |  FROM tfc JOIN gtf ON tfc.word = gtf.word WHERE tf >= 5),
             |rkd AS (SELECT class, word, row_number() OVER (
             |    PARTITION BY class
             |    ORDER BY conc_ppm DESC, tf DESC, word) AS rk FROM sc),
             |tra AS (SELECT class, word FROM rkd WHERE rk <= 5),
             |trb AS (SELECT class, word FROM rkd WHERE rk <= 3),
             |dwu AS (SELECT doc_id AS doc,
             |    unnest(list_filter(string_split(text, ' '),
             |      w -> w <> '')) AS word
             |  FROM documents),
             |dw AS (SELECT DISTINCT doc, word FROM dwu),
             |cova AS (SELECT tra.class AS query, dw.doc,
             |    count(*)::BIGINT AS coverage
             |  FROM dw JOIN tra ON dw.word = tra.word GROUP BY 1, 2),
             |runa AS (SELECT query, doc, rnk FROM (
             |    SELECT query, doc, row_number() OVER (PARTITION BY query
             |      ORDER BY coverage DESC, doc) AS rnk
             |    FROM cova) WHERE rnk <= 10),
             |covb AS (SELECT trb.class AS query, dw.doc,
             |    count(*)::BIGINT AS coverage
             |  FROM dw JOIN trb ON dw.word = trb.word GROUP BY 1, 2),
             |runb AS (SELECT query, doc, rnk FROM (
             |    SELECT query, doc, row_number() OVER (PARTITION BY query
             |      ORDER BY coverage DESC, doc) AS rnk
             |    FROM covb) WHERE rnk <= 10),
             |j AS (SELECT a.query, greatest(a.rnk, b.rnk) AS m
             |      FROM runa a JOIN runb b USING (query, doc)),
             |c AS (SELECT query, d, count(*)::BIGINT AS ov
             |      FROM j, range(1, 11) t(d) WHERE d >= j.m
             |      GROUP BY 1, 2),
             |sm AS (SELECT query,
             |    sum(ov * 1000000000 // (d * (1 << d)))::BIGINT
             |      AS rbo_nano
             |  FROM c GROUP BY 1)
             |SELECT q.query, coalesce(sm.rbo_nano, 0)::BIGINT AS rbo_nano
             |FROM (SELECT DISTINCT query FROM runa) q
             |LEFT JOIN sm USING (query)""".stripMargin)),

    // ---- Poisson-bootstrap significance for a ranker comparison
    //      (r13 verdict task 6): per-query AP@10 delta between the
    //      5-term and 3-term coverage rankers (the q_rank_overlap
    //      pair), point mean + percentile-bootstrap CI from 64
    //      Poisson(1)-weighted replicates over QUERIES (paired
    //      resampling, the IR-eval convention) — all integer, the
    //      fixed-point CDF constants shared verbatim, so the interval
    //      itself hash-matches. `significant` is the headline: "the
    //      5-term ranker beats the 3-term one, and not by luck" ----
    GraftQuery("q_eval_ci",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val qrels = docs.select(col("source").as("query"),
          col("doc_id").as("doc"))
        // r14 (guide §2.4): both budgets from ONE ranked-vocab pass +
        // ONE distinct (doc, word) projection (the classCoverageRuns
        // restructure — see q_rank_overlap)
        val (handles, runs) = graft.operators.Retrieval.classCoverageRuns(
          docs, "doc_id", "source", "text", nTermsList = Seq(5, 3),
          minTf = 5L, k = 10)
        // same altitude as q_ndcg_ci: checkpoint the (queries x k)
        // runs and queries-sized metric relations so each coverage/AP
        // chain evaluates once, not once per downstream reference
        val apA = graft.operators.Retrieval.averagePrecisionAtK(
          runs(0).localCheckpoint(true), qrels, "query", "doc", "rank",
          k = 10).localCheckpoint(true)
        val apB = graft.operators.Retrieval.averagePrecisionAtK(
          runs(1).localCheckpoint(true), qrels, "query", "doc", "rank",
          k = 10).localCheckpoint(true)
        Drain.drainedAll(s, handles,
          graft.operators.Retrieval.metricDeltaCi(
            apA, apB, "ap_ppm", replicates = 64))
      },
      Some(Curation.evalCiOracle(replicates = 64, tailPpm = 25000L))),

    // ---- the nDCG sibling of q_eval_ci: the coverage ranker vs a
    //      QUERY-INDEPENDENT baseline (the same global top-10
    //      SHORTEST docs served to every query — a deliberately
    //      degenerate prior; the longest-first variant saturates the
    //      graded qrels exactly like the 3-term run, since any wordy
    //      doc matches 3+ class terms), paired
    //      Poisson bootstrap over graded nDCG@10 (qrels =
    //      matched-5-term-vocab count capped at 3, the q_ndcg
    //      judgment set; the ideal side is shared — identical qrels).
    //      The coverage-vs-coverage pair lives in q_eval_ci (AP@10):
    //      under GRADED nDCG both coverage runs saturate at grade-3
    //      docs and tie exactly, so this query asks the question that
    //      actually discriminates ----
    GraftQuery("q_ndcg_ci",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // r14 (guide §2.4): the coverage run, the 5-term judgment
        // vocabulary, and the distinct (doc, word) relation all come
        // from ONE classCoverageRuns pass — the former form ran
        // classCoverageRun AND a second classTerms AND a second
        // distinct-word explode (three duplicated corpus passes)
        val (handles, runs) = graft.operators.Retrieval.classCoverageRuns(
          docs, "doc_id", "source", "text", nTermsList = Seq(5),
          minTf = 5L, k = 10)
        // baseline: one TakeOrdered top-10 (distributed,
        // early-stopping), rank window over those 10 rows only
        val topShort = docs
          .orderBy(col("n_chars").asc, col("doc_id")).limit(10)
          .select(col("doc_id").as("doc"), col("n_chars"))
        val runB = docs.select(col("source").as("query")).distinct()
          .crossJoin(topShort.withColumn("rank",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("n_chars").asc, col("doc"))).cast("long")))
          .select(col("query"), col("doc"), col("rank"))
        // r15 (guide §2.4): grades come from the shared per-(query, doc)
        // match-count relation classCoverageRuns already aggregated
        // (handles(3), persisted) — the former dw⋈vocab groupBy was a
        // second corpus-sized pass computing the identical counts. The
        // four qrels references (each ndcgAtK's DCG join + ideal side)
        // re-derive from that cache.
        val qrels = handles(3).where(col("cov_5") > 0)
          .select(col("query"), col("doc"),
            least(col("cov_5"), lit(3L)).cast("long").as("grade"))
        // runs are (queries x k)-sized and the per-query metric
        // relations are queries-sized: eager-checkpoint them so the
        // coverage/ndcg chains run ONCE each (ndcgAtK references its
        // run twice; metricDeltaCi references each metric relation
        // twice - point mean + replicates)
        val runAc = runs(0).localCheckpoint(true)
        val ndA = graft.operators.Retrieval.ndcgAtK(
          runAc, qrels, "query", "doc", "rank", "grade", k = 10)
          .localCheckpoint(true)
        val ndB = graft.operators.Retrieval.ndcgAtK(
          runB.localCheckpoint(true), qrels, "query", "doc", "rank",
          "grade", k = 10).localCheckpoint(true)
        Drain.drainedAll(s, handles,
          graft.operators.Retrieval.metricDeltaCi(
            ndA, ndB, "ndcg_ppm", replicates = 64))
      },
      Some(Curation.ndcgCiOracle(replicates = 64, tailPpm = 25000L))),

    // ---- nDCG@10 with graded relevance: the 3-term coverage run
    //      judged against graded qrels from the 5-term class vocab
    //      (grade = matched-term count capped at 3); position
    //      discounts are exact-integer constants (1e12 div the
    //      micro-nat log — the Bootstrap table precedent, shared
    //      verbatim by both engines), ideal ordering via the
    //      histogram-threshold top-k, never a per-query corpus sort ----
    GraftQuery("q_ndcg",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // r14 (guide §2.4): the 3-term run, the 5-term judgment vocab
        // (rankK = 5 on the SAME deterministic ranking), and the
        // distinct (doc, word) relation from ONE classCoverageRuns
        // pass — formerly a second classTerms and a second
        // distinct-word explode ran just for qrels
        val (handles, runs) = graft.operators.Retrieval.classCoverageRuns(
          docs, "doc_id", "source", "text", nTermsList = Seq(3),
          minTf = 5L, k = 10, rankK = 5)
        // r15 (guide §2.4): grade-5 judgment counts from the shared
        // match-count relation (handles(3), cov_5 = matches against the
        // rankK=5 vocabulary) — formerly a second corpus-sized
        // dw⋈vocab groupBy computing the identical counts
        val qrels = handles(3).where(col("cov_5") > 0)
          .select(col("query"), col("doc"),
            least(col("cov_5"), lit(3L)).cast("long").as("grade"))
        Drain.drainedAll(s, handles,
          graft.operators.Retrieval.ndcgAtK(
            runs(0), qrels, "query", "doc", "rank", "grade", k = 10))
      },
      Some {
        val wt = graft.operators.Retrieval.DcgDiscountMicro.take(10)
          .zipWithIndex.map { case (w, i) => s"(${i + 1}, ${w})" }
          .mkString(", ")
        s"""WITH u AS (
           |  SELECT source, unnest(list_filter(string_split(text, ' '),
           |    w -> w <> '')) AS word
           |  FROM documents),
           |tfc AS (SELECT source AS class, word, count(*)::BIGINT AS tf
           |        FROM u GROUP BY 1, 2),
           |gtf AS (SELECT word, sum(tf)::BIGINT AS gtf FROM tfc GROUP BY 1),
           |sc AS (SELECT class, tfc.word, tf,
           |    ((tf * 1000000) // gtf)::BIGINT AS conc_ppm
           |  FROM tfc JOIN gtf ON tfc.word = gtf.word WHERE tf >= 5),
           |rkd AS (SELECT class, word, row_number() OVER (
           |    PARTITION BY class
           |    ORDER BY conc_ppm DESC, tf DESC, word) AS rk FROM sc),
           |tr3 AS (SELECT class, word FROM rkd WHERE rk <= 3),
           |tr5 AS (SELECT class, word FROM rkd WHERE rk <= 5),
           |dwu AS (SELECT doc_id AS doc,
           |    unnest(list_filter(string_split(text, ' '),
           |      w -> w <> '')) AS word
           |  FROM documents),
           |dw AS (SELECT DISTINCT doc, word FROM dwu),
           |cov3 AS (SELECT tr3.class AS query, dw.doc,
           |    count(*)::BIGINT AS coverage
           |  FROM dw JOIN tr3 ON dw.word = tr3.word GROUP BY 1, 2),
           |run AS (SELECT query, doc, rnk FROM (
           |    SELECT query, doc, row_number() OVER (PARTITION BY query
           |      ORDER BY coverage DESC, doc) AS rnk
           |    FROM cov3) WHERE rnk <= 10),
           |qr AS (SELECT tr5.class AS query, dw.doc,
           |    least(count(*), 3)::BIGINT AS grade
           |  FROM dw JOIN tr5 ON dw.word = tr5.word GROUP BY 1, 2),
           |wt(d, w) AS (VALUES $wt),
           |dcg AS (SELECT r.query,
           |    sum(coalesce(q.grade, 0) * wt.w)::BIGINT AS dcg_unit
           |  FROM run r
           |  LEFT JOIN qr q ON q.query = r.query AND q.doc = r.doc
           |  JOIN wt ON wt.d = r.rnk GROUP BY 1),
           |ideal AS (SELECT query, grade, row_number() OVER (
           |    PARTITION BY query ORDER BY grade DESC, doc) AS ir
           |  FROM qr WHERE grade > 0),
           |idcg AS (SELECT query, sum(grade * wt.w)::BIGINT AS idcg_unit
           |  FROM ideal JOIN wt ON wt.d = ideal.ir GROUP BY 1)
           |SELECT rq.query,
           |  coalesce(d.dcg_unit, 0)::BIGINT AS dcg_unit,
           |  coalesce(i.idcg_unit, 0)::BIGINT AS idcg_unit,
           |  (CASE WHEN coalesce(i.idcg_unit, 0) > 0
           |    THEN coalesce(d.dcg_unit, 0) * 1000000 // i.idcg_unit
           |    ELSE 0 END)::BIGINT AS ndcg_ppm
           |FROM (SELECT DISTINCT query FROM run) rq
           |LEFT JOIN dcg d USING (query)
           |LEFT JOIN idcg i USING (query)""".stripMargin
      }),

    // ---- characteristic vocabulary per source (c-TF-IDF reduced to
    //      exact ppm concentration): top-5 terms per source that are
    //      frequent in AND specific to it ----
    GraftQuery("q_class_terms",
      (s, dir) => graft.operators.TextAnalysis.classTerms(
        t(s, dir, "documents"), "source", "text", minTf = 5L, k = 5)._2,
      Some("""WITH u AS (
             |  SELECT source, unnest(list_filter(string_split(text, ' '),
             |    w -> w <> '')) AS word
             |  FROM documents),
             |tfc AS (SELECT source AS class, word, count(*)::BIGINT AS tf
             |        FROM u GROUP BY 1, 2),
             |gtf AS (SELECT word, sum(tf)::BIGINT AS gtf FROM tfc GROUP BY 1),
             |sc AS (SELECT class, tfc.word, tf,
             |    ((tf * 1000000) // gtf)::BIGINT AS conc_ppm
             |  FROM tfc JOIN gtf ON tfc.word = gtf.word WHERE tf >= 5),
             |r AS (SELECT class, word, tf, conc_ppm,
             |    row_number() OVER (PARTITION BY class
             |      ORDER BY conc_ppm DESC, tf DESC, word) AS rk
             |  FROM sc)
             |SELECT class, word, tf, conc_ppm, rk::BIGINT AS rk
             |FROM r WHERE rk <= 5""".stripMargin)),

    // ---- reciprocal-rank fusion of BM25 with a term-coverage ranker
    //      over the same 3-rarest-terms query: rrf = Σ 10⁶ div (60+rk),
    //      integer-exact, missing-from-top-20 contributes 0 ----
    GraftQuery("q_rrf_fusion",
      (s, dir) => graft.operators.Retrieval.rrfRarest(
        t(s, dir, "documents"), "doc_id", "text",
        nTerms = 3, perRanker = 20, k = 10)._2,
      Some("""WITH u AS (
             |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             |    w -> w <> '')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
             |       FROM u GROUP BY 1, 2),
             |dfw AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY 1),
             |terms AS (SELECT word, df FROM dfw ORDER BY df ASC, word ASC LIMIT 3),
             |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
             |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS s FROM dl),
             |tr AS (SELECT word, ((2 * (n - df) + 1) * 1000000) // (2 * df + 1)
             |         AS idf_ppm, n, s
             |       FROM terms, st),
             |sc AS (SELECT tf.doc_id,
             |    floor((tr.idf_ppm::DOUBLE * tf.tf::DOUBLE * 22.0
             |           * tr.s::DOUBLE)
             |      / (10.0 * tr.s::DOUBLE * tf.tf::DOUBLE
             |         + 3.0 * tr.s::DOUBLE
             |         + 9.0 * tr.n::DOUBLE * dl.dl::DOUBLE))::BIGINT AS score_t
             |  FROM tf JOIN tr ON tf.word = tr.word
             |  JOIN dl ON tf.doc_id = dl.doc_id),
             |agg AS (SELECT doc_id, sum(score_t)::BIGINT AS score
             |        FROM sc GROUP BY 1),
             |bmk AS (SELECT doc_id, rk FROM (
             |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
             |      AS rk FROM agg) WHERE rk <= 20),
             |cov AS (SELECT tf.doc_id, count(*)::BIGINT AS cov
             |        FROM tf JOIN terms ON tf.word = terms.word GROUP BY 1),
             |covk AS (SELECT doc_id, rk FROM (
             |    SELECT doc_id, row_number() OVER (ORDER BY cov DESC, doc_id)
             |      AS rk FROM cov) WHERE rk <= 20),
             |f AS (SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             |    (coalesce(1000000 // (60 + b.rk), 0)
             |     + coalesce(1000000 // (60 + c.rk), 0))::BIGINT AS rrf_ppm
             |  FROM bmk b FULL OUTER JOIN covk c ON b.doc_id = c.doc_id),
             |top AS (SELECT doc_id, rrf_ppm,
             |    row_number() OVER (ORDER BY rrf_ppm DESC, doc_id) AS rk
             |  FROM f)
             |SELECT doc_id, rrf_ppm, rk::BIGINT AS rk
             |FROM top WHERE rk <= 10""".stripMargin)),

    // ---- KMV/theta distinct sketch: per-language distinct-shingle
    //      estimate from a 256-value bounded sketch. Deterministic
    //      hashing makes the SKETCH ITSELF oracle-checkable — DuckDB
    //      reproduces the exact k-smallest-distinct state and estimate. ----
    GraftQuery("q_kmv_distinct",
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        graft.functions.ThetaExprs.register(s)
        t(s, dir, "documents")
          .select(col("lang"),
            explode(call_function("shingle_hashes", col("text"))).as("h"))
          .groupBy(col("lang"))
          .agg(call_function("kmv_agg", col("h"), lit(256)).as("sk"))
          .select(col("lang"),
            expr("CAST(size(sk) AS BIGINT)").as("n_kept"),
            expr(s"""round(CASE WHEN size(sk) < 256 THEN CAST(size(sk) AS DOUBLE)
                    |  ELSE 255.0 * $Pow60 / CAST(element_at(sk, 256) AS DOUBLE)
                    |  END, 2)""".stripMargin).as("est_distinct"))
      },
      Some(s"""${duckShingleHashes("")},
             |sk AS (SELECT lang, list_sort(list_distinct(list(h)))[1:256] AS sk
             |       FROM sgl GROUP BY lang)
             |SELECT lang, len(sk)::BIGINT AS n_kept,
             |  round(CASE WHEN len(sk) < 256 THEN len(sk)::DOUBLE
             |    ELSE 255.0 * $Pow60 / (sk[256]::DOUBLE) END, 2) AS est_distinct
             |FROM sk""".stripMargin)),

    // ---- KMV set algebra: distinct-shingle overlap of two languages
    //      from their 256-value sketches alone (no data re-scan) —
    //      union via k-smallest-of-merged, intersection via the theta
    //      membership identity. The estimates are exact-arithmetic
    //      reproductions across engines. ----
    GraftQuery("q_kmv_overlap",
      (s, dir) => {
        graft.functions.VectorFunctions.register(s)
        graft.functions.ThetaExprs.register(s)
        val sk = t(s, dir, "documents")
          .where(col("lang").isin("en", "de"))
          .select(col("lang"),
            explode(call_function("shingle_hashes", col("text"))).as("h"))
          .groupBy(col("lang"))
          .agg(call_function("kmv_agg", col("h"), lit(256)).as("sk"))
        // single-row conditional agg, NOT filter + cross join: a corpus
        // missing one of the languages must still emit one row (of
        // NULLs), matching the oracle's scalar subqueries — the
        // filter+join spelling would emit zero rows there
        sk.agg(
            max(when(col("lang") === "en", col("sk"))).as("a"),
            max(when(col("lang") === "de", col("sk"))).as("b"))
          .withColumn("uk", expr("slice(array_sort(array_union(a, b)), 1, 256)"))
          .select(
            expr("CAST(size(uk) AS BIGINT)").as("n_union_kept"),
            expr("""CAST(size(filter(uk, x ->
                   |  array_contains(a, x) AND array_contains(b, x))) AS BIGINT)"""
              .stripMargin).as("n_common"),
            expr(s"""CASE WHEN size(uk) < 256 THEN CAST(size(uk) AS DOUBLE)
                    |  ELSE 255.0 * $Pow60 / CAST(element_at(uk, 256) AS DOUBLE)
                    |  END""".stripMargin).as("raw_u"))
          .select(col("n_union_kept"), col("n_common"),
            round(col("raw_u"), 2).as("est_union"),
            round(col("n_common").cast("double")
              / col("n_union_kept").cast("double") * col("raw_u"), 2)
              .as("est_intersect"))
      },
      Some(s"""${duckShingleHashes(" WHERE lang IN ('en','de')")},
             |sk AS (SELECT lang, list_sort(list_distinct(list(h)))[1:256] AS sk
             |       FROM sgl GROUP BY lang),
             |ab AS (SELECT (SELECT sk FROM sk WHERE lang = 'en') AS a,
             |              (SELECT sk FROM sk WHERE lang = 'de') AS b),
             |u AS (SELECT a, b, list_sort(list_distinct(a || b))[1:256] AS uk
             |      FROM ab),
             |m AS (SELECT
             |    len(uk)::BIGINT AS n_union_kept,
             |    len(list_filter(uk, x -> list_contains(a, x)
             |        AND list_contains(b, x)))::BIGINT AS n_common,
             |    CASE WHEN len(uk) < 256 THEN len(uk)::DOUBLE
             |      ELSE 255.0 * $Pow60 / (uk[256]::DOUBLE) END AS raw_u
             |  FROM u)
             |SELECT n_union_kept, n_common, round(raw_u, 2) AS est_union,
             |  round(CAST(n_common AS DOUBLE) / CAST(n_union_kept AS DOUBLE)
             |        * raw_u, 2) AS est_intersect
             |FROM m""".stripMargin)),

    // ---- DSIR-style importance weights: score raw docs by unigram
    //      resemblance to the English subset (exact ppm likelihood
    //      ratios, BIGINT scores — see Retrieval.importanceWeights) ----
    GraftQuery("q_dsir_weights",
      (s, dir) => graft.operators.Retrieval.importanceWeights(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")._2,
      Some("""WITH u AS (
             |  SELECT doc_id, (lang = 'en')::INT AS is_t,
             |    unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, is_t, word, count(*)::BIGINT AS tf
             |       FROM u GROUP BY 1, 2, 3),
             |ws AS (SELECT word, sum(tf)::BIGINT AS cnt_r,
             |         sum(tf * is_t)::BIGINT AS cnt_t
             |       FROM tf GROUP BY 1),
             |tot AS (SELECT sum(cnt_r)::BIGINT AS tot_r,
             |          sum(cnt_t)::BIGINT AS tot_t FROM ws),
             |rt AS (SELECT word,
             |         (cnt_t * tot_r * 1000000) // (cnt_r * tot_t) AS ratio_ppm
             |       FROM ws, tot),
             |o AS (SELECT tf.doc_id, sum(tf)::BIGINT AS n_words,
             |        sum(tf * ratio_ppm)::BIGINT AS weight
             |      FROM tf JOIN rt USING (word) GROUP BY 1)
             |SELECT doc_id, n_words, weight, weight // n_words AS w_per_tok
             |FROM o""".stripMargin)),

    // ---- DSIR importance SAMPLING: thin the corpus with keep
    //      probability proportional to the min-max-normalized importance
    //      weight (the "sample raw data toward the target distribution"
    //      step that consumes q_dsir_weights' scores). Deterministic
    //      hash predicate (salted ':dsir'), exact integer keep rates —
    //      reproducible across engines AND cluster sizes, never rand().
    //      The min/max relation is one broadcast row; the corpus pass is
    //      one filter. ----
    GraftQuery("q_dsir_sample",
      (s, dir) => {
        val w = graft.operators.Retrieval.importanceWeights(
          t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")._2
        val mm = w.agg(min(col("w_per_tok")).as("lo"), max(col("w_per_tok")).as("hi"))
        // +1 in the numerator: the minimum-weight document keeps a small
        // NONZERO probability (proportional sampling, not a hard floor
        // cutoff), and a degenerate corpus with all-equal weights maps
        // to keep_ppm = 1e6 (keep everything) instead of an empty sample
        w.join(mm)
          .withColumn("keep_ppm",
            expr("((w_per_tok - lo + 1) * 1000000L) DIV (hi - lo + 1)"))
          .where(expr(
            s"${graft.operators.Dedup.h60("concat(doc_id, ':dsir')")} % 1000000 < keep_ppm"))
          .select(col("doc_id"), col("w_per_tok"), col("keep_ppm"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id, (lang = 'en')::INT AS is_t,
             |    unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, is_t, word, count(*)::BIGINT AS tf
             |       FROM u GROUP BY 1, 2, 3),
             |ws AS (SELECT word, sum(tf)::BIGINT AS cnt_r,
             |         sum(tf * is_t)::BIGINT AS cnt_t
             |       FROM tf GROUP BY 1),
             |tot AS (SELECT sum(cnt_r)::BIGINT AS tot_r,
             |          sum(cnt_t)::BIGINT AS tot_t FROM ws),
             |rt AS (SELECT word,
             |         (cnt_t * tot_r * 1000000) // (cnt_r * tot_t) AS ratio_ppm
             |       FROM ws, tot),
             |o AS (SELECT tf.doc_id, sum(tf)::BIGINT AS n_words,
             |        sum(tf * ratio_ppm)::BIGINT AS weight
             |      FROM tf JOIN rt USING (word) GROUP BY 1),
             |o2 AS (SELECT doc_id, weight // n_words AS w_per_tok FROM o),
             |mm AS (SELECT min(w_per_tok) AS lo, max(w_per_tok) AS hi FROM o2),
             |k AS (SELECT doc_id, w_per_tok,
             |        ((w_per_tok - lo + 1) * 1000000) // (hi - lo + 1) AS keep_ppm
             |      FROM o2, mm)
             |SELECT doc_id, w_per_tok, keep_ppm FROM k
             |WHERE ('0x'||substr(md5(doc_id || ':dsir'),1,15))::BIGINT
             |      % 1000000007 % 1000000 < keep_ppm""".stripMargin)),

    // ---- token-budget selection: give every language the SAME token
    //      budget (the smallest language's total) and fill it with as
    //      many documents as fit (shortest-first greedy = max doc count
    //      under the cap; deterministic tiebreak). The equal-budget
    //      mixture is the "don't let English drown the mix" step
    //      downstream of q_lang_balance's rate-based thinning. The
    //      per-lang cumulative window keeps the oracle exact; a 100 TB
    //      deployment swaps it for the histogram-threshold shape of
    //      TextAnalysis.adaptiveQualityFilter (no per-language sort). ----
    GraftQuery("q_token_budget",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            expr(s"size(${graft.operators.Dedup.wordsExpr("text")})")
              .cast("long").as("n_tokens"))
        val budget = toks.groupBy(col("lang"))
          .agg(sum(col("n_tokens")).as("t"))
          .agg(min(col("t")).as("budget"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n_tokens"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        toks.join(budget)
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .where(col("cum") <= col("budget"))
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang,
             |    len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT
             |      AS n_tokens
             |  FROM documents),
             |b AS (SELECT min(t) AS budget FROM
             |  (SELECT lang, sum(n_tokens) AS t FROM toks GROUP BY lang)),
             |c AS (SELECT doc_id, lang, n_tokens,
             |    sum(n_tokens) OVER (PARTITION BY lang
             |      ORDER BY n_tokens, doc_id
             |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
             |  FROM toks)
             |SELECT doc_id, lang, n_tokens, cum FROM c, b
             |WHERE cum <= budget""".stripMargin)),

    // ---- BPE merge induction, iteration 1: the top-20 adjacent char
    //      pairs by corpus frequency (pair counts weighted by the word-
    //      frequency table — the tokenizer-training primitive) ----
    GraftQuery("q_bpe_merges",
      (s, dir) => {
        val counts = graft.operators.TextAnalysis.bpePairCounts(
          t(s, dir, "documents"), "doc_id", "text")
        counts.orderBy(col("cnt").desc, col("pair")).limit(20)
          .withColumn("rk",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("pair"))).cast("long"))
      },
      Some("""WITH u AS (
             |  SELECT unnest(list_filter(string_split(text, ' '), w -> w <> ''))
             |    AS word
             |  FROM documents),
             |wf AS (SELECT word, count(*)::BIGINT AS freq FROM u GROUP BY 1),
             |p AS (SELECT freq,
             |    unnest(list_transform(range(1, length(word)),
             |      i -> substr(word, i, 2))) AS pair
             |  FROM wf WHERE length(word) >= 2),
             |c AS (SELECT pair, sum(freq)::BIGINT AS cnt FROM p GROUP BY 1),
             |top AS (SELECT pair, cnt,
             |    row_number() OVER (ORDER BY cnt DESC, pair) AS rk
             |  FROM c)
             |SELECT pair, cnt, rk::BIGINT AS rk FROM top WHERE rk <= 20""".stripMargin)),

    // ---- BPE merge induction, N FULL ROUNDS (r8 verdict #8): count →
    //      argmax merge → re-segment → repeat. Segmentations ride as
    //      \x01-delimited strings so the greedy non-overlapping merge is
    //      the SQL replace function in both engines; the oracle unrolls
    //      the six rounds as materialized CTE chains. Any slip — pair
    //      counting, the (cnt, left, right) tiebreak, or greedy
    //      re-segmentation order — diverges by round 2. ----
    GraftQuery("q_bpe_merges_n",
      (s, dir) => graft.operators.TextAnalysis.bpeMerges(
        t(s, dir, "documents"), "doc_id", "text", rounds = 6),
      Some(Curation.bpeMergesOracle(6))),

    // ---- BPE ENCODE: apply the 6-merge tokenizer trained above to the
    //      corpus itself — per-document token counts under the learned
    //      segmentation, the train→apply round trip every tokenizer
    //      pipeline runs. Encode is one word→pieces join, never a
    //      per-document re-segmentation. ----
    GraftQuery("q_bpe_encode",
      (s, dir) => graft.operators.TextAnalysis.bpeEncode(
        t(s, dir, "documents"), "doc_id", "text", rounds = 6),
      Some(Curation.bpeEncodeOracle(6))),

    // ---- the BPE train→apply round trip over the MULTIBYTE corpus:
    //      the char-split regexp ('(.)') and the chr(1)-delimited greedy
    //      merge must both operate on CODE POINTS, or surrogate-pair
    //      emoji and combining marks shear mid-character and every count
    //      diverges (see graft.operators.Utf8Corpus) ----
    GraftQuery("q_utf8_bpe_encode",
      (s, dir) => graft.operators.TextAnalysis.bpeEncode(
        graft.operators.Utf8Corpus.decorate(
          t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", "text", rounds = 6),
      Some(Curation.bpeEncodeOracle(6, src = "docs8",
        prelude = s"docs8 AS (${graft.operators.Utf8Corpus.oracleCte}),\n"))),

    // ---- BYTE-level BPE (the GPT-2 family's base alphabet): symbols
    //      are UTF-8 bytes carried as 2-hex-char pairs, so the trained
    //      vocabulary is complete over ANY text with no unknown-token
    //      escape — the reason multilingual tokenizers train at byte
    //      level. Same declarative loop, same generated oracle chain,
    //      different initial segmentation. ----
    GraftQuery("q_bpe_bytes_merges_n",
      (s, dir) => graft.operators.TextAnalysis.bpeMergesBytes(
        t(s, dir, "documents"), "doc_id", "text", rounds = 6),
      Some(Curation.bpeMergesOracle(6, byteLevel = true))),

    GraftQuery("q_bpe_bytes_encode",
      (s, dir) => graft.operators.TextAnalysis.bpeEncodeBytes(
        t(s, dir, "documents"), "doc_id", "text", rounds = 6),
      Some(Curation.bpeEncodeOracle(6, byteLevel = true))),

    // ---- byte-level BPE over the MULTIBYTE corpus — where byte level
    //      actually differs from char level: a CJK char or emoji starts
    //      life as 3-4 byte symbols and merges must re-join it; both
    //      engines segment on hex(encode(word)) so a byte-order or
    //      splitting slip diverges by round 2 ----
    GraftQuery("q_utf8_bpe_bytes_encode",
      (s, dir) => graft.operators.TextAnalysis.bpeEncodeBytes(
        graft.operators.Utf8Corpus.decorate(
          t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", "text", rounds = 6),
      Some(Curation.bpeEncodeOracle(6, src = "docs8",
        prelude = s"docs8 AS (${graft.operators.Utf8Corpus.oracleCte}),\n",
        byteLevel = true))),

    // ---- MaxMatch (WordPiece-style) tokenizer: greedy longest-match
    //      segmentation (the WordPiece inference rule) trained by a
    //      vocabulary-budget prune loop. All-integer trajectory, so the
    //      trained vocabulary AND the encode counts hash-match the
    //      step-unrolled CTE oracle; any slip in the longest-match
    //      tiebreak, the prune ordering, or code-point indexing
    //      diverges by round 2. ----
    GraftQuery("q_maxmatch_train",
      (s, dir) => graft.operators.MaxMatch.train(
        t(s, dir, "documents"), "doc_id", "text", rounds = 2),
      Some(Curation.maxMatchTrainOracle(2))),

    GraftQuery("q_maxmatch_encode",
      (s, dir) => graft.operators.MaxMatch.encode(
        t(s, dir, "documents"), "doc_id", "text", rounds = 2),
      Some(Curation.maxMatchEncodeOracle(2))),

    // ---- Viterbi decode under the SAME trained vocabulary: fewest
    //      pieces, piece-usage tie-break, both packed into one integer
    //      key — the unigram-LM inference rule next to q_maxmatch_encode's
    //      greedy one. n_tokens here is <= greedy's for every word (the
    //      spec asserts it); the oracle unrolls the DP as one CTE per
    //      cursor position. ----
    GraftQuery("q_viterbi_encode",
      (s, dir) => graft.operators.MaxMatch.viterbiEncode(
        t(s, dir, "documents"), "doc_id", "text", rounds = 2),
      Some(Curation.viterbiEncodeOracle(2))),

    // ---- MaxMatch over the MULTIBYTE corpus: substr/length are CODE
    //      POINTS in both engines, so surrogate-pair emoji segment as
    //      one piece and CJK words join the prune race — byte-indexed
    //      slips shear mid-character and diverge immediately ----
    GraftQuery("q_utf8_maxmatch_encode",
      (s, dir) => graft.operators.MaxMatch.encode(
        graft.operators.Utf8Corpus.decorate(
          t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", "text", rounds = 2),
      Some(Curation.maxMatchEncodeOracle(2, src = "docs8",
        prelude = s"docs8 AS (${graft.operators.Utf8Corpus.oracleCte}),\n"))),

    // ---- KMV rollup: per-nation distinct-customer sketches UNION-merged
    //      up to region level — the OLAP point of a mergeable sketch:
    //      the region row is computed from the 5 stored nation sketches,
    //      never re-scanning orders, and the oracle HASH-MATCHES it
    //      against a from-scratch region sketch (the semilattice
    //      property, verified in SQL, at every scale) ----
    GraftQuery("q_kmv_rollup",
      (s, dir) => {
        graft.functions.ThetaExprs.register(s)
        val byNation = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("nationkey"),
            expr(graft.operators.Dedup.h60raw("concat(o_custkey, ':kr')")).as("h"))
          .groupBy(col("nationkey"))
          .agg(call_function("kmv_agg", col("h"), lit(128)).as("sk"))
        byNation
          .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey").as("nationkey"), col("n_regionkey"))),
            "nationkey")
          .groupBy(col("n_regionkey"))
          .agg(call_function("kmv_union_agg", col("sk"), lit(128)).as("sk"))
          .select(col("n_regionkey"),
            expr("CAST(size(sk) AS BIGINT)").as("n_kept"),
            expr(s"""round(CASE WHEN size(sk) < 128 THEN CAST(size(sk) AS DOUBLE)
                    |  ELSE 127.0 * $Pow60 / CAST(element_at(sk, 128) AS DOUBLE)
                    |  END, 2)""".stripMargin).as("est_customers"))
      },
      Some(s"""WITH h AS (
             |  SELECT n_regionkey,
             |    ('0x'||substr(md5(o_custkey || ':kr'),1,15))::BIGINT AS h
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey),
             |sk AS (SELECT n_regionkey,
             |         list_sort(list_distinct(list(h)))[1:128] AS sk
             |       FROM h GROUP BY n_regionkey)
             |SELECT n_regionkey, len(sk)::BIGINT AS n_kept,
             |  round(CASE WHEN len(sk) < 128 THEN len(sk)::DOUBLE
             |    ELSE 127.0 * $Pow60 / (sk[128]::DOUBLE) END, 2) AS est_customers
             |FROM sk""".stripMargin)),

    // ---- deterministic EXACT-N global sample without a global sort:
    //      the 64 corpus rows with the smallest salted hash, found by
    //      the KMV aggregate (map-side partial, one broadcast row back)
    //      + a membership filter — at 100 TB this replaces the
    //      ORDER BY hash LIMIT n the oracle can afford but a cluster
    //      shouldn't pay; bottom-k-by-hash is also mergeable (a uniform
    //      sample maintained incrementally alongside the matviews) ----
    // ---- weighted sample WITHOUT replacement (Efraimidis & Spirakis
    //      2006 exponential-key / A-ES): key = ln(u)/w with u a
    //      deterministic md5 uniform in (0,1] and w = token count; the
    //      top-64 keys ARE a w-proportional sample without replacement.
    //      Distributed shape: stateless scan + TakeOrdered — no global
    //      sort, no rand() (reproducible run-over-run and in the
    //      oracle). ln() is the one transcendental: both engines
    //      evaluate it on identical doubles and keys are ~1e-3 apart
    //      vs ~1e-16 ulp, so the order (all that is compared — the key
    //      itself is never output) is engine-stable. ----
    GraftQuery("q_weighted_sample",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"),
            expr(s"size(${graft.operators.Dedup.wordsExpr("text")})")
              .cast("long").as("n_tokens"),
            expr(graft.operators.Dedup.h60raw("concat(doc_id, ':ws')")).as("h"))
          .where(col("n_tokens") > 0)
          .withColumn("key",
            log((col("h") + 1).cast("double") / lit(Pow60.toDouble))
              / col("n_tokens"))
        d.orderBy(col("key").desc, col("doc_id")).limit(64)
          // post-limit rank window over the 64 surviving rows only
          .withColumn("rk",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("key").desc, col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("n_tokens"), col("rk"))
      },
      Some(s"""WITH d AS (SELECT doc_id,
             |    len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT
             |      AS n_tokens,
             |    ('0x'||substr(md5(doc_id || ':ws'),1,15))::BIGINT AS h
             |  FROM documents),
             |k AS (SELECT doc_id, n_tokens,
             |    ln((h + 1)::DOUBLE / $Pow60) / n_tokens AS key
             |  FROM d WHERE n_tokens > 0),
             |top AS (SELECT doc_id, n_tokens,
             |    row_number() OVER (ORDER BY key DESC, doc_id) AS rk
             |  FROM k)
             |SELECT doc_id, n_tokens, rk::BIGINT AS rk
             |FROM top WHERE rk <= 64""".stripMargin)),

    // ---- stratified weighted sample: q_weighted_sample's A-ES keys
    //      ranked PER LANGUAGE (16 docs each) — per-stratum
    //      w-proportional samples in one pass; the window partitions by
    //      language, so no global sort ----
    GraftQuery("q_group_weighted_sample",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            expr(s"size(${graft.operators.Dedup.wordsExpr("text")})")
              .cast("long").as("n_tokens"),
            expr(graft.operators.Dedup.h60raw("concat(doc_id, ':gws')")).as("h"))
          .where(col("n_tokens") > 0)
          .withColumn("key",
            log((col("h") + 1).cast("double") / lit(Pow60.toDouble))
              / col("n_tokens"))
        d.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"))
            .orderBy(col("key").desc, col("doc_id"))).cast("long"))
          .where(col("rk") <= 16)
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("rk"))
      },
      Some(s"""WITH d AS (SELECT doc_id, lang,
             |    len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT
             |      AS n_tokens,
             |    ('0x'||substr(md5(doc_id || ':gws'),1,15))::BIGINT AS h
             |  FROM documents),
             |k AS (SELECT doc_id, lang, n_tokens,
             |    ln((h + 1)::DOUBLE / $Pow60) / n_tokens AS key
             |  FROM d WHERE n_tokens > 0),
             |r AS (SELECT doc_id, lang, n_tokens,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY key DESC, doc_id) AS rk
             |  FROM k)
             |SELECT doc_id, lang, n_tokens, rk::BIGINT AS rk
             |FROM r WHERE rk <= 16""".stripMargin)),

    GraftQuery("q_bottomk_sample",
      (s, dir) => {
        graft.functions.ThetaExprs.register(s)
        // withH feeds the sketch AND the membership probe: two scans,
        // but each is a 2-column pruned projection of the id column
        // only (never the payload) — cheaper than caching corpus-wide
        val withH = t(s, dir, "documents")
          .select(col("doc_id"),
            expr(graft.operators.Dedup.h60raw("concat(doc_id, ':bk')")).as("h"))
        val sk = withH.agg(call_function("kmv_agg", col("h"), lit(64)).as("sk"))
        withH.join(broadcast(sk), expr("array_contains(sk, h)"))
          .select(col("doc_id"), col("h"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |    ('0x'||substr(md5(doc_id || ':bk'),1,15))::BIGINT AS h
             |  FROM documents)
             |SELECT doc_id, h FROM h ORDER BY h LIMIT 64""".stripMargin)),

    // ---- int8 scalar quantization audit: per-vector amax and the
    //      dequantization MSE — the storage rung between raw floats and
    //      PQ codes (4× smaller, ~0.1% cosine error; recall/cosine
    //      bounds in SimilaritySpec). Scalars only in the output (the
    //      codes array stays out of the driver compare); arithmetic is
    //      plain IEEE so DuckDB reproduces the MSE bit-for-bit. ----
    GraftQuery("q_int8_sq",
      (s, dir) => graft.operators.Similarity.int8Quant(
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), round(col("amax"), 7).as("amax_r"),
          expr("""round(CASE WHEN amax = 0.0 THEN 0.0 ELSE
                 |  aggregate(zip_with(embedding, codes,
                 |      (v, c) -> (CAST(v AS DOUBLE) - c * scale)
                 |              * (CAST(v AS DOUBLE) - c * scale)),
                 |    CAST(0.0 AS DOUBLE), (a, x) -> a + x)
                 |    / CAST(size(embedding) AS DOUBLE)
                 |END, 12)""".stripMargin).as("mse")),
      Some("""WITH q AS (SELECT vec_id, embedding,
             |    list_reduce([0.0::DOUBLE] ||
             |        list_transform(embedding, v -> abs(v::DOUBLE)),
             |      (a, b) -> greatest(a, b)) AS amax
             |  FROM embeddings)
             |SELECT vec_id, round(amax, 7) AS amax_r,
             |  round(CASE WHEN amax = 0.0 THEN 0.0 ELSE
             |    list_reduce([0.0::DOUBLE] || list_transform(embedding, v ->
             |      (v::DOUBLE - CAST(round(v::DOUBLE / (amax/127.0)) AS INT)
             |                   * (amax/127.0))
             |      * (v::DOUBLE - CAST(round(v::DOUBLE / (amax/127.0)) AS INT)
             |                   * (amax/127.0))),
             |      (x, y) -> x + y) / CAST(len(embedding) AS DOUBLE)
             |  END, 12) AS mse
             |FROM q""".stripMargin)),

    // ---- asymmetric n-gram containment (|A∩B| / |A|): the quotation /
    //      wholesale-inclusion detector symmetric Jaccard misses; same
    //      inverted-index + hot-shingle-cap semantics as q_ngram_jaccard ----
    GraftQuery("q_ngram_containment",
      (s, dir) => graft.operators.Dedup.ngramContainment(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.5)._2,
      Some("""WITH d AS (
             |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(range(len(words)-2),
             |    i -> ('0x' || substr(md5(words[i+1]||' '||words[i+2]||' '||words[i+3]), 1, 15))::BIGINT)) AS sh
             |  FROM d WHERE len(words) >= 3),
             |e0 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
             |hot AS (SELECT s FROM e0 GROUP BY s HAVING count(*) > 1024),
             |e AS (SELECT * FROM e0 WHERE s NOT IN (SELECT s FROM hot)),
             |c AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
             |        count(*) AS cnt
             |      FROM e a JOIN e b ON a.s = b.s AND a.doc_id <> b.doc_id
             |      GROUP BY 1, 2),
             |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id)
             |SELECT contained_id, container_id,
             |  round(cnt / CAST(sa.n AS DOUBLE), 4) AS containment
             |FROM c JOIN sz sa ON sa.doc_id = contained_id
             |WHERE round(cnt / CAST(sa.n AS DOUBLE), 4) >= 0.5""".stripMargin)),

    // ---- TRAINED quality classifier: batch perceptron over hashed
    //      bag-of-words + bias, weak-labeled by the stopword-density
    //      rule — the CCNet/GPT-3 "train a cheap linear filter, score
    //      the crawl" step, integer-exact so the full weight TRAJECTORY
    //      hash-matches an unrolled 4-round CTE chain ----
    GraftQuery("q_perceptron_train",
      (s, dir) => graft.operators.Perceptron.train(
        t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4)._1,
      Some(Curation.perceptronTrajOracle(32, 4))),

    //      ... and every document scored under the final weights — the
    //      model is 33 longs broadcast by value; the data never moves
    GraftQuery("q_perceptron_predict",
      (s, dir) => graft.operators.Perceptron.train(
        t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4)._2,
      Some(Curation.perceptronPredictOracle(32, 4))),

    // ---- Poisson bootstrap: B one-pass replicates of the corpus
    //      word-count statistic, Poisson(1) weights from the md5
    //      uniform through the published fixed-point CDF constants ----
    GraftQuery("q_poisson_bootstrap",
      (s, dir) => graft.operators.Bootstrap.poissonBootstrap(
        t(s, dir, "documents"), "doc_id", "text", replicates = 16),
      Some {
        val cases = graft.operators.Bootstrap.CdfPpm.zipWithIndex
          .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
        s"""WITH d AS (
           |  SELECT doc_id, len(list_filter(string_split(text, ' '),
           |    w -> w <> ''))::BIGINT AS n_words
           |  FROM documents),
           |r AS (SELECT doc_id, n_words, b FROM d, range(16) t(b)),
           |u AS (SELECT n_words, b,
           |  ${dH60raw("CAST(doc_id AS VARCHAR) || ':' " +
              "|| CAST(b AS VARCHAR)")} % 1000000 AS u
           |  FROM r),
           |k AS (SELECT b, n_words, CASE $cases ELSE 6 END AS k FROM u)
           |SELECT b::BIGINT AS replicate, sum(k)::BIGINT AS n_eff,
           |  sum(k * n_words)::BIGINT AS sum_words,
           |  ((sum(k * n_words) * 1000) // greatest(sum(k), 1))::BIGINT
           |    AS mean_words_milli
           |FROM k GROUP BY 1""".stripMargin
      }),

    // ---- isotonic calibration of the perceptron margin against its
    //      labels: PAV via the relational max-min closed form over
    //      clamped score bins (value-range-sized from the first groupBy
    //      on), published as exact floored-ppb integers ----
    GraftQuery("q_isotonic_calibration",
      // binWidth 1024: perceptron margins over these features are in the
      // tens of thousands, so unit-scale bins would all clamp — 1024
      // spreads the corpus across ~60 populated bins at sf0.01
      (s, dir) => graft.operators.Calibration.calibratePerceptron(
        t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4,
        binWidth = 1024L, clamp = 64L),
      Some(Curation.isotonicOracle(32, 4, binWidth = 1024L, clamp = 64L))),

    // ---- the calibrated GATE (the apply side): every scored doc maps
    //      through its fitted bin to the monotone iso_ppb probability
    //      and keeps iff >= 500000000 ppb (p >= 0.5) — classifier →
    //      calibration → keep decision, the production last mile; the
    //      apply is one broadcast join of the <=128-row map ----
    GraftQuery("q_calibrated_gate",
      (s, dir) => {
        val (_, pred) = graft.operators.Perceptron.train(
          t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4)
        graft.operators.Calibration.calibratedGate(
          pred.select(col("doc_id"), col("margin"),
            when(col("y") === 1L, 1L).otherwise(0L).as("is_pos")),
          "doc_id", "margin", "is_pos", minPpb = 500000000L,
          binWidth = 1024L, clamp = 64L)
      },
      Some(Curation.calibratedGateOracle(32, 4, binWidth = 1024L,
        clamp = 64L, minPpb = 500000000L))),

    // ---- streamed isotonic calibration: the perceptron scores arrive
    //      in three id-range folds, each appending its ADDITIVE bin
    //      counts (<= 2*clamp rows) to the artifact; the PAV fit reruns
    //      read-side on the merged bin relation, so the calibrated map
    //      equals the batch operator on everything seen VERBATIM
    //      (shares the batch oracle; a mid-run compaction must not
    //      change the answer) ----
    GraftQuery("q_isotonic_stream",
      (s, dir) => {
        val base = s"/tmp/graft_iso_stream/${graft.GraftCatalog.dbFor(dir)}"
        graft.streaming.StreamingCalibration.init(s, base)
        val (_, pred) = graft.operators.Perceptron.train(
          t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4)
        val scored = pred.select(col("doc_id"), col("margin"),
            when(col("y") === 1L, 1L).otherwise(0L).as("is_pos"))
          .persist()
        val maxId = scored.agg(max(col("doc_id"))).head.getLong(0) + 1
        for (i <- 0L until 3L) {
          graft.streaming.StreamingCalibration.fold(s, base,
            scored.where(col("doc_id") >= i * maxId / 3 &&
              col("doc_id") < (i + 1) * maxId / 3),
            "margin", "is_pos", batchId = i, binWidth = 1024L,
            clamp = 64L)
          if (i == 1L) // mid-run compaction is answer-preserving
            graft.streaming.StreamingCalibration.compactBins(s, base)
        }
        scored.unpersist()
        graft.streaming.StreamingCalibration.calibrated(s, base)
      },
      Some(Curation.isotonicOracle(32, 4, binWidth = 1024L, clamp = 64L))),

    // ---- classifier scorecard: per-class precision/recall/F1 in
    //      exact ppm over the perceptron's predictions vs its weak
    //      labels — one classes²-sized confusion groupBy, then pure
    //      integer arithmetic ----
    GraftQuery("q_classifier_eval",
      (s, dir) => {
        val (_, pred) = graft.operators.Perceptron.train(
          t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4)
        graft.operators.Perceptron.classifierEval(pred, "y", "pred")
      },
      Some(Curation.classifierEvalOracle(32, 4))),

    // ---- streamed classifier scorecard: prediction batches arrive in
    //      three id-range folds, each appending its ADDITIVE classes²
    //      confusion delta; the P/R/F1 arithmetic reruns read-side on
    //      the merged tiny relation, so the scorecard equals the batch
    //      operator on everything seen VERBATIM (shares the batch
    //      oracle; mid-run compaction must not change it) ----
    GraftQuery("q_classifier_eval_stream",
      (s, dir) => {
        val base =
          s"/tmp/graft_eval_stream/${graft.GraftCatalog.dbFor(dir)}"
        graft.streaming.StreamingEval.init(s, base)
        val (_, pred) = graft.operators.Perceptron.train(
          t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4)
        val rows = pred.persist()
        val maxId = rows.agg(max(col("doc_id"))).head.getLong(0) + 1
        for (i <- 0L until 3L) {
          graft.streaming.StreamingEval.fold(s, base,
            rows.where(col("doc_id") >= i * maxId / 3 &&
              col("doc_id") < (i + 1) * maxId / 3), "y", "pred",
            batchId = i)
          if (i == 1L) // mid-run compaction is answer-preserving
            graft.streaming.StreamingEval.compact(s, base)
        }
        val out = graft.streaming.StreamingEval.scorecard(s, base)
        rows.unpersist()
        out
      },
      Some(Curation.classifierEvalOracle(32, 4))),

    // ---- calibration residual diagnostics: ECE / worst bin gap /
    //      Brier of the calibrated probabilities — pure arithmetic on
    //      the fit's own <=128-row bin relation, zero extra corpus
    //      passes ----
    GraftQuery("q_calibration_error",
      (s, dir) => {
        val (_, pred) = graft.operators.Perceptron.train(
          t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4)
        graft.operators.Calibration.calibrationError(
          pred.select(col("margin"),
            when(col("y") === 1L, 1L).otherwise(0L).as("is_pos")),
          "margin", "is_pos", binWidth = 1024L, clamp = 64L)
      },
      Some(Curation.calibrationErrorOracle(32, 4, binWidth = 1024L,
        clamp = 64L))),

    // ---- split-conformal gate: the distribution-free twin of the
    //      calibrated gate — nonconformity = -margin, calibration =
    //      the even-id positives, threshold = the exact
    //      ceil((n+1)(1-alpha))-th smallest calibration nonconformity
    //      (alpha = 0.1), keep iff nonconf <= thr; the finite-sample
    //      >= 1-alpha keep guarantee on exchangeable good docs ----
    GraftQuery("q_conformal_gate",
      (s, dir) => {
        val (_, pred) = graft.operators.Perceptron.train(
          t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4)
        graft.operators.Calibration.conformalGate(
          pred.select(col("doc_id"), (-col("margin")).as("nonconf"),
            (col("y") === 1L && col("doc_id") % 2 === 0).as("is_cal")),
          "doc_id", "nonconf", "is_cal", alphaPpm = 100000L)
      },
      Some(Curation.conformalGateOracle(32, 4, alphaPpm = 100000L))),

    // ---- streamed split-conformal gate: calibration rows arrive in
    //      three id-range folds, each appending its ADDITIVE value
    //      histogram; the read side recovers the exact
    //      ceil((n+1)(1-alpha))-th smallest as the first histogram
    //      value whose running count reaches k, so the gate equals the
    //      batch operator on everything seen VERBATIM (shares the
    //      batch oracle; a mid-run compaction must not change it) ----
    GraftQuery("q_conformal_stream",
      (s, dir) => {
        val base =
          s"/tmp/graft_conf_stream/${graft.GraftCatalog.dbFor(dir)}"
        graft.streaming.StreamingConformal.init(s, base)
        val (_, pred) = graft.operators.Perceptron.train(
          t(s, dir, "documents"), "doc_id", "text", d = 32, rounds = 4)
        val rows = pred.select(col("doc_id"),
            (-col("margin")).as("nonconf"),
            (col("y") === 1L && col("doc_id") % 2 === 0).as("is_cal"))
          .persist()
        val maxId = rows.agg(max(col("doc_id"))).head.getLong(0) + 1
        for (i <- 0L until 3L) {
          graft.streaming.StreamingConformal.fold(s, base,
            rows.where(col("doc_id") >= i * maxId / 3 &&
              col("doc_id") < (i + 1) * maxId / 3),
            "nonconf", "is_cal", batchId = i)
          if (i == 1L) // mid-run compaction is answer-preserving
            graft.streaming.StreamingConformal.compact(s, base)
        }
        val out = graft.streaming.StreamingConformal.gate(s, base,
          rows, "doc_id", "nonconf", "is_cal", alphaPpm = 100000L)
        rows.unpersist()
        out
      },
      Some(Curation.conformalGateOracle(32, 4, alphaPpm = 100000L))),

    // ---- per-GROUP conformal gate: one exact order-statistic
    //      threshold per language (minority languages get their own
    //      keep guarantee instead of inheriting the English one);
    //      corpus work is one (group, value) histogram groupBy, the
    //      cum window runs on the aggregated relation ----
    GraftQuery("q_conformal_by_group",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val (_, pred) = graft.operators.Perceptron.train(
          docs, "doc_id", "text", d = 32, rounds = 4)
        graft.operators.Calibration.conformalGateByGroup(
          pred.join(docs.select(col("doc_id"), col("lang")), "doc_id")
            .select(col("doc_id"), col("lang"),
              (-col("margin")).as("nonconf"),
              (col("y") === 1L && col("doc_id") % 2 === 0).as("is_cal")),
          "doc_id", "lang", "nonconf", "is_cal", alphaPpm = 100000L)
      },
      Some(Curation.conformalByGroupOracle)),

    // ---- streamed PER-GROUP conformal gate (r14 — the last empty
    //      cell of the winsorize/conformal matrix): calibration rows
    //      arrive in three id-range folds, one additive (group,
    //      nonconf) histogram per fold; the read side reruns the batch
    //      per-group order statistic, never-folded groups fail OPEN,
    //      so gating everything seen equals conformalGateByGroup
    //      VERBATIM (shares its oracle; mid-run compaction must not
    //      change it) ----
    GraftQuery("q_conformal_by_group_stream",
      (s, dir) => {
        val base =
          s"/tmp/graft_confg_stream/${graft.GraftCatalog.dbFor(dir)}"
        graft.streaming.StreamingConformal.init(s, base)
        val docs = t(s, dir, "documents")
        val (_, pred) = graft.operators.Perceptron.train(
          docs, "doc_id", "text", d = 32, rounds = 4)
        val rows = pred
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"),
            (-col("margin")).as("nonconf"),
            (col("y") === 1L && col("doc_id") % 2 === 0).as("is_cal"))
          .persist()
        val maxId = rows.agg(max(col("doc_id"))).head.getLong(0) + 1
        for (i <- 0L until 3L) {
          graft.streaming.StreamingConformal.foldByGroup(s, base,
            rows.where(col("doc_id") >= i * maxId / 3 &&
              col("doc_id") < (i + 1) * maxId / 3),
            "lang", "nonconf", "is_cal", batchId = i)
          if (i == 1L) // mid-run compaction is answer-preserving
            graft.streaming.StreamingConformal.compactByGroup(s, base)
        }
        val out = graft.streaming.StreamingConformal.gateByGroup(
          s, base, rows, "doc_id", "lang", "nonconf", "is_cal",
          alphaPpm = 100000L)
        rows.unpersist()
        out
      },
      Some(Curation.conformalByGroupOracle)),

    // ---- ECDF quantile normalization: per-source length scores
    //      mapped to their within-source quantile in ppm, so one
    //      global threshold compares docs ACROSS domains; corpus work
    //      is one (source, bin) groupBy, the cum window runs on the
    //      aggregated value-range-sized relation ----
    GraftQuery("q_quantile_norm",
      (s, dir) => graft.operators.Calibration.ecdfNormalize(
        t(s, dir, "documents"), "doc_id", "source", "n_chars",
        binWidth = 8L),
      Some("""WITH b AS (
             |  SELECT doc_id, source, n_chars,
             |    ((CASE WHEN n_chars < 0 THEN -1 ELSE 1 END)
             |     * (abs(n_chars) // 8))::BIGINT AS bin
             |  FROM documents),
             |c AS (SELECT source, bin, count(*)::BIGINT AS c
             |      FROM b GROUP BY 1, 2),
             |cw AS (SELECT source, bin,
             |    (sum(c) OVER (PARTITION BY source ORDER BY bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW))::BIGINT AS cum,
             |    (sum(c) OVER (PARTITION BY source))::BIGINT AS n_grp
             |  FROM c)
             |SELECT b.doc_id AS id, b.source AS "group",
             |  b.n_chars AS score, b.bin, cw.n_grp,
             |  (cw.cum * 1000000 // cw.n_grp)::BIGINT AS ecdf_ppm
             |FROM b JOIN cw USING (source, bin)""".stripMargin)),

    // ---- streamed ECDF normalization: (group, bin) counts are
    //      ADDITIVE, so three id-range folds append deltas and the
    //      cumulative window + ppm division rerun read-side —
    //      normalizing everything folded equals the batch operator
    //      (shares q_quantile_norm's oracle VERBATIM; a mid-run
    //      compaction must not change it) ----
    GraftQuery("q_quantile_norm_stream",
      (s, dir) => {
        val base =
          s"/tmp/graft_ecdf_stream/${graft.GraftCatalog.dbFor(dir)}"
        graft.streaming.StreamingEcdf.init(s, base)
        val docs = t(s, dir, "documents")
        val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
        for (i <- 0L until 3L) {
          graft.streaming.StreamingEcdf.fold(s, base,
            docs.where(col("doc_id") >= i * maxId / 3 &&
              col("doc_id") < (i + 1) * maxId / 3),
            "source", "n_chars", binWidth = 8L, batchId = i)
          if (i == 1L) // mid-run compaction is answer-preserving
            graft.streaming.StreamingEcdf.compact(s, base)
        }
        graft.streaming.StreamingEcdf.normalize(s, base, docs,
          "doc_id", "source", "n_chars", binWidth = 8L)
      },
      Some("""WITH b AS (
             |  SELECT doc_id, source, n_chars,
             |    ((CASE WHEN n_chars < 0 THEN -1 ELSE 1 END)
             |     * (abs(n_chars) // 8))::BIGINT AS bin
             |  FROM documents),
             |c AS (SELECT source, bin, count(*)::BIGINT AS c
             |      FROM b GROUP BY 1, 2),
             |cw AS (SELECT source, bin,
             |    (sum(c) OVER (PARTITION BY source ORDER BY bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW))::BIGINT AS cum,
             |    (sum(c) OVER (PARTITION BY source))::BIGINT AS n_grp
             |  FROM c)
             |SELECT b.doc_id AS id, b.source AS "group",
             |  b.n_chars AS score, b.bin, cw.n_grp,
             |  (cw.cum * 1000000 // cw.n_grp)::BIGINT AS ecdf_ppm
             |FROM b JOIN cw USING (source, bin)""".stripMargin)),

    // ---- CCNet-style perplexity filter: stupid-backoff bigram LM
    //      trained on the even-doc_id half, scoring the held-out odd
    //      half in integer micro-nats (floor(1e6*ln S) per position, so
    //      per-doc sums are order-independent BIGINTs — the one ln() is
    //      fed a single correctly-rounded integer division) ----
    // ---- DSIR importance weights (Xie et al. 2023): every document
    //      scored by the log-likelihood ratio of its hashed
    //      unigram+bigram features under the TARGET domain (source =
    //      src0) vs the corpus at large — the "make the crawl look
    //      like the target" selector; per-cell weights are single-ln
    //      micro-nats over exact integer products (the LM discipline),
    //      so the per-doc BIGINT sums hash-match ----
    GraftQuery("q_dsir_ngram",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Dsir.dsirWeights(
          docs, docs.where(col("source") === "src0"),
          "doc_id", "text", buckets = 1024)
      },
      Some("""WITH wd AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), w -> w <> '')
             |      AS words
             |  FROM documents),
             |gr AS (
             |  SELECT doc_id, source, unnest(words) AS g FROM wd
             |  UNION ALL
             |  SELECT doc_id, source,
             |    unnest(list_transform(range(len(words) - 1),
             |      i -> words[i+1] || ' ' || words[i+2])) AS g
             |  FROM wd WHERE len(words) >= 2),
             |fb AS MATERIALIZED (SELECT doc_id, source,
             |    ('0x'||substr(md5(g),1,15))::BIGINT % 1024 AS b
             |  FROM gr),
             |cq AS MATERIALIZED (SELECT b, count(*)::BIGINT AS cq
             |  FROM fb GROUP BY 1),
             |cp AS (SELECT b, count(*)::BIGINT AS cp
             |  FROM fb WHERE source = 'src0' GROUP BY 1),
             |tq AS (SELECT coalesce(sum(cq), 0)::BIGINT AS tq FROM cq),
             |tp AS (SELECT coalesce(sum(cp), 0)::BIGINT AS tp FROM cp),
             |w AS (SELECT cq.b,
             |    floor(1000000.0 * ln(
             |      ((coalesce(cp.cp, 0) + 1) * (tq.tq + 1024))::DOUBLE
             |      / ((cq.cq + 1) * (tp.tp + 1024))::DOUBLE))::BIGINT
             |      AS w
             |  FROM cq LEFT JOIN cp USING (b), tq, tp)
             |SELECT fb.doc_id, count(*)::BIGINT AS n_feats,
             |  sum(w.w)::BIGINT AS logratio_micro,
             |  (sum(w.w) > 0) AS kept
             |FROM fb JOIN w USING (b) GROUP BY 1""".stripMargin)),

    // ---- streamed DSIR: the raw corpus arrives in three id-range
    //      folds, each appending its ADDITIVE <=m-row hashed-feature
    //      cell counts; the weight arithmetic reruns read-side against
    //      the fixed target sample, so scoring everything seen equals
    //      the batch dsirWeights VERBATIM (shares q_dsir_ngram's
    //      oracle; mid-run compaction must not change it) ----
    GraftQuery("q_dsir_ngram_stream",
      (s, dir) => {
        val base =
          s"/tmp/graft_dsir_stream/${graft.GraftCatalog.dbFor(dir)}"
        graft.streaming.StreamingDsir.init(s, base)
        val docs = t(s, dir, "documents")
        val maxId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
        for (i <- 0L until 3L) {
          graft.streaming.StreamingDsir.fold(s, base,
            docs.where(col("doc_id") >= i * maxId / 3 &&
              col("doc_id") < (i + 1) * maxId / 3),
            "doc_id", "text", batchId = i, buckets = 1024)
          if (i == 1L) // mid-run compaction is answer-preserving
            graft.streaming.StreamingDsir.compact(s, base)
        }
        graft.streaming.StreamingDsir.weights(s, base, docs,
          docs.where(col("source") === "src0"), "doc_id", "text",
          buckets = 1024)
      },
      Some("""WITH wd AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), w -> w <> '')
             |      AS words
             |  FROM documents),
             |gr AS (
             |  SELECT doc_id, source, unnest(words) AS g FROM wd
             |  UNION ALL
             |  SELECT doc_id, source,
             |    unnest(list_transform(range(len(words) - 1),
             |      i -> words[i+1] || ' ' || words[i+2])) AS g
             |  FROM wd WHERE len(words) >= 2),
             |fb AS MATERIALIZED (SELECT doc_id, source,
             |    ('0x'||substr(md5(g),1,15))::BIGINT % 1024 AS b
             |  FROM gr),
             |cq AS MATERIALIZED (SELECT b, count(*)::BIGINT AS cq
             |  FROM fb GROUP BY 1),
             |cp AS (SELECT b, count(*)::BIGINT AS cp
             |  FROM fb WHERE source = 'src0' GROUP BY 1),
             |tq AS (SELECT coalesce(sum(cq), 0)::BIGINT AS tq FROM cq),
             |tp AS (SELECT coalesce(sum(cp), 0)::BIGINT AS tp FROM cp),
             |w AS (SELECT cq.b,
             |    floor(1000000.0 * ln(
             |      ((coalesce(cp.cp, 0) + 1) * (tq.tq + 1024))::DOUBLE
             |      / ((cq.cq + 1) * (tp.tp + 1024))::DOUBLE))::BIGINT
             |      AS w
             |  FROM cq LEFT JOIN cp USING (b), tq, tp)
             |SELECT fb.doc_id, count(*)::BIGINT AS n_feats,
             |  sum(w.w)::BIGINT AS logratio_micro,
             |  (sum(w.w) > 0) AS kept
             |FROM fb JOIN w USING (b) GROUP BY 1""".stripMargin)),

    // ---- DSIR resampling (the paper's actual draw): Gumbel-top-k
    //      over the importance ratios — sample ∝ exp(logratio) as the
    //      top 40 of `logratio_micro − floor(1e6·ln(−ln u))` with u
    //      the md5 uniform; exact integers, reproducible under the
    //      salt, distributed TakeOrdered (never a global sort) ----
    GraftQuery("q_dsir_gumbel_topk",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Dsir.dsirResample(
          docs, docs.where(col("source") === "src0"),
          "doc_id", "text", k = 40, buckets = 1024, salt = 7L)
      },
      Some("""WITH wd AS (
             |  SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), w -> w <> '')
             |      AS words
             |  FROM documents),
             |gr AS (
             |  SELECT doc_id, source, unnest(words) AS g FROM wd
             |  UNION ALL
             |  SELECT doc_id, source,
             |    unnest(list_transform(range(len(words) - 1),
             |      i -> words[i+1] || ' ' || words[i+2])) AS g
             |  FROM wd WHERE len(words) >= 2),
             |fb AS MATERIALIZED (SELECT doc_id, source,
             |    ('0x'||substr(md5(g),1,15))::BIGINT % 1024 AS b
             |  FROM gr),
             |cq AS MATERIALIZED (SELECT b, count(*)::BIGINT AS cq
             |  FROM fb GROUP BY 1),
             |cp AS (SELECT b, count(*)::BIGINT AS cp
             |  FROM fb WHERE source = 'src0' GROUP BY 1),
             |tq AS (SELECT coalesce(sum(cq), 0)::BIGINT AS tq FROM cq),
             |tp AS (SELECT coalesce(sum(cp), 0)::BIGINT AS tp FROM cp),
             |w AS (SELECT cq.b,
             |    floor(1000000.0 * ln(
             |      ((coalesce(cp.cp, 0) + 1) * (tq.tq + 1024))::DOUBLE
             |      / ((cq.cq + 1) * (tp.tp + 1024))::DOUBLE))::BIGINT
             |      AS w
             |  FROM cq LEFT JOIN cp USING (b), tq, tp),
             |sc AS (SELECT fb.doc_id, count(*)::BIGINT AS n_feats,
             |    sum(w.w)::BIGINT AS logratio_micro
             |  FROM fb JOIN w USING (b) GROUP BY 1),
             |ky AS (SELECT doc_id, n_feats, logratio_micro,
             |    (logratio_micro - floor(1000000.0 * ln(-ln(
             |      ((('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
             |        '7'),1,15))::BIGINT % 1000000) + 1)::DOUBLE
             |      / 1000002.0)))::BIGINT) AS key_micro
             |  FROM sc)
             |SELECT doc_id, n_feats, logratio_micro, key_micro,
             |  row_number() OVER (ORDER BY key_micro DESC, doc_id)
             |    ::BIGINT AS rk
             |FROM ky ORDER BY key_micro DESC, doc_id LIMIT 40"""
        .stripMargin)),

    GraftQuery("q_lm_perplexity",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.LanguageModel.perplexity(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
      },
      Some(s"WITH $lmPerplexityCtes\n$lmPerplexityFinal")),

    // ---- CCNet head/middle/tail: the scored half split into
    //      per-language perplexity terciles over 1000-micro-nat bins
    //      (integer cum*3 >= tot order statistics; ties go to the
    //      earlier bucket). head = the keep-or-prioritize slice. ----
    GraftQuery("q_ccnet_buckets",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.LanguageModel.ccnetBuckets(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "doc_id", "text", "lang")
      },
      Some(s"""WITH $lmPerplexityCtes,
             |ppl AS ($lmPerplexityFinal),
             |pl AS (SELECT p2.doc_id, d.lang, p2.ppl_micro,
             |         p2.ppl_micro // ${
               graft.operators.LanguageModel.PplBinMicro} AS ppl_bin
             |       FROM ppl p2 JOIN documents d USING (doc_id)),
             |h AS (SELECT lang, ppl_bin, count(*)::BIGINT AS c
             |      FROM pl GROUP BY 1, 2),
             |cw AS (SELECT lang, ppl_bin,
             |         sum(c) OVER (PARTITION BY lang ORDER BY ppl_bin)::BIGINT AS cum,
             |         sum(c) OVER (PARTITION BY lang)::BIGINT AS tot
             |       FROM h),
             |thr AS (SELECT lang,
             |          min(CASE WHEN cum * 3 >= tot THEN ppl_bin END)::BIGINT AS b1,
             |          min(CASE WHEN cum * 3 >= tot * 2 THEN ppl_bin END)::BIGINT AS b2
             |        FROM cw GROUP BY 1)
             |SELECT pl.doc_id, pl.lang, pl.ppl_micro, pl.ppl_bin,
             |  CASE WHEN pl.ppl_bin <= thr.b1 THEN 'head'
             |       WHEN pl.ppl_bin <= thr.b2 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM pl JOIN thr USING (lang)""".stripMargin)))

  /** The stupid-backoff bigram scoring chain, shared by q_lm_perplexity
    * and q_ccnet_buckets: the CTE list (no WITH, ends at the
    * per-position score relation `p`) + the doc-level rollup SELECT. */
  private[queries] def lmPerplexityCtes: String = ("""tr AS (SELECT list_filter(string_split(text,' '), w -> w <> '') AS words
             |            FROM documents WHERE doc_id % 2 = 0),
             |trt AS (SELECT unnest(list_transform(range(len(words)),
             |          i -> struct_pack(word := words[i+1],
             |                           prev := CASE WHEN i >= 1 THEN words[i] END))) AS s
             |        FROM tr),
             |trtok AS (SELECT s.word AS word, s.prev AS prev FROM trt),
             |uni AS MATERIALIZED (SELECT word, count(*)::BIGINT AS c1 FROM trtok GROUP BY 1),
             |big AS MATERIALIZED (SELECT prev, word, count(*)::BIGINT AS c12
             |       FROM trtok WHERE prev IS NOT NULL GROUP BY 1, 2),
             |st AS (SELECT sum(c1)::BIGINT AS n_total, count(*)::BIGINT AS v FROM uni),
             |sc AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS words
             |       FROM documents WHERE doc_id % 2 = 1),
             |sct AS (SELECT doc_id, unnest(list_transform(range(len(words)),
             |          i -> struct_pack(word := words[i+1],
             |                           prev := CASE WHEN i >= 1 THEN words[i] END))) AS s
             |        FROM sc),
             |sctok AS (SELECT doc_id, s.word AS word, s.prev AS prev FROM sct),
             |j AS (SELECT t.doc_id, t.prev, u.c1, up.c1 AS c1prev, b.c12,
             |             st.n_total, st.v
             |      FROM sctok t
             |      LEFT JOIN uni u ON t.word = u.word
             |      LEFT JOIN uni up ON t.prev = up.word
             |      LEFT JOIN big b ON t.prev = b.prev AND t.word = b.word
             |      CROSS JOIN st),
             |p AS (SELECT doc_id,
             |        (prev IS NOT NULL AND c12 IS NULL)::BIGINT AS is_backoff,
             |        floor(1e6 * ln(
             |          CASE WHEN prev IS NULL
             |               THEN (COALESCE(c1,0)+1)::DOUBLE / (n_total + v + 1)::DOUBLE
             |               WHEN c12 IS NOT NULL THEN c12::DOUBLE / c1prev::DOUBLE
             |               ELSE (2*(COALESCE(c1,0)+1))::DOUBLE
             |                 / (5*(n_total + v + 1))::DOUBLE
             |          END))::BIGINT AS score_micro
             |      FROM j)""").stripMargin

  private[queries] def lmPerplexityFinal: String =
    """SELECT doc_id, count(*)::BIGINT AS n_tokens,
      |  sum(is_backoff)::BIGINT AS n_backoff,
      |  (-sum(score_micro))::BIGINT AS nll_micro,
      |  ((-sum(score_micro)) // count(*))::BIGINT AS ppl_micro
      |FROM p GROUP BY 1""".stripMargin
}
