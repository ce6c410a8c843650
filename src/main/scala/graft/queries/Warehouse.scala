package graft.queries

import graft.{GraftQuery, QueryModule, Tables}
import graft.GraftCatalog.artifactPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 warehouse-maintenance + corpus-forensics surface:
  * snapshot diff / MERGE upsert / CDC apply ([[graft.operators.TableDiff]]),
  * PassJoin edit-distance self-join ([[graft.operators.FuzzyJoin]]),
  * exact shared-span detection ([[graft.operators.Spans]]),
  * column profiling ([[graft.operators.Profiler]]),
  * small-file compaction ([[graft.operators.Compaction]]), and the
  * Gopher-style repetition / compressibility text signals
  * ([[graft.operators.TextAnalysis]]).
  *
  * Snapshot fixtures are derived DETERMINISTICALLY from the TPC-H tables
  * (modular key predicates), so the oracles can state the expected output
  * from first principles instead of re-running the operator's own logic.
  */
object Warehouse extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** "new snapshot" of orders: keys %11==0 deleted, %7==0 repriced. */
  private def newSnapshot(orders: DataFrame): DataFrame =
    orders.where(col("o_orderkey") % 11 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, round(col("o_totalprice") * 2, 2))
          .otherwise(col("o_totalprice")))

  /** Shared by q_psi_drift and q_psi_drift_stream (the streamed fold
    * reruns the identical read-side arithmetic). */
  private val psiOracle: String =
    """WITH a AS (SELECT source AS category, count(*)::BIGINT AS n_a
      |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
      |b AS (SELECT source AS category, count(*)::BIGINT AS n_b
      |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
      |j AS (SELECT category, coalesce(n_a, 0) AS n_a,
      |    coalesce(n_b, 0) AS n_b
      |  FROM a FULL OUTER JOIN b USING (category)),
      |t AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb
      |      FROM j),
      |sh AS (SELECT category, n_a, n_b,
      |    greatest(n_a * 1000000 // greatest(ta, 1), 1)::BIGINT AS sa,
      |    greatest(n_b * 1000000 // greatest(tb, 1), 1)::BIGINT AS sb
      |  FROM j CROSS JOIN t)
      |SELECT category, n_a, n_b,
      |  sa AS share_a_ppm, sb AS share_b_ppm,
      |  ((sa - sb) * CAST(floor(1000000.0 *
      |      ln(sa::DOUBLE / sb::DOUBLE)) AS BIGINT))::BIGINT
      |    AS psi_term_pico
      |FROM sh""".stripMargin

  /** Shared by q_category_drift and q_category_drift_stream. */
  private val categoryDriftOracle: String =
    """WITH a AS (SELECT source AS category,
      |    count(*)::BIGINT AS n_a
      |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
      |b AS (SELECT source AS category, count(*)::BIGINT AS n_b
      |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
      |j AS (SELECT category, coalesce(n_a, 0) AS n_a,
      |    coalesce(n_b, 0) AS n_b
      |  FROM a FULL OUTER JOIN b USING (category)),
      |t AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb
      |      FROM j)
      |SELECT category, n_a, n_b,
      |  (n_a * 1000000 // greatest(ta, 1))::BIGINT AS share_a_ppm,
      |  (n_b * 1000000 // greatest(tb, 1))::BIGINT AS share_b_ppm,
      |  abs(n_a * 1000000 // greatest(ta, 1)
      |    - n_b * 1000000 // greatest(tb, 1))::BIGINT AS gap_ppm
      |FROM j CROSS JOIN t""".stripMargin

  /** Shared by q_numeric_drift and q_numeric_drift_stream. */
  private val numericDriftOracle: String =
    """WITH a AS (SELECT ((CASE WHEN n_chars < 0 THEN -1 ELSE 1
      |      END) * (abs(n_chars) // 64))::BIGINT AS bin,
      |    count(*)::BIGINT AS n_a
      |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
      |b AS (SELECT ((CASE WHEN n_chars < 0 THEN -1 ELSE 1
      |      END) * (abs(n_chars) // 64))::BIGINT AS bin,
      |    count(*)::BIGINT AS n_b
      |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
      |j AS (SELECT bin, coalesce(n_a, 0) AS n_a,
      |    coalesce(n_b, 0) AS n_b
      |  FROM a FULL OUTER JOIN b USING (bin)),
      |t AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb
      |      FROM j)
      |SELECT bin, n_a, n_b,
      |  (n_a * 1000000 // greatest(ta, 1))::BIGINT AS share_a_ppm,
      |  (n_b * 1000000 // greatest(tb, 1))::BIGINT AS share_b_ppm,
      |  abs(n_a * 1000000 // greatest(ta, 1)
      |    - n_b * 1000000 // greatest(tb, 1))::BIGINT AS gap_ppm
      |FROM j CROSS JOIN t""".stripMargin

  /** Shared by q_entity_resolution and q_entity_resolution_stream. */
  private val entityResolutionOracle: String =
    """WITH RECURSIVE c AS (
      |  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 = 0),
      |p AS (SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b
      |  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |walk(id, lab) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT e.a, walk.lab FROM e JOIN walk ON walk.id = e.b),
      |comp AS (SELECT id, min(lab) AS cluster_id FROM walk GROUP BY id),
      |g AS (SELECT c.c_custkey,
      |    coalesce(comp.cluster_id, c.c_custkey) AS entity_id
      |  FROM c LEFT JOIN comp ON c.c_custkey = comp.id)
      |SELECT g.c_custkey, g.entity_id, cn.c_name AS canonical_name
      |FROM g JOIN c cn ON cn.c_custkey = g.entity_id""".stripMargin

  override val queries: Seq[GraftQuery] = Seq(

    // ---- k-anonymity release gate: rows whose (segment, nation) group
    //      has fewer than 10 members get ALL quasi columns suppressed
    //      (masking only the rare column would leak the rest) ----
    GraftQuery("q_k_anonymity",
      (s, dir) => graft.operators.Privacy.kAnonymize(
        t(s, dir, "customer"), "c_custkey",
        Seq("c_mktsegment", "c_nationkey"), k = 10L),
      Some("""WITH g AS (
             |  SELECT c_mktsegment, c_nationkey, count(*)::BIGINT AS group_n
             |  FROM customer GROUP BY 1, 2)
             |SELECT c_custkey,
             |  CASE WHEN group_n >= 10 THEN customer.c_mktsegment ELSE '*' END
             |    AS c_mktsegment,
             |  CASE WHEN group_n >= 10 THEN customer.c_nationkey::VARCHAR
             |    ELSE '*' END AS c_nationkey,
             |  group_n, (group_n >= 10)::BIGINT AS kept
             |FROM customer JOIN g
             |  ON customer.c_mktsegment IS NOT DISTINCT FROM g.c_mktsegment
             | AND customer.c_nationkey IS NOT DISTINCT FROM g.c_nationkey"""
        .stripMargin)),

    // ---- snapshot diff: old = orders minus %13 keys; new = orders minus
    // %11 keys with %7 keys repriced → inserted/deleted/updated delta ----
    GraftQuery("q_snapshot_diff",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val oldSnap = orders.where(col("o_orderkey") % 13 =!= 0)
        graft.operators.TableDiff.diff(oldSnap, newSnapshot(orders),
          Seq("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderkey % 13 = 0 THEN 'inserted'
             |       WHEN o_orderkey % 11 = 0 THEN 'deleted'
             |       ELSE 'updated' END AS change
             |FROM orders
             |WHERE (o_orderkey % 13 = 0 AND o_orderkey % 11 <> 0)
             |   OR (o_orderkey % 11 = 0 AND o_orderkey % 13 <> 0)
             |   OR (o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
             |       AND o_orderkey % 13 <> 0)""".stripMargin)),

    // ---- MERGE upsert: %10 keys repriced in place + re-inserted under
    // fresh keys; everything else survives untouched ----
    GraftQuery("q_merge_upsert",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        // +1000.0 is exact in binary floating point (unlike a *1.1
        // reprice + round, whose half-ulp ties Spark and DuckDB can
        // round differently) — the fixture stays bit-deterministic.
        val updates = orders.where(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        val inserts = updates
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        graft.operators.TableDiff.merge(orders,
            updates.unionByName(inserts), Seq("o_orderkey"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
             |FROM orders WHERE o_orderkey % 10 <> 0
             |UNION ALL
             |SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0
             |FROM orders WHERE o_orderkey % 10 = 0
             |UNION ALL
             |SELECT o_orderkey + 100000000, o_orderstatus,
             |       o_totalprice + 1000.0
             |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin)),

    // ---- CDC apply: v1 upserts %5 keys, v2 deletes %15 keys and upserts
    // %8 keys; latest version wins per key, delete beats upsert on a tie
    // (%120 keys carry both v2 ops) ----
    GraftQuery("q_cdc_apply",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        def tagged(df: DataFrame, op: String, v: Long): DataFrame =
          df.withColumn("op", lit(op)).withColumn("version", lit(v))
        val changes = tagged(
            orders.where(col("o_orderkey") % 5 === 0)
              .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
            "U", 1L)
          .unionByName(tagged(
            orders.where(col("o_orderkey") % 15 === 0), "D", 2L))
          .unionByName(tagged(
            orders.where(col("o_orderkey") % 8 === 0)
              .withColumn("o_totalprice", col("o_totalprice") + lit(3000.0)),
            "U", 2L))
        graft.operators.TableDiff.applyChanges(orders, changes,
            Seq("o_orderkey"), "op", "version")
          .select(col("o_orderkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice + 3000.0
             |       WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
             |       ELSE o_totalprice END AS o_totalprice
             |FROM orders WHERE o_orderkey % 15 <> 0""".stripMargin)),

    // ---- edit-distance self-join over customer names, k=2; the oracle
    // is the brute-force cross join the operator exists to avoid.
    // Deletion blocking, not segment blocking: ID-shaped names share the
    // "Customer#000" prefix, the exact corpus where segment keys go
    // quadratic (FuzzyJoinSpec pins both blockings to the same result) ----
    GraftQuery("q_fuzzy_join",
      (s, dir) => graft.operators.FuzzyJoin.selfJoinDeletion(
        t(s, dir, "customer").where(col("c_custkey") % 7 === 0),
        "c_custkey", "c_name", k = 2),
      Some("""WITH c AS (SELECT c_custkey, c_name FROM customer
             |          WHERE c_custkey % 7 = 0)
             |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             |       levenshtein(a.c_name, b.c_name) AS dist
             |FROM c a JOIN c b ON a.c_custkey < b.c_custkey
             |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin)),

    // ---- sorted-neighborhood blocking (the third blocker family):
    //      two-phase global rank, 1-D grid window pairs (bucket
    //      equi-join, exactly-once), Levenshtein verify column;
    //      oracle is the brute rank-window join ----
    GraftQuery("q_sorted_neighborhood",
      (s, dir) => graft.operators.FuzzyJoin.sortedNeighborhood(
        t(s, dir, "customer").where(col("c_custkey") % 7 === 0),
        "c_custkey", "c_name", w = 8),
      Some("""WITH c AS (SELECT c_custkey, c_name FROM customer
             |          WHERE c_custkey % 7 = 0),
             |r AS (SELECT c_custkey, c_name,
             |    row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
             |  FROM c)
             |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             |  (b.rnk - a.rnk)::BIGINT AS rank_gap,
             |  levenshtein(a.c_name, b.c_name)::BIGINT AS dist
             |FROM r a JOIN r b
             |  ON b.rnk > a.rnk AND b.rnk - a.rnk <= 7""".stripMargin)),

    // ---- multi-pass sorted neighborhood (the full Hernández–Stolfo
    //      method): name + reversed-name passes, windows UNIONed with
    //      exactly-once cross-pass pair dedup — catches the
    //      transposed-prefix variants one key misses; oracle is the
    //      brute union of both rank-window joins ----
    GraftQuery("q_sorted_neighborhood_multi",
      (s, dir) => graft.operators.FuzzyJoin.sortedNeighborhoodMulti(
        t(s, dir, "customer").where(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), col("c_name"),
            reverse(col("c_name")).as("c_name_rev")),
        "c_custkey", Seq("c_name", "c_name_rev"), w = 8),
      Some("""WITH c AS (SELECT c_custkey, c_name,
             |    reverse(c_name) AS c_rev
             |  FROM customer WHERE c_custkey % 7 = 0),
             |r1 AS (SELECT c_custkey, c_name,
             |    row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
             |  FROM c),
             |p1 AS (SELECT
             |    least(a.c_custkey, b.c_custkey) AS id_a,
             |    greatest(a.c_custkey, b.c_custkey) AS id_b,
             |    0 AS pass, (b.rnk - a.rnk) AS gap,
             |    levenshtein(a.c_name, b.c_name) AS dist
             |  FROM r1 a JOIN r1 b
             |    ON b.rnk > a.rnk AND b.rnk - a.rnk <= 7),
             |r2 AS (SELECT c_custkey, c_name,
             |    row_number() OVER (ORDER BY c_rev, c_custkey) AS rnk
             |  FROM c),
             |p2 AS (SELECT
             |    least(a.c_custkey, b.c_custkey) AS id_a,
             |    greatest(a.c_custkey, b.c_custkey) AS id_b,
             |    1 AS pass, (b.rnk - a.rnk) AS gap,
             |    levenshtein(a.c_name, b.c_name) AS dist
             |  FROM r2 a JOIN r2 b
             |    ON b.rnk > a.rnk AND b.rnk - a.rnk <= 7),
             |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
             |SELECT id_a, id_b,
             |  count(DISTINCT pass)::BIGINT AS n_passes,
             |  min(gap)::BIGINT AS min_gap, min(dist)::BIGINT AS dist
             |FROM u GROUP BY 1, 2""".stripMargin)),

    // ---- categorical drift between snapshots: per-category shares in
    //      exact ppm + absolute gap (sum/2 = total-variation distance —
    //      the log-free drift number that stays exact at any scale) ----
    GraftQuery("q_category_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Profiler.categoryDrift(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "source")
      },
      Some(categoryDriftOracle)),

    // ---- numeric drift: the same TV machinery over sign-safe value
    //      bins — a shifted length/score distribution caught without
    //      logarithms, exact at any scale ----
    GraftQuery("q_numeric_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Profiler.numericDrift(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "n_chars",
          binWidth = 64L)
      },
      Some(numericDriftOracle)),

    // ---- PSI drift: the log-weighted sibling of the TV monitor — a
    //      category going 1% → 0.1% screams where TV barely moves;
    //      shares clamped to >= 1 ppm (the standard zero-bin rule),
    //      each term (sa−sb)·floor(1e6·ln(sa/sb)) with the ln argument
    //      one exact-integer division (the micro-nat discipline) ----
    GraftQuery("q_psi_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Profiler.psiDrift(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "source")
      },
      Some(psiOracle)),

    // ---- numeric PSI drift: the fourth cell of the drift matrix
    //      ({TV, PSI} × {categorical, numeric}) — sign-safe value bins
    //      with the exact-pico PSI arithmetic ----
    GraftQuery("q_psi_numeric",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Profiler.psiNumericDrift(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "n_chars",
          binWidth = 64L)
      },
      Some("""WITH a AS (SELECT ((CASE WHEN n_chars < 0 THEN -1 ELSE 1
             |      END) * (abs(n_chars) // 64))::BIGINT AS bin,
             |    count(*)::BIGINT AS n_a
             |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
             |b AS (SELECT ((CASE WHEN n_chars < 0 THEN -1 ELSE 1
             |      END) * (abs(n_chars) // 64))::BIGINT AS bin,
             |    count(*)::BIGINT AS n_b
             |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
             |j AS (SELECT bin, coalesce(n_a, 0) AS n_a,
             |    coalesce(n_b, 0) AS n_b
             |  FROM a FULL OUTER JOIN b USING (bin)),
             |t AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb
             |      FROM j),
             |sh AS (SELECT bin, n_a, n_b,
             |    greatest(n_a * 1000000 // greatest(ta, 1), 1)::BIGINT AS sa,
             |    greatest(n_b * 1000000 // greatest(tb, 1), 1)::BIGINT AS sb
             |  FROM j CROSS JOIN t)
             |SELECT bin, n_a, n_b,
             |  sa AS share_a_ppm, sb AS share_b_ppm,
             |  ((sa - sb) * CAST(floor(1000000.0 *
             |      ln(sa::DOUBLE / sb::DOUBLE)) AS BIGINT))::BIGINT
             |    AS psi_term_pico
             |FROM sh""".stripMargin)),

    // ---- streamed PSI drift: the SAME fold artifact as the TV
    //      stream (monitors compose over one fold stream), read-side
    //      PSI arithmetic — shares q_psi_drift's oracle verbatim ----
    GraftQuery("q_psi_drift_stream",
      (s, dir) => {
        val base = artifactPath(dir, "psi_stream")
        graft.streaming.StreamingDrift.init(s, base)
        val docs = t(s, dir, "documents")
        for ((slice, i) <- Tables.thirds(docs, "doc_id").zipWithIndex)
          graft.streaming.StreamingDrift.fold(s, base,
            slice.where(col("doc_id") % 2 === 1),
            "source", batchId = i)
        graft.streaming.StreamingDrift.reportPsi(s, base,
          docs.where(col("doc_id") % 2 === 0), "source")
      },
      Some(psiOracle)),

    // ---- streamed categorical drift: the LIVE side arrives in three
    //      id-range folds, each appending its ADDITIVE category-count
    //      delta; the share/TV arithmetic reruns read-side against the
    //      fixed reference, so the report equals the batch monitor on
    //      everything seen (shares q_category_drift's oracle VERBATIM;
    //      a mid-run compaction must not change it) ----
    GraftQuery("q_category_drift_stream",
      (s, dir) => {
        val base = artifactPath(dir, "drift_stream")
        graft.streaming.StreamingDrift.init(s, base)
        val docs = t(s, dir, "documents")
        for ((slice, i) <- Tables.thirds(docs, "doc_id").zipWithIndex) {
          graft.streaming.StreamingDrift.fold(s, base,
            slice.where(col("doc_id") % 2 === 1),
            "source", batchId = i)
          if (i == 1) // mid-run compaction is answer-preserving
            graft.streaming.StreamingDrift.compact(s, base)
        }
        graft.streaming.StreamingDrift.report(s, base,
          docs.where(col("doc_id") % 2 === 0), "source")
      },
      Some(categoryDriftOracle)),

    // ---- streamed numeric drift: same additive fold over sign-safe
    //      value bins (bin ids stringified into the shared category
    //      artifact, cast back on read) — shares q_numeric_drift's
    //      oracle VERBATIM ----
    GraftQuery("q_numeric_drift_stream",
      (s, dir) => {
        val base = artifactPath(dir, "ndrift_stream")
        graft.streaming.StreamingDrift.init(s, base)
        val docs = t(s, dir, "documents")
        for ((slice, i) <- Tables.thirds(docs, "doc_id").zipWithIndex)
          graft.streaming.StreamingDrift.foldNumeric(s, base,
            slice.where(col("doc_id") % 2 === 1),
            "n_chars", binWidth = 64L, batchId = i)
        graft.streaming.StreamingDrift.reportNumeric(s, base,
          docs.where(col("doc_id") % 2 === 0), "n_chars", binWidth = 64L)
      },
      Some(numericDriftOracle)),

    // ---- blocking-quality metrics for BOTH edit-distance blockers:
    // reduction ratio + pair completeness over the same bounded slice
    // the fuzzy join runs on. Both blockers are lossless by pigeonhole,
    // so recall_ppm must be exactly 1e6 — proven against the brute
    // all-pairs truth, not assumed. The oracle reconstructs each
    // blocker's candidate model independently in SQL: PassJoin segment
    // geometry (3 segments, ±2 shifted starts) and FastSS deletion
    // variants AS STRINGS (production keys on xxhash64(variant); a
    // collision could only add a candidate, so a hash-match here also
    // certifies zero collisions on this slice) ----
    GraftQuery("q_fuzzy_blocking_metrics",
      (s, dir) => graft.operators.FuzzyJoin.blockingMetrics(
        t(s, dir, "customer").where(col("c_custkey") % 23 === 0),
        "c_custkey", "c_name", k = 2),
      Some("""WITH c AS MATERIALIZED (
             |  SELECT c_custkey AS id, c_name AS s, length(c_name) AS len
             |  FROM customer WHERE c_custkey % 23 = 0),
             |n AS (SELECT count(*)::BIGINT AS n_rows FROM c),
             |truth AS MATERIALIZED (
             |  SELECT a.id AS id_a, b.id AS id_b
             |  FROM c a JOIN c b ON a.id < b.id
             |  WHERE levenshtein(a.s, b.s) <= 2),
             |idx AS (
             |  SELECT id AS r_id, len AS L, ii.i AS i,
             |    substr(s, ii.i*(len//3) + greatest(0, ii.i-(3-(len%3))) + 1,
             |      (len//3) + CASE WHEN ii.i >= 3-(len%3) THEN 1 ELSE 0 END)
             |      AS seg
             |  FROM c CROSS JOIN (SELECT unnest(range(3)) AS i) ii
             |  WHERE len >= 3),
             |p0 AS (SELECT id AS t_id, s, len,
             |         unnest(range(greatest(3, len-2), len+1)) AS L
             |       FROM c WHERE len >= 3),
             |p1 AS (SELECT t_id, s, len, L, unnest(range(3)) AS i FROM p0),
             |p2 AS (SELECT t_id, s, len, L, i,
             |         (L//3) + CASE WHEN i >= 3-(L%3) THEN 1 ELSE 0 END AS sl,
             |         i*(L//3) + greatest(0, i-(3-(L%3))) AS st0
             |       FROM p1),
             |p3 AS (SELECT t_id, s, L, i, sl,
             |         unnest(range(greatest(0, st0-2),
             |           least(len-sl, st0+2)+1)) AS st
             |       FROM p2),
             |probe AS (SELECT t_id, L, i, substr(s, st+1, sl) AS seg FROM p3),
             |longcand AS (
             |  SELECT DISTINCT least(r_id, t_id) AS id_a,
             |    greatest(r_id, t_id) AS id_b
             |  FROM idx JOIN probe USING (L, i, seg) WHERE r_id <> t_id),
             |shortc AS (
             |  SELECT DISTINCT least(x.id, y.id) AS id_a,
             |    greatest(x.id, y.id) AS id_b
             |  FROM (SELECT id, unnest(range(greatest(0, len-2), len+3))
             |          AS plen
             |        FROM c WHERE len < 3) x
             |  JOIN c y ON y.len = x.plen AND x.id <> y.id),
             |pj AS MATERIALIZED (
             |  SELECT id_a, id_b FROM longcand
             |  UNION SELECT id_a, id_b FROM shortc),
             |v1 AS (SELECT id, unnest(list_concat(list_concat([s],
             |         CASE WHEN length(s) >= 1 THEN
             |           list_transform(range(length(s)),
             |             i -> substr(s, 1, i::INT) || substr(s, i::INT + 2))
             |         ELSE []::VARCHAR[] END),
             |         CASE WHEN length(s) >= 2 THEN
             |           flatten(list_transform(range(length(s) - 1), i ->
             |             list_transform(range(i + 1, length(s)), j ->
             |               substr(s, 1, i::INT) ||
             |               substr(s, i::INT + 2, (j - i - 1)::INT) ||
             |               substr(s, j::INT + 2))))
             |         ELSE []::VARCHAR[] END)) AS v
             |       FROM c),
             |vv AS MATERIALIZED (SELECT DISTINCT id, v FROM v1),
             |fs AS MATERIALIZED (
             |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
             |  FROM vv a JOIN vv b ON a.v = b.v AND a.id < b.id),
             |tt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
             |sel AS (
             |  SELECT 'passjoin' AS method,
             |    (SELECT count(*)::BIGINT FROM pj) AS n_cand,
             |    (SELECT count(*)::BIGINT FROM pj
             |     JOIN truth USING (id_a, id_b)) AS n_hit
             |  UNION ALL
             |  SELECT 'fastss',
             |    (SELECT count(*)::BIGINT FROM fs),
             |    (SELECT count(*)::BIGINT FROM fs
             |     JOIN truth USING (id_a, id_b)))
             |SELECT method, n.n_rows,
             |  (n.n_rows * (n.n_rows - 1) // 2)::BIGINT AS n_pairs_universe,
             |  n_cand, tt.n_true, n_hit,
             |  (n_hit * 1000000 // greatest(tt.n_true, 1))::BIGINT
             |    AS recall_ppm,
             |  ((n.n_rows * (n.n_rows - 1) // 2 - n_cand) * 1000000 //
             |    greatest(n.n_rows * (n.n_rows - 1) // 2, 1))::BIGINT
             |    AS reduction_ppm
             |FROM sel CROSS JOIN n CROSS JOIN tt""".stripMargin)),

    // ---- SCHEMA EVOLUTION read: two write epochs (the second adds a
    //      column) merged into one scan via mergeSchema + partition
    //      discovery — the add-a-column migration every long-lived
    //      table hits; old rows surface NULL for the new column. The
    //      oracle reconstructs the same relation from the base table
    //      (no file reads), proving layout+evolution change nothing. ----
    GraftQuery("q_schema_evolution",
      (s, dir) => {
        val base = artifactPath(dir, "evolve")
        val o = t(s, dir, "orders")
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$base/epoch=1")
        o.where(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$base/epoch=2")
        s.read.option("mergeSchema", "true").parquet(base)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"), col("epoch").cast("long").as("epoch"))
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  CASE WHEN o_orderkey % 2 <> 0 THEN o_orderpriority END
             |    AS o_orderpriority,
             |  CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS epoch
             |FROM orders""".stripMargin)),

    // ---- ENTITY RESOLUTION capstone: fuzzy pairs → connected
    // components → canonical records. Every customer maps to the
    // smallest custkey of its edit-distance-≤2 name cluster (the
    // canonical entity) and carries that entity's name — the classic
    // master-data dedup flow, composed from FuzzyJoin's deletion
    // blocking and dupClusters' CC (both individually oracled). The
    // oracle redoes it brute-force: cross-join pairs + recursive CC. ----
    GraftQuery("q_entity_resolution",
      (s, dir) => {
        val cust = t(s, dir, "customer").where(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), col("c_name"))
        val pairs = graft.operators.FuzzyJoin.selfJoinDeletion(
          cust, "c_custkey", "c_name", k = 2)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        val clusters = graft.operators.Dedup.dupClusters(pairs)
        cust
          .join(clusters.select(col("doc_id").as("c_custkey"), col("cluster_id")),
            Seq("c_custkey"), "left")
          .withColumn("entity_id", coalesce(col("cluster_id"), col("c_custkey")))
          .join(cust.select(col("c_custkey").as("entity_id"),
            col("c_name").as("canonical_name")), Seq("entity_id"))
          .select(col("c_custkey"), col("entity_id"), col("canonical_name"))
      },
      Some(entityResolutionOracle)),

    // ---- STREAMING entity resolution twin: the same corpus folded in
    // three custkey-hash micro-batches through the incremental artifact
    // ([[graft.streaming.StreamingEntityResolution]]) — FastSS variant
    // index probe per batch + updateClusters contraction — must equal the
    // batch capstone bit-for-bit, so it shares q_entity_resolution's
    // brute-force recursive-CC oracle. ----
    GraftQuery("q_entity_resolution_stream",
      (s, dir) => {
        val base = artifactPath(dir, "er_stream")
        graft.streaming.StreamingEntityResolution.init(s, base)
        val cust = t(s, dir, "customer").where(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), col("c_name"))
        (0 to 2).foreach { i =>
          graft.streaming.StreamingEntityResolution.foldBatch(s, base,
            cust.where(pmod(col("c_custkey"), lit(3)) === i),
            "c_custkey", "c_name", k = 2)
        }
        graft.streaming.StreamingEntityResolution.resolved(s, base)
          .select(col("id").as("c_custkey"), col("entity_id"),
            col("canonical_name"))
      },
      Some(entityResolutionOracle)),

    // ---- survivorship / golden record: q_entity_resolution's clusters
    //      collapsed to ONE record per entity under explicit rules —
    //      identity fields from the earliest member (min_by custkey),
    //      numeric fields by best-observation (max balance). All
    //      single-pass min_by/max aggregates; keys are unique so every
    //      rule is deterministic. ----
    GraftQuery("q_golden_record",
      (s, dir) => {
        val cust = t(s, dir, "customer").where(col("c_custkey") % 7 === 0)
        val pairs = graft.operators.FuzzyJoin.selfJoinDeletion(
          cust.select(col("c_custkey"), col("c_name")),
          "c_custkey", "c_name", k = 1)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        val clusters = graft.operators.Dedup.dupClusters(pairs)
        cust
          .join(clusters.select(col("doc_id").as("c_custkey"), col("cluster_id")),
            Seq("c_custkey"), "left")
          .withColumn("entity_id", coalesce(col("cluster_id"), col("c_custkey")))
          .groupBy(col("entity_id"))
          .agg(count(lit(1)).as("n_members"),
            expr("min_by(c_name, c_custkey)").as("name"),
            expr("min_by(c_mktsegment, c_custkey)").as("segment"),
            expr("min_by(c_nationkey, c_custkey)").cast("long").as("nationkey"),
            max(col("c_acctbal")).as("best_acctbal"))
      },
      Some("""WITH RECURSIVE c AS (
             |  SELECT * FROM customer WHERE c_custkey % 7 = 0),
             |p AS (SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b
             |  FROM c a JOIN c b ON a.c_custkey < b.c_custkey
             |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
             |e AS (SELECT doc_a AS a, doc_b AS b FROM p
             |      UNION ALL SELECT doc_b, doc_a FROM p),
             |walk(id, lab) AS (
             |  SELECT a, a FROM e
             |  UNION
             |  SELECT e.a, walk.lab FROM e JOIN walk ON walk.id = e.b),
             |comp AS (SELECT id, min(lab) AS cluster_id FROM walk GROUP BY id),
             |g AS (SELECT c.*,
             |    coalesce(comp.cluster_id, c.c_custkey) AS entity_id
             |  FROM c LEFT JOIN comp ON c.c_custkey = comp.id)
             |SELECT entity_id, count(*)::BIGINT AS n_members,
             |  arg_min(c_name, c_custkey) AS name,
             |  arg_min(c_mktsegment, c_custkey) AS segment,
             |  arg_min(c_nationkey, c_custkey)::BIGINT AS nationkey,
             |  max(c_acctbal) AS best_acctbal
             |FROM g GROUP BY entity_id""".stripMargin)),

    // ---- exact shared spans: document pairs sharing a verbatim 6-word
    // run (span-level dedup signal MinHash document similarity misses) ----
    GraftQuery("q_span_dedup",
      (s, dir) => graft.operators.Spans.sharedSpans(
        t(s, dir, "documents"), "doc_id", "text", w = 6),
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), w -> w <> '') AS words
             |  FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |    unnest(list_transform(range(len(words) - 5),
             |      i -> array_to_string(list_slice(words, i + 1, i + 6), ' ')))
             |      AS gram
             |  FROM d WHERE len(words) >= 6)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       count(*) AS n_shared_spans, min(a.gram) AS first_span
             |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |GROUP BY 1, 2""".stripMargin)),

    // ---- repeated-span REMOVAL (Lee et al. ExactSubstr, word-level):
    // drop every position covered by an 8-gram occurring >= 2 times
    // corpus-wide, reassemble survivors in order — the rewrite step
    // that detection-only q_span_dedup stops short of; linear (never
    // pairs occurrences), so no hot-gram cap needed ----
    GraftQuery("q_span_removal",
      (s, dir) => graft.operators.Spans.removeRepeatedSpans(
        t(s, dir, "documents"), "doc_id", "text", w = 8),
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), w -> w <> '') AS words
             |  FROM documents),
             |occ0 AS (SELECT doc_id, unnest(list_transform(range(len(words)-7),
             |    i -> struct_pack(i := i,
             |      h := ('0x'||substr(md5(
             |        list_aggregate(words[i+1:i+8],'string_agg',' ')),1,15))::BIGINT)))
             |    AS g
             |  FROM d WHERE len(words) >= 8),
             |occ AS (SELECT doc_id, g.i AS i, g.h AS h FROM occ0),
             |dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) >= 2),
             |cov AS (SELECT DISTINCT doc_id, p FROM
             |    (SELECT doc_id, unnest(range(i, i+8)) AS p FROM occ
             |     WHERE h IN (SELECT h FROM dup))),
             |tok0 AS (SELECT doc_id, unnest(list_transform(range(len(words)),
             |    j -> struct_pack(p := j, word := words[j+1]))) AS t FROM d),
             |tok AS (SELECT doc_id, t.p AS p, t.word AS word FROM tok0),
             |kept AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
             |    string_agg(word, ' ' ORDER BY p) AS clean_text
             |  FROM tok WHERE NOT EXISTS
             |    (SELECT 1 FROM cov WHERE cov.doc_id = tok.doc_id AND cov.p = tok.p)
             |  GROUP BY 1)
             |SELECT d.doc_id, len(words)::BIGINT AS n_words,
             |  (len(words) - COALESCE(n_kept, 0))::BIGINT AS n_removed,
             |  COALESCE(clean_text, '') AS clean_text
             |FROM d LEFT JOIN kept USING (doc_id)""".stripMargin)),

    // ---- column profiling: one-pass stats over orders ----
    GraftQuery("q_profile",
      (s, dir) => graft.operators.Profiler.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate")),
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate")
        cols.map { c =>
          s"""SELECT '$c' AS "column", count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_value,
             |  CAST(max($c) AS VARCHAR) AS max_value
             |FROM orders""".stripMargin
        }.mkString("\nUNION ALL\n")
      }),

    // ---- small-file compaction: 64-file lineitem → target-size bins;
    // the oracle proves content identity through the rewrite ----
    GraftQuery("q_compact_files",
      (s, dir) => {
        val in = artifactPath(dir, "compact/in")
        val out = artifactPath(dir, "compact/out")
        t(s, dir, "lineitem").repartition(64)
          .write.mode("overwrite").parquet(in)
        graft.operators.Compaction.compact(s, in, out,
          targetBytes = 16L * 1024 * 1024)
        graft.operators.Compaction.readCompacted(s, out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
             |  round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // ---- Gopher repetition signals over word 2-grams ----
    GraftQuery("q_text_repetition",
      (s, dir) => graft.operators.TextAnalysis.repetitionSignals(
        t(s, dir, "documents"), "doc_id", "text", n = 2),
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), w -> w <> '') AS words
             |  FROM documents WHERE len(list_filter(string_split(text, ' '),
             |    w -> w <> '')) >= 2),
             |g AS (SELECT doc_id,
             |    unnest(list_transform(range(len(words) - 1),
             |      i -> array_to_string(list_slice(words, i + 1, i + 2), ' ')))
             |      AS gram
             |  FROM d),
             |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
             |a AS (SELECT doc_id, sum(cnt) AS n_grams, count(*) AS distinct_grams,
             |    max(cnt) AS top_cnt,
             |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
             |  FROM c GROUP BY 1),
             |w AS (SELECT doc_id, len(words) AS n_words,
             |    len(list_distinct(words)) AS n_distinct_words
             |  FROM d)
             |SELECT a.doc_id, a.n_grams::BIGINT AS n_grams,
             |  a.distinct_grams::BIGINT AS distinct_grams,
             |  round(a.top_cnt / CAST(a.n_grams AS DOUBLE), 4) AS top_gram_frac,
             |  round(a.dup_cnt / CAST(a.n_grams AS DOUBLE), 4) AS dup_gram_frac,
             |  round((w.n_words - w.n_distinct_words)
             |        / CAST(w.n_words AS DOUBLE), 4) AS dup_word_frac
             |FROM a JOIN w ON a.doc_id = w.doc_id""".stripMargin)),

    // ---- deflate compressibility signal: not SQL-expressible (zlib) →
    // rows-only check + CompressionSpec bounds ----
    GraftQuery("q_compression_ratio",
      (s, dir) => graft.operators.TextAnalysis.compressionRatio(
        t(s, dir, "documents"), "doc_id", "text"),
      None),

    // ---- incremental view maintenance with retractions: the view built
    // on the base absorbs an insert batch AND a delete batch by merging
    // delta aggregates (cents kept as exact integers — no FP drift
    // between the incremental and recomputed sums); the oracle is the
    // full recompute over the effective row set ----
    // ---- JOIN-view IVM: V = orders ⋈ lineitem maintained under
    //      insert deltas to BOTH sides (V₀ ∪ ΔA⋈B₁ ∪ A₀⋈ΔB — exact
    //      multiset algebra, the ΔA⋈ΔB cross term lands exactly once);
    //      the oracle is the full rejoin the refresh must equal ----
    GraftQuery("q_ivm_join",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val l = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_linenumber"), col("l_quantity"))
        val oOld = o.where(col("o_orderkey") % 10 =!= 0)
        val dO = o.where(col("o_orderkey") % 10 === 0)
        val lOld = l.where(col("l_linenumber") % 3 =!= 0)
        val dL = l.where(col("l_linenumber") % 3 === 0)
        val v0 = oOld.join(lOld, Seq("o_orderkey"))
        graft.operators.Ivm.refreshJoin(v0, dO, oOld, dL, l, Seq("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |  l_linenumber, l_quantity
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin)),

    GraftQuery("q_ivm_retract",
      (s, dir) => {
        val orders = t(s, dir, "orders").withColumn("cents",
          round(col("o_totalprice") * 100, 0).cast("long"))
        val base = orders.where(col("o_orderkey") % 3 =!= 0)
        val inserts = orders.where(col("o_orderkey") % 3 === 0 &&
          col("o_orderkey") % 2 === 0)
        val deletes = base.where(col("o_orderkey") % 5 === 0)
        val view = graft.operators.Ivm.build(base,
          Seq("o_orderstatus"), "cents")
        graft.operators.Ivm.refresh(view, inserts, deletes,
          Seq("o_orderstatus"), "cents")
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt,
             |  count(o_totalprice) AS nn,
             |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
             |       AS BIGINT) AS total
             |FROM orders
             |WHERE (o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0)
             |   OR (o_orderkey % 3 = 0 AND o_orderkey % 2 = 0)
             |GROUP BY 1""".stripMargin)),

    // ---- equi-width histogram of order values: 25k-wide buckets, edge
    // clamping; integer-valued width keeps the bucket division the same
    // IEEE op in both engines ----
    GraftQuery("q_histogram",
      (s, dir) => graft.operators.Profiler.histogram(
        t(s, dir, "orders"), "o_totalprice",
        lo = 0.0, width = 25000.0, nBuckets = 24),
      Some("""SELECT CAST(least(greatest(floor(o_totalprice / 25000.0), 0),
             |            23) AS BIGINT) AS bucket,
             |  count(*) AS n,
             |  round(min(o_totalprice), 2) AS min_value,
             |  round(max(o_totalprice), 2) AS max_value
             |FROM orders WHERE o_totalprice IS NOT NULL
             |GROUP BY 1""".stripMargin)),

    // ---- equi-DEPTH histogram (the CBO/skew-analysis sibling of
    //      q_histogram's equi-width buckets). NOT interpolated
    //      quantiles: Spark percentile() and DuckDB quantile_cont()
    //      interpolate with different arithmetic and demonstrably
    //      diverge by 1 ulp on real inputs — a cross-engine flip
    //      waiting for a boundary that lands on a duplicated value.
    //      Instead, boundaries come from a CUMULATIVE HISTOGRAM over
    //      integer cents (prices are 2-dp doubles; v*100 rounds to the
    //      same integer in both engines because both start from the
    //      same double): b_i = smallest cents value whose cumulative
    //      count reaches i/8 of the rows — exact integer arithmetic
    //      end to end, and an actual data value, never an interpolant.
    //      Scale shape: map-side-combined (cents, count) histogram,
    //      then the TWO-PHASE DISTRIBUTED PREFIX SUM of
    //      Packing.prefixSumInclusive — per-range-partition cumsum in
    //      parallel + P collected totals — so no single-partition
    //      Window node exists anywhere in the plan (r5 verdict: the
    //      previous Window.orderBy(c) cumsum was a one-task straggler
    //      over the ~10^7-value cents domain). The grand total comes
    //      free from the prefix sum's phase 2, replacing the old
    //      broadcast tot join. ----
    GraftQuery("q_equidepth_hist",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select($"l_extendedprice".as("v"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
        val hist = li.groupBy($"c").agg(count(lit(1)).as("cnt"))
        val (cachedCum, cum, tot) =
          graft.operators.Packing.prefixSumInclusive(hist, "c", "cnt")
        val b = cum.agg(
          min(when($"cum" >= lit(tot * 1 / 8), $"c")).as("b1"),
          min(when($"cum" >= lit(tot * 2 / 8), $"c")).as("b2"),
          min(when($"cum" >= lit(tot * 3 / 8), $"c")).as("b3"),
          min(when($"cum" >= lit(tot * 4 / 8), $"c")).as("b4"),
          min(when($"cum" >= lit(tot * 5 / 8), $"c")).as("b5"),
          min(when($"cum" >= lit(tot * 6 / 8), $"c")).as("b6"),
          min(when($"cum" >= lit(tot * 7 / 8), $"c")).as("b7"))
        val out = li.join(broadcast(b))
          .withColumn("bucket", (lit(1) +
            ($"c" > $"b1").cast("int") + ($"c" > $"b2").cast("int") +
            ($"c" > $"b3").cast("int") + ($"c" > $"b4").cast("int") +
            ($"c" > $"b5").cast("int") + ($"c" > $"b6").cast("int") +
            ($"c" > $"b7").cast("int")).cast("long"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"),
            round(min($"v"), 2).as("min_value"),
            round(max($"v"), 2).as("max_value"))
        // 8-row output: drain it so the prefix sum's cached relation is
        // released even for library callers outside the bench's
        // clearCache discipline (ADVICE r6)
        Drain.drained(s, cachedCum, out)
      },
      Some("""WITH li AS (SELECT l_extendedprice AS v,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
             |  FROM lineitem),
             |hist AS (SELECT c, count(*)::BIGINT AS cnt FROM li GROUP BY c),
             |cum AS (SELECT c,
             |    sum(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum,
             |    (SELECT sum(cnt) FROM hist) AS tot
             |  FROM hist),
             |b AS (SELECT
             |    min(CASE WHEN cum >= (tot * 1) // 8 THEN c END) AS b1,
             |    min(CASE WHEN cum >= (tot * 2) // 8 THEN c END) AS b2,
             |    min(CASE WHEN cum >= (tot * 3) // 8 THEN c END) AS b3,
             |    min(CASE WHEN cum >= (tot * 4) // 8 THEN c END) AS b4,
             |    min(CASE WHEN cum >= (tot * 5) // 8 THEN c END) AS b5,
             |    min(CASE WHEN cum >= (tot * 6) // 8 THEN c END) AS b6,
             |    min(CASE WHEN cum >= (tot * 7) // 8 THEN c END) AS b7
             |  FROM cum),
             |x AS (SELECT v,
             |    CAST(1 + (c > b1)::INT + (c > b2)::INT + (c > b3)::INT
             |       + (c > b4)::INT + (c > b5)::INT + (c > b6)::INT
             |       + (c > b7)::INT AS BIGINT) AS bucket
             |  FROM li, b)
             |SELECT bucket, count(*)::BIGINT AS n,
             |  round(min(v), 2) AS min_value, round(max(v), 2) AS max_value
             |FROM x GROUP BY bucket""".stripMargin)))
}
