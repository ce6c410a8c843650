package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The canonical training-corpus cleaning pipeline, composed from the
  * engine's operators (SURVEY.md §2.11) into one deterministic flow:
  *
  *   normalize → language filter → quality filter → exact dedup →
  *   MinHash near-dup dedup → survivors
  *
  * Every stage is a declarative transformation, so Catalyst plans the
  * whole pipeline as one job graph: the normalization/scoring stages are
  * stateless row maps fused into the scan; the two dedup stages are the
  * only shuffles (hash on text digest, then LSH band exchange). Drop
  * decisions are deterministic (smallest doc_id survives; in a verified
  * near-dup pair the larger id drops), so the pipeline is reproducible
  * run-over-run and DuckDB-oracle-checkable end to end.
  */
object CorpusClean {

  /** Whitespace-collapse + trim + lowercase — the normalization every
    * stage downstream keys on. */
  def normExpr(textCol: String): String =
    s"lower(trim(regexp_replace($textCol, '\\\\s+', ' ')))"

  /** @param minQuality   minimum integer quality score
    *                     (see [[TextAnalysis.qualityScore]]; 0..100000)
    * @param lang         keep documents whose stopword language ID is this
    * @param jaccard      near-dup drop threshold on true shingle Jaccard
    * @return surviving (doc_id, norm_text) rows
    */
  def clean(docs: DataFrame, idCol: String, textCol: String,
      lang: String = "en", minQuality: Long = 3000L,
      jaccard: Double = 0.8): DataFrame = {
    // Native kernels for the scan's inner loop: `norm_ws` replaces the
    // \s+ regex (byte-identical output), and `clean_gate` fuses
    // language-ID + quality scoring into ONE boolean predicate per row.
    // The predicate SHAPE matters as much as kernel speed: the generic
    // languageId→filter→qualityScore→filter composition exposes score
    // columns, and predicate pushdown inlines their whole
    // tokenize-and-score expression trees into every consumer below
    // (measured: 69 copies of the norm regex in that plan). A single
    // boolean kernel evaluates once per row; the generic operators keep
    // their own oracled queries (q_lang_id, q_quality).
    val filtered = gateFiltered(docs, idCol, textCol, lang, minQuality)

    // exact dedup: smallest doc_id per identical normalized text;
    // read again by the near-dup pass and the final anti-join. This
    // persist is corpus-sized (it carries norm_text) and follows
    // [[Dedup]]'s cache contract: it serves the returned lazy plan's
    // multiple subtrees and is released by the session's cache clear
    // between pipelines (callers running many pipelines in one session
    // should clearCache, as Verify/Bench do)
    val exactKeep = Dedup.dropExactDuplicates(filtered, "doc_id", "norm_text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // near-dup dedup among exact survivors: larger id of each verified
    // pair drops (chains collapse to their smallest member)
    val dropIds = Dedup.minhashPairs(exactKeep, "doc_id", "norm_text", jaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    exactKeep.join(dropIds, Seq("doc_id"), "left_anti")
      .select("doc_id", "norm_text")
  }

  /** The fused normalize + language/quality gate stage (shared by
    * [[clean]] and [[funnel]]). */
  private def gateFiltered(docs: DataFrame, idCol: String,
      textCol: String, lang: String, minQuality: Long): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        call_function("norm_ws", col(textCol)).as("norm_text"))
      .where(call_function("clean_gate",
        col("norm_text"), lit(lang), lit(minQuality)))

  /** Per-document drop-reason attribution — the funnel at document
    * granularity, the "why was my document dropped?" surface a
    * production pipeline exposes for debugging and appeals: one row
    * per input document with its FATE, the first stage that dropped
    * it (`gate` → `exact_dup` → `near_dup`) or `kept`. Stages are the
    * exact [[clean]] stages: the gate is the same fused kernel
    * evaluated as a per-row BIT (no membership join needed), and exact
    * dedup is the same keeper window via [[Dedup.exactDupRank]] with
    * the rank kept (`__rn > 1` ⇒ exact duplicate).
    *
    * Distribution shape: one per-row gate scan, the shared exact-dedup
    * exchange, the near-dup drop-id set, and two id-keyed left joins —
    * corpus-linear, no pairs. Deliberately NO corpus-sized persists
    * (the relations here carry full text): the returned lazy plan
    * recomputes the document scan and the exact-dedup exchange once
    * more than [[clean]] would, which a debug/observability surface
    * trades gladly for zero retained cache in a long-lived session
    * (the pair generator's internal persists stay id/hash-sized per
    * [[Dedup]]'s cache contract). */
  def dropReasons(docs: DataFrame, idCol: String, textCol: String,
      lang: String = "en", minQuality: Long = 3000L,
      jaccard: Double = 0.8): DataFrame = {
    val base = docs
      .select(col(idCol).cast("long").as("doc_id"),
        call_function("norm_ws", col(textCol)).as("norm_text"))
      .withColumn("__g", call_function("clean_gate",
        col("norm_text"), lit(lang), lit(minQuality)))
    val ranked = Dedup.exactDupRank(
      base.where(col("__g")), "doc_id", "norm_text")
    val exactKeep = ranked.where(col("__rn") === 1)
      .select("doc_id", "norm_text")
    val nearDrop = Dedup.minhashPairs(exactKeep, "doc_id", "norm_text", jaccard)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("__n", lit(1L))
    base.select(col("doc_id"), col("__g"))
      .join(ranked.select(col("doc_id"), col("__rn")), Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("__g"), "gate")
          .when(col("__rn") > 1, "exact_dup")
          .when(col("__n").isNotNull, "near_dup")
          .otherwise("kept").as("fate"))
  }

  /** Curation funnel report — the observability surface every
    * production corpus pipeline publishes: per-stage survivor counts
    * and drop rates through input → gate (normalize + language +
    * quality, fused) → exact dedup → near dedup, the exact stages of
    * [[clean]]. Output: `(stage, stage_name, n_docs, drop_ppm)` with
    * `drop_ppm` relative to the PREVIOUS stage (floored ppm, 0 at
    * stage 0).
    *
    * The four counts are scalars (corpus-independent output), so they
    * are materialized eagerly — which also lets the shared exact-keep
    * relation be persisted for exactly the two passes that need it and
    * unpersisted deterministically before returning (no caller-releases
    * contract needed for a report of four numbers). */
  def funnel(docs: DataFrame, idCol: String, textCol: String,
      lang: String = "en", minQuality: Long = 3000L,
      jaccard: Double = 0.8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n0 = docs.count()
    val filtered = gateFiltered(docs, idCol, textCol, lang, minQuality)
    val n1 = filtered.count()
    val exactKeep = Dedup.dropExactDuplicates(filtered, "doc_id", "norm_text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n2 = exactKeep.count()
    val dropIds = Dedup.minhashPairs(exactKeep, "doc_id", "norm_text", jaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    val n3 = exactKeep.join(dropIds, Seq("doc_id"), "left_anti").count()
    exactKeep.unpersist()
    def ppm(prev: Long, n: Long): Long =
      if (prev <= 0) 0L else (prev - n) * 1000000L / prev
    spark.createDataset(Seq(
        (0L, "input", n0, 0L),
        (1L, "gate", n1, ppm(n0, n1)),
        (2L, "exact_dedup", n2, ppm(n1, n2)),
        (3L, "near_dedup", n3, ppm(n2, n3))))
      .toDF("stage", "stage_name", "n_docs", "drop_ppm")
  }
}
