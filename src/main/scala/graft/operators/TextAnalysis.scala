package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline surface
  * (SURVEY.md §2.11): language ID, quality scoring, token counting,
  * document fingerprinting.
  *
  * All four are stateless per-row column programs — no shuffle, perfectly
  * parallel, exactly what a 100 TB corpus scan wants. Each has a DuckDB
  * oracle (registered in [[graft.queries.Extensions]]) because every
  * computation here is integer/rational arithmetic over tokens with a
  * strict left-fold order.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram-free language-ID
    * heuristic: score(lang) = number of tokens in that language's list
    * (with multiplicity); prediction = alphabetically-first argmax. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "es", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "不", "我", "有"))

  private def arrayLit(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("array(", ", ", ")")

  /** doc → per-language stopword-hit scores + predicted language.
    * Tie-break: first language in alphabetical order with the max score
    * (expressed as a strict CASE chain so the oracle matches exactly).
    * `keep` carries extra input columns through (lets a pipeline filter
    * on pred_lang WITHOUT a rejoin on doc_id — see CorpusClean). */
  def languageId(docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val withScores = stopwords.foldLeft(
      docs.select(col(idCol).as("doc_id") +: keep.map(col) :+
        expr(Dedup.wordsExpr(textCol)).as("words"): _*)) {
      case (df, (lang, sw)) =>
        df.withColumn(s"score_$lang",
          expr(s"size(filter(words, w -> array_contains(${arrayLit(sw)}, w)))")
            .cast("long"))
    }
    val langs = stopwords.map(_._1)
    val pred = langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"score_$l >= score_$o").mkString(" AND ")
      val gtPrior = langs.filter(_ < l).map(o => s"score_$l > score_$o")
      val cond = (Seq(geAll) ++ gtPrior).mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("CASE ", " ", " END")
    withScores.withColumn("pred_lang", expr(pred))
      .select(col("doc_id") +: (keep.map(col) ++
        langs.map(l => col(s"score_$l"))) :+ col("pred_lang"): _*)
  }

  /** Tiny per-language character-trigram profiles (top function-word
    * trigrams incl. boundary spaces) for the n-gram language-ID variant.
    * Real systems learn these from corpora; the mechanics are identical. */
  val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "ie ", "ein", "ich", "nd ", "che", "sch", "und"),
    "en" -> Seq("the", "he ", "ing", " th", "and", "ion", " of", "ed "),
    "es" -> Seq(" de", "os ", "ión", "ent", "la ", "ue ", "as ", "que"),
    "fr" -> Seq("es ", " de", "le ", "ent", "ion", "la ", " le", "une"))

  /** N-gram language ID: slide a 3-char window over the lowercased text,
    * score each language by profile-trigram hits (with multiplicity),
    * predict the alphabetically-first argmax. Same shape as [[languageId]]
    * but character-level — robust to languages without word separators. */
  def languageIdNgram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // native kernel: lowercases once and slides in one loop; the SQL
    // formulation re-evaluates lower(text) per gram and per language
    val withScores = trigramProfiles.foldLeft(
      docs.select(col(idCol).as("doc_id"), col(textCol))
        .where(expr(s"length($textCol) >= 3"))) {
      case (df, (lang, tg)) =>
        df.withColumn(s"tg_$lang",
          expr(s"trigram_hits($textCol, ${arrayLit(tg)})"))
    }
    val langs = trigramProfiles.map(_._1)
    val pred = langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"tg_$l >= tg_$o")
      val gtPrior = langs.filter(_ < l).map(o => s"tg_$l > tg_$o")
      s"WHEN ${(geAll ++ gtPrior).mkString(" AND ")} THEN '$l'"
    }.mkString("CASE ", " ", " END")
    withScores.withColumn("pred_lang", expr(pred)).drop(textCol)
  }

  /** Heuristic quality features + a composite score:
    * n_tokens, type/token ratio, mean token length, stopword ratio,
    * alpha-char ratio. Score weights are arbitrary but fixed; every term
    * is a ratio of exact integers so the double arithmetic is
    * cross-engine identical. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil): DataFrame =
    docs
      .select(col(idCol).as("doc_id") +: keep.map(col) :+
        col(textCol).as("text") :+
        expr(Dedup.wordsExpr(textCol)).as("words"): _*)
      .where(expr("size(words) >= 1"))
      .select((col("doc_id") +: keep.map(col)) ++ Seq(
        expr("size(words)").cast("long").as("n_tokens"),
        expr("round(size(array_distinct(words)) / CAST(size(words) AS DOUBLE), 4)")
          .as("ttr"),
        expr("""round(aggregate(words, 0, (acc, w) -> acc + length(w))
               |      / CAST(size(words) AS DOUBLE), 4)""".stripMargin)
          .as("mean_tok_len"),
        expr(s"""round(size(filter(words, w -> array_contains(
                |  ${arrayLit(stopwords.toMap.apply("en"))}, w)))
                |  / CAST(size(words) AS DOUBLE), 4)""".stripMargin)
          .as("stop_ratio"),
        expr("""round(length(regexp_replace(text, '[^a-zA-Z]', ''))
               |      / CAST(length(text) AS DOUBLE), 4)""".stripMargin)
          .as("alpha_ratio")): _*)
      // Integer-exact composite: each ratio is already rounded to 4 dp, so
      // round(r*1e4) recovers its exact integer numerator; 3/3/4-weighting
      // in integers avoids the half-ulp double boundary that a
      // `round(0.3*a + 0.3*b + 0.4*c, 4)` formulation hits (observed
      // cross-engine flip at sf0.1: 0.48415 rounding both ways).
      .withColumn("quality",
        expr("""CAST(round(ttr * 10000) * 3 + round(stop_ratio * 10000) * 3
               |     + round(alpha_ratio * 10000) * 4 AS BIGINT)""".stripMargin))

  /** Adaptive quality gate: drop (approximately) the bottom `dropFrac`
    * of documents PER GROUP (e.g. per language) by composite quality —
    * a fixed global threshold over- or under-filters low-resource
    * languages; a per-group percentile adapts.
    *
    * Scale shape: NOT a `percent_rank` window partitioned by group —
    * that sorts every group in one task (a million-doc language = one
    * straggler). The quality score is a bounded integer, so the exact
    * per-group threshold comes from a (group, quality) COUNT histogram
    * (map-side combined, tiny result), a cumulative window over that
    * tiny relation, and a broadcast join back. Two corpus scans' worth
    * of work, no big sort, exact semantics: threshold = smallest q with
    * cum_count ≥ dropFrac·total; keep quality ≥ threshold (so at MOST
    * dropFrac is dropped — ties keep). */
  def adaptiveQualityFilter(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, dropFrac: Double = 0.25): DataFrame = {
    val scored = qualityScore(docs, idCol, textCol, keep = Seq(groupCol))
      .select(col("doc_id"), col(groupCol), col("quality"))
    val hist = scored.groupBy(col(groupCol), col("quality"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("quality"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val thresholds = hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("tot", sum(col("c")).over(wAll))
      .where(col("cum") >= col("tot") * dropFrac)
      .groupBy(col(groupCol)).agg(min(col("quality")).as("q_thr"))
    scored
      .join(broadcast(thresholds), Seq(groupCol))
      .where(col("quality") >= col("q_thr"))
      .select(col("doc_id"), col(groupCol), col("quality"), col("q_thr"))
  }

  /** Token counts: whitespace tokens and BPE-ish regex pieces
    * (letter runs / digit runs / single other non-space chars). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      expr(s"size(${Dedup.wordsExpr(textCol)})").cast("long").as("n_ws_tokens"),
      // group idx 0 = whole match (Spark defaults to 1, DuckDB to 0)
      expr(s"size(regexp_extract_all($textCol, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))")
        .cast("long").as("n_bpe_tokens"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Order-sensitive rolling-hash fingerprint over token hashes:
    * fp = foldLeft(h(w_i)) of (acc*31 + h) % P — distinguishes documents
    * with equal token multisets but different order (unlike MinHash). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), expr(Dedup.wordsExpr(textCol)).as("words"))
      .where(expr("size(words) >= 1"))
      .select(col("doc_id"),
        expr(Dedup.foldDigest(s"transform(words, w -> ${Dedup.h60("w")})"))
          .as("fingerprint"))

  /** Within-document repetition signals (the Gopher/MassiveText repetition
    * filters — Rae et al. 2021 §A.1.1, public paper): documents dominated
    * by repeated n-grams are boilerplate/spam and poison training data.
    *
    * Per document, over word `n`-grams:
    *  - `n_grams`        total n-gram occurrences,
    *  - `distinct_grams` distinct n-grams,
    *  - `top_gram_frac`  occurrences of the most frequent n-gram / total,
    *  - `dup_gram_frac`  fraction of occurrences whose n-gram occurs >1×,
    *  - `dup_word_frac`  fraction of word occurrences that are repeats.
    *
    * Scale: one CORPUS-scale shuffle, keyed `(doc_id, gram)` — the
    * within-doc gram histogram. That key spreads a single huge document
    * across reducers (grams differ), so a 1 GB outlier doc cannot
    * straggle one task the way a doc_id-keyed explode would. The later
    * exchanges (histogram → per-doc stats, join with the word stats) move
    * only doc-sized rows. The word-level signal itself needs no shuffle
    * (array HOFs in codegen).
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      expr(Dedup.wordsExpr(textCol)).as("words"))
      .where(expr(s"size(words) >= $n"))
    val grams = words.select(col("doc_id"),
      explode(expr(
        s"""transform(sequence(0, size(words) - $n),
           |  i -> array_join(slice(words, i + 1, $n), ' '))""".stripMargin))
        .as("gram"))
    val hist = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val gramStats = hist.groupBy(col("doc_id")).agg(
      sum(col("cnt")).as("n_grams"),
      count(lit(1)).as("distinct_grams"),
      max(col("cnt")).as("top_cnt"),
      sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0))).as("dup_cnt"))
    val wordStats = words.select(col("doc_id"),
      expr("size(words)").cast("long").as("n_words"),
      expr("size(array_distinct(words))").cast("long").as("n_distinct_words"))
    gramStats.join(wordStats, "doc_id")
      .select(col("doc_id"), col("n_grams"), col("distinct_grams"),
        round(col("top_cnt") / col("n_grams"), 4).as("top_gram_frac"),
        round(col("dup_cnt") / col("n_grams"), 4).as("dup_gram_frac"),
        round((col("n_words") - col("n_distinct_words")) / col("n_words"), 4)
          .as("dup_word_frac"))
  }

  /** Gopher-style rule-based document filter: the hard pass/fail gates
    * from the Gopher / MassiveText cleaning recipe (word-count bounds,
    * mean-word-length bounds, minimum stopword evidence, single-token
    * dominance), emitted as one 0/1 flag per rule plus the conjunctive
    * `keep` — a pipeline wants the per-rule attribution (which gate
    * kills how much of which source), not just the verdict.
    *
    * Every threshold is an INTEGER cross-multiplication (`3·n ≤ chars ≤
    * 10·n`, `5·max_tf ≤ n`), never a float ratio — the flags are exact,
    * engine-independent, and immune to the rounded-boundary flips float
    * thresholds hit across engines.
    *
    * Scale shape: one explode → (doc, word) partial-agg → per-doc agg;
    * both aggregations map-side combine, nothing else moves. Documents
    * with zero tokens have no (doc, word) rows and drop out — the
    * length gate would kill them anyway.
    *
    * Stopword evidence uses the English list (Gopher's own bias); a
    * multilingual gate should route each document through its
    * language's list ([[languageId]] upstream) before this filter.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 30, maxWords: Int = 100000): DataFrame = {
    val stop = stopwords.toMap.apply("en")
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(expr(Dedup.wordsExpr(textCol))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_words"),
        sum(col("tf") * length(col("word"))).as("n_chars"),
        sum(when(col("word").isin(stop: _*), col("tf")).otherwise(lit(0L)))
          .as("n_stop"),
        max(col("tf")).as("max_tf"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_stop"),
        col("max_tf"),
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .cast("int").as("r_len"),
        (lit(3) * col("n_words") <= col("n_chars") &&
          col("n_chars") <= lit(10) * col("n_words"))
          .cast("int").as("r_wordlen"),
        (col("n_stop") >= 2).cast("int").as("r_stop"),
        (lit(5) * col("max_tf") <= col("n_words")).cast("int").as("r_dom"))
      .withColumn("keep",
        (col("r_len") * col("r_wordlen") * col("r_stop") * col("r_dom"))
          .cast("int"))
  }

  /** Characteristic vocabulary per class (source/topic/cluster) — the
    * c-TF-IDF idea (class-based TF-IDF, as popularized by BERTopic)
    * reduced to exact integer arithmetic: a term's CONCENTRATION
    * `conc_ppm = tf(term, class)·10⁶ div tf(term)` is the share of the
    * term's corpus occurrences captured by the class; with a minimum
    * in-class support it surfaces the terms that are both frequent in
    * and specific to the class ("what words make this source itself").
    *
    * Integer-exact end to end (the ratio is a ppm integer division, no
    * logs), so the oracle reproduces it bit-for-bit. The product
    * `tf·10⁶` stays far from BIGINT range until a single term exceeds
    * ~9·10¹² in-class occurrences.
    *
    * Scale shape: one tokenize pass builds the (class, word, tf)
    * relation (persisted — it feeds the global term counts and the
    * score join); everything after is vocabulary-sized, not
    * corpus-sized, and the min-support filter shrinks the per-class
    * rank input further. The per-class window ranks the filtered vocab
    * — bounded by distinctive-term count per class, not corpus size.
    *
    * @return (cachedTfc, topTerms) — caller releases `cachedTfc` after
    *         materializing (same contract as [[Retrieval.bm25TopK]]). */
  def classTerms(docs: DataFrame, classCol: String, textCol: String,
      minTf: Long, k: Int): (DataFrame, DataFrame) = {
    val tfc = docs
      .select(col(classCol).as("class"),
        explode(expr(Dedup.wordsExpr(textCol))).as("word"))
      .groupBy(col("class"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gtf = tfc.groupBy(col("word")).agg(sum(col("tf")).as("gtf"))
    val scored = tfc.join(gtf, "word")
      .where(col("tf") >= minTf)
      .select(col("class"), col("word"), col("tf"),
        expr("tf * 1000000L DIV gtf").as("conc_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("class"))
      .orderBy(col("conc_ppm").desc, col("tf").desc, col("word"))
    (tfc, scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k))
  }

  /** Corpus-wide adjacent character-pair counts — the statistic one BPE
    * training iteration maximizes ("which two symbols merge next").
    * Pairs are counted within words, weighted by corpus word frequency
    * (the classic BPE formulation: count over the word-frequency table,
    * not the raw stream — the `(word, freq)` relation is vocabulary-
    * sized, so the expensive explode runs over distinct words only).
    *
    * This is iteration ONE of the merge loop: a full tokenizer trainer
    * re-segments after each merge, an inherently sequential refinement
    * (each iteration is one cheap pass over the re-segmented vocab
    * relation); the expensive corpus scan happens once, here.
    */
  def bpePairCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wf = docs
      .select(explode(expr(Dedup.wordsExpr(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // length guard BEFORE the sequence: sequence(1, 0) runs DESCENDING
    // in Spark and would emit garbage pairs for 1-char words
    wf.where(length(col("word")) >= 2)
      .select(col("freq"),
        explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
  }

  /** N ROUNDS of BPE merge induction (r8 verdict #8 — the full tokenizer
    * trainer loop, not just iteration one): per round, count adjacent
    * symbol pairs over the word-frequency table, pick the argmax merge
    * (count desc, then lexicographic — the deterministic tiebreak), and
    * RE-SEGMENT every word before the next round. Returns the trained
    * merge list (round, left_sym, right_sym, cnt).
    *
    * Segmentations are encoded as <SOH>-delimited strings
    * ("<SOH>h<SOH><SOH>e<SOH>…" — every symbol carries both its own
    * delimiters), which makes greedy LEFT-TO-RIGHT NON-OVERLAPPING merge
    * application — the classic BPE rule — exactly the SQL `replace`
    * function in both engines, so the whole loop stays declarative: no
    * UDF, no driver-side segmentation, and per-round argmax is a 1-row
    * relation cross-joined into the next round (never collected).
    *
    * Scale notes: the corpus is scanned ONCE (the word-frequency
    * groupBy); each round is one pair-count aggregate plus one map over
    * the VOCABULARY-sized relation — the classic reason BPE trainers run
    * on the word-frequency table. Rounds are inherently sequential;
    * vocab is localCheckpoint'd per round because round r+1 references
    * round r twice (through the argmax and the re-segmentation), which
    * would otherwise double the logical plan every round. */
  def bpeMerges(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame =
    bpeTrain(docs, idCol, textCol, rounds)._1

  /** BYTE-level BPE trainer (the GPT-2 family's shape): the base
    * alphabet is the word's UTF-8 BYTES, each carried as its 2-hex-char
    * symbol, so a multibyte character starts life as several symbols and
    * frequent sequences — including whole multibyte characters — are
    * re-joined by merges. This is what makes the tokenizer
    * vocabulary-complete over ANY text with no unknown-token escape,
    * which is why multilingual tokenizers train at byte level. Same
    * declarative loop as [[bpeMerges]]; only the initial segmentation
    * differs. */
  def bpeMergesBytes(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame =
    bpeTrain(docs, idCol, textCol, rounds, byteLevel = true)._1

  /** Byte-level train→apply twin of [[bpeEncode]]. */
  def bpeEncodeBytes(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame =
    bpeEncodeFrom(docs, idCol, textCol,
      bpeTrain(docs, idCol, textCol, rounds, byteLevel = true)._2)

  /** BPE ENCODE: apply the `rounds`-merge tokenizer trained on this very
    * corpus to every document — the train→apply round trip. Output is
    * (doc_id, n_words, n_bpe_tokens): token counts under the learned
    * segmentation. Per-word segment sizes join back through the
    * word-frequency vocabulary, so encode costs one small join, never a
    * per-document re-segmentation — the reason real BPE encoders
    * precompute a word→pieces table. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame =
    bpeEncodeFrom(docs, idCol, textCol,
      bpeTrain(docs, idCol, textCol, rounds)._2)

  private def bpeEncodeFrom(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val sep = "\u0001"
    val pieces = vocab.select(col("word"),
      size(split(expr("substring(wstr, 2, length(wstr) - 2)"), sep + sep))
        .cast("long").as("n_pieces"))
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(expr(Dedup.wordsExpr(textCol))).as("word"))
      .join(pieces, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_bpe_tokens"))
  }

  /** Shared trainer core: (merge list, final word→segmentation vocabulary
    * with ALL `rounds` merges applied). The final application stays LAZY:
    * bpeMerges never pays for it, bpeEncode consumes it once. */
  private def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int, byteLevel: Boolean = false): (DataFrame, DataFrame) = {
    val sep = "\u0001"
    // char level: one symbol per CODE POINT ('.': one rune in both
    // engines); byte level: one symbol per UTF-8 BYTE, carried as its
    // 2-hex-char pair (hex(encode(word)) — uppercase in Spark and
    // DuckDB alike), so merges can re-join multibyte characters
    val segCol =
      if (byteLevel)
        regexp_replace(expr("hex(encode(word, 'UTF-8'))"), "(..)",
          s"$sep$$1$sep")
      else regexp_replace(col("word"), "(.)", s"$sep$$1$sep")
    var vocab = docs
      .select(explode(expr(Dedup.wordsExpr(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .where(!col("word").contains(sep)) // vacuous on the ASCII corpus
      .select(col("word"), segCol.as("wstr"), col("freq"))
      .localCheckpoint(true)
    val mergeExpr = expr(
      """replace(wstr,
        |  concat(chr(1), left_sym, chr(1), chr(1), right_sym, chr(1)),
        |  concat(chr(1), left_sym, right_sym, chr(1)))""".stripMargin)
    val outs = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val toks = vocab.select(col("freq"),
        split(expr("substring(wstr, 2, length(wstr) - 2)"), sep + sep).as("t"))
      val best = toks.where(size(col("t")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(t) - 1),
            |  i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("left_sym"), col("right_sym"))
        .limit(1)
        .select(lit(r.toLong).as("round"),
          col("left_sym"), col("right_sym"), col("cnt"))
        .localCheckpoint(true)
      outs += best
      // LEFT join on the 0-or-1-row argmax, NOT a cross join: once the
      // corpus runs out of mergeable pairs `best` is EMPTY, and a cross
      // join would wipe the whole vocabulary (and bpeEncode's output
      // with it) — an exhausted round must leave segmentations unchanged
      val applied = vocab.join(broadcast(best), lit(true), "left")
        .select(col("word"),
          when(col("left_sym").isNull, col("wstr"))
            .otherwise(mergeExpr).as("wstr"),
          col("freq"))
      vocab = if (r < rounds) applied.localCheckpoint(true) else applied
    }
    (outs.result().reduce(_ unionByName _), vocab.select("word", "wstr"))
  }

  /** Deflate compression ratio per document — the classic cheap "is this
    * text natural language or degenerate boilerplate" signal (highly
    * repetitive text compresses far below normal prose). Runs the JDK
    * Deflater at the default level inside `mapPartitions` (one Deflater
    * per partition, reused across rows — allocation-free in the loop).
    * Deterministic for a fixed zlib level, but NOT SQL-expressible →
    * rows-only oracle + CompressionSpec bounds.
    *
    * Scale: stateless per-row scan, no shuffle; compressing is ~100 MB/s
    * per core, so a 100 TB corpus costs ~the same as one parquet decode
    * pass — typically gated AFTER the cheap length/ratio filters.
    */
  def compressionRatio(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        // Deflater holds NATIVE zlib buffers the GC does not account for;
        // without an explicit end() an executor churning through many
        // tasks leaks native memory until the container OOM-kills it
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        val out = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          // NULL text ≡ empty document (ratio pinned at 1.0)
          val raw =
            if (text == null) Array.emptyByteArray
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished()) compressed += deflater.deflate(out)
          (id, raw.length.toLong, compressed,
            if (raw.length == 0) 1.0
            else math.rint(compressed.toDouble / raw.length * 10000) / 10000)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate_bytes", "deflate_ratio")
  }

  /** Dictionary phrase tagging — the Aho-Corasick / FlashText use case
    * (taxonomy tagging, blocklist matching), done declaratively: explode
    * each document's word n-grams ONLY for the word lengths the
    * dictionary actually contains, then equi-join the dictionary.
    * Per-corpus work is one scan × (#distinct phrase lengths) — no
    * per-row automaton, no K regex passes — and the join is an ordinary
    * shuffled equi-join AQE broadcasts when the dictionary is small.
    * Overlapping and nested matches all count, exactly like an
    * automaton reporting every dictionary hit.
    *
    * `dict` is one `phrase` column of space-separated words; it is the
    * SMALL side by contract — its distinct word lengths (a handful of
    * ints) are collected to drive plan construction, never its rows.
    * Returns `(doc_id, phrase, n_hits, first_pos)` with 1-based word
    * positions; phrase words are matched exactly ([[Dedup.wordsExpr]]
    * tokens both sides). */
  def phraseTag(docs: DataFrame, idCol: String, textCol: String,
      dict: DataFrame): DataFrame = {
    val lens = dict
      .select(expr(s"cardinality(${Dedup.wordsExpr("phrase")})")
        .cast("int").as("n"))
      .where(col("n") >= 1).distinct().collect().map(_.getInt(0)).sorted
    require(lens.nonEmpty, "phrase dictionary is empty")
    val words = docs.select(col(idCol).cast("long").as("doc_id"),
      expr(Dedup.wordsExpr(textCol)).as("w"))
    val grams = lens.map { n =>
      // sequence() runs DESCENDING when the bound is < 1 — guard short docs
      words.select(col("doc_id"), explode(expr(
        s"""if(size(w) < $n, array(),
           |  transform(sequence(1, size(w) - $n + 1),
           |    p -> named_struct('pos', p,
           |      'phrase', concat_ws(' ', slice(w, p, $n)))))"""
          .stripMargin)).as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"),
          col("g.phrase").as("phrase"))
    }.reduce(_ unionByName _)
    grams.join(dict.select(col("phrase")).distinct(), Seq("phrase"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).cast("long").as("n_hits"),
        min(col("pos")).cast("long").as("first_pos"))
  }

  /** Sampling-rate granularity for [[tokenBudgetMix]]: rates are
    * multiples of 1/65536 (~0.0015%), and the integer cross-multiplied
    * keep rule `bucket * total < budget * 65536` stays below 2^63 for
    * per-domain token totals up to ~1.4e14 (≈ a 100 TB text corpus in
    * one domain) — the float-free ceiling, documented rather than
    * silently wrapped. */
  val MixBuckets = 65536L

  /** Token-budget data mixing: downsample over-represented domains so
    * each lands at (at most) an equal share of the global token count —
    * the rebalance step of an LLM training-data mix, with the rate
    * COMPUTED from the corpus rather than given (the given-rates half is
    * `q_stratified_sample`). Per domain d: budget B = totalTokens /
    * nDomains; a doc is kept iff its 16-bit hash bucket satisfies
    * `bucket * T_d < B * MixBuckets` — the exact integer form of
    * keep-rate min(1, B/T_d), no floats anywhere, so the kept SET (not
    * just its size) is deterministic and engine-independent.
    *
    * Shape at scale: one corpus scan for per-doc token counts, a
    * domain-sized aggregate, a 1-row global broadcast, and an equi-join
    * of the corpus against the domain totals (AQE broadcasts it when
    * domains are few; web-domain-keyed mixes stay a shuffled join) — no
    * windows, no driver-side loops. Returns the per-domain audit
    * `(domain, n_docs, total_tokens, budget_tokens, kept_docs,
    * kept_tokens)`; pipelines that need the rows themselves reuse the
    * same keep predicate. */
  def tokenBudgetMix(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String): DataFrame = {
    val w = docs.select(col(idCol).cast("long").as("doc_id"),
      col(domainCol).as("domain"),
      expr(s"cardinality(${Dedup.wordsExpr(textCol)})").cast("long")
        .as("toks"),
      expr(s"${Dedup.h60(s"concat($idCol, ':', $domainCol)")} % $MixBuckets")
        .as("bucket"))
    val totals = w.groupBy(col("domain")).agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("toks")).cast("long").as("total_tokens"))
    val global = totals.agg(
      sum(col("total_tokens")).cast("long").as("gt"),
      count(lit(1)).cast("long").as("nd"))
    val budgeted = totals.crossJoin(broadcast(global))
      .withColumn("budget_tokens", expr("gt div nd"))
      .localCheckpoint(true) // domain-sized; read by both joins below —
      // without it the corpus-wide totals aggregate would run twice
    val kept = w
      .join(budgeted.select(col("domain"), col("total_tokens"),
        col("budget_tokens")), Seq("domain"))
      .where(col("bucket") * col("total_tokens") <
        col("budget_tokens") * lit(MixBuckets))
      .groupBy(col("domain")).agg(
        count(lit(1)).cast("long").as("kept_docs"),
        sum(col("toks")).cast("long").as("kept_tokens"))
    budgeted.join(kept, Seq("domain"), "left")
      .select(col("domain"), col("n_docs"), col("total_tokens"),
        col("budget_tokens"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** Corpus-level distinct-n DIVERSITY per group (the generated-corpus
    * diversity eval): for each n in 1..maxN, the group's total and
    * distinct word n-grams and the distinct share in ppm (floored —
    * exact integers). Complements [[repetitionSignals]], which is the
    * same statistic WITHIN one document; diversity is about what the
    * whole group keeps repeating. One explode per n (unioned), one
    * two-phase aggregation — the distinct runs map-side partial, the
    * result is |groups|·maxN rows. No windows, no collect. */
  def ngramDiversity(docs: DataFrame, textCol: String, groupCol: String,
      maxN: Int = 3): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1 (got $maxN)")
    val words = docs.select(col(groupCol).as(groupCol),
      expr(Dedup.wordsExpr(textCol)).as("words"))
    val grams = (1 to maxN).map { n =>
      words.where(size(col("words")) >= n)
        .select(col(groupCol), lit(n.toLong).as("n"),
          explode(expr(
            s"""transform(sequence(0, size(words) - $n),
               |  i -> array_join(slice(words, i + 1, $n), ' '))"""
              .stripMargin)).as("gram"))
    }.reduce(_ unionByName _)
    grams.groupBy(col(groupCol), col("n"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        countDistinct(col("gram")).as("distinct_grams"))
      .withColumn("distinct_ppm",
        expr("distinct_grams * 1000000L div n_grams"))
  }

  /** Bounded confusables map (Unicode TR39's skeleton idea, reduced to
    * the high-traffic Cyrillic/Greek → Latin lookalikes): source
    * codepoints in [[ConfusablesFrom]] map 1:1 to the Latin letters at
    * the same position of [[ConfusablesTo]]. Production swaps in the
    * full published confusables table as the same two strings — the
    * operator shape (one codegen'd `translate`) is what's under test,
    * the PSL-dimension precedent. */
  val ConfusablesFrom: String =
    "аеорсухіѕј" + // а е о р с у х і ѕ ј
      "АВЕКМНОРСТХ" + // А В Е К М Н О Р С Т Х
      "αονϲρυικ" + // α ο ν ϲ ρ υ ι κ
      "ΑΒΕΖΗΙΚΜΝΟΡΤΥΧ" + // Α Β Ε Ζ Η Ι Κ Μ Ν Ο Ρ Τ Υ Χ
      "ԁɡ" // ԁ ɡ
  val ConfusablesTo: String =
    "aeopcyxisj" + "ABEKMHOPCTX" + "aovcpuik" + "ABEZHIKMNOPTYX" + "dg"

  /** Fenced code-block extraction — the markdown → code-corpus verb
    * (a code-training pipeline's stage zero is "pull the ```-fenced
    * blocks out of crawled markdown/READMEs, tagged by language").
    * Splitting on the literal fence delimiter leaves code at the ODD
    * segment indexes; each block's first line is its info string
    * (CommonMark: the language tag; '' when untagged), the rest is the
    * code body. An unclosed trailing fence runs to end-of-document
    * (CommonMark's rule). Scope note: indented (4-space) code blocks
    * and ~~~ fences are out of scope; the info string is taken verbatim
    * (no trim).
    *
    * One map-side split + posexplode per document — no regex, no UDF,
    * no shuffle. Output:
    * `(doc_id, fence_idx, lang, code, n_code_chars)`. */
  def codeFences(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), "```")))
      .where(col("pos") % 2 === 1)
      .select(col("doc_id"),
        expr("(pos - 1) div 2").as("fence_idx"),
        expr("""CASE WHEN instr(col, chr(10)) = 0 THEN col
               |  ELSE substring(col, 1,
               |    CAST(instr(col, chr(10)) AS INT) - 1) END"""
          .stripMargin).as("lang"),
        expr("""CASE WHEN instr(col, chr(10)) = 0 THEN ''
               |  ELSE substring(col,
               |    CAST(instr(col, chr(10)) AS INT) + 1) END"""
          .stripMargin).as("code"))
      .withColumn("n_code_chars", length(col("code")).cast("long"))

  /** Homoglyph SKELETON of a text column — the spoof-canonical key
    * that collapses visually-identical variants an exact (or even
    * NFC-keyed) dedup keeps apart: confusable codepoints translate to
    * their Latin targets, then casefold. One codegen'd
    * `lower(translate(...))` per row, no UDF; compose with the
    * `unicode_norm` kernel upstream when combining marks are in play
    * (the q_homoglyph_dedup query does). */
  def homoglyphSkeleton(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    lower(translate(c, ConfusablesFrom, ConfusablesTo))

  /** Flesch reading-ease + Flesch–Kincaid grade in INTEGER MILLIS —
    * the classic readability pair as corpus-quality features, under
    * the engine's exactness discipline: the canonical formulas
    *
    *   flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)
    *   grade  = 0.39·(words/sentences) + 11.8·(syll/words) − 15.59
    *
    * are evaluated over milli-scaled FLOORED integer ratios
    * (`wps = (words·1000) div sentences`, `spw = (syll·1000) div
    * words`) with the decimal weights lifted to integers — no double
    * ever divides, so both engines agree cell-for-cell (the
    * [[qualityScore]] integer-composite precedent, taken all the way).
    * The two-step flooring deviates from the textbook real-valued
    * score by < 2 milli-points — a documented quantization, not noise.
    *
    * Heuristics (both mirrored in the oracle): a sentence is a maximal
    * `[.!?]+` run (minimum 1 per document — unpunctuated corpora
    * degrade to words-per-doc, which still orders documents usefully);
    * a syllable is a maximal `[aeiouy]+` run in the lowercased word
    * (minimum 1 per word — the standard approximation).
    *
    * Distribution shape: stateless per-row map fused into the scan —
    * no shuffle at all.
    *
    * Output: `(doc_id, n_words, n_sentences, n_syllables,
    * flesch_milli, fk_grade_milli)`; empty documents drop. */
  def readability(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__t"),
        expr(s"filter(split(lower($textCol), ' '), w -> w <> '')")
          .as("__w"))
      .where(size(col("__w")) >= 1)
      .select(col("doc_id"),
        size(col("__w")).cast("long").as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(col("__t"), lit("[.!?]+"), lit(0)))
            .cast("long")).as("n_sentences"),
        expr("""aggregate(__w, 0L, (s, w) -> s +
               |  greatest(1L, CAST(size(regexp_extract_all(w,
               |    '[aeiouy]+', 0)) AS BIGINT)))""".stripMargin)
          .as("n_syllables"))
      .withColumn("__wps", expr("(n_words * 1000) div n_sentences"))
      .withColumn("__spw", expr("(n_syllables * 1000) div n_words"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        expr("206835 - (1015 * __wps) div 1000 - (84600 * __spw) div 1000")
          .as("flesch_milli"),
        expr("(390 * __wps) div 1000 + (11800 * __spw) div 1000 - 15590")
          .as("fk_grade_milli"))
}
