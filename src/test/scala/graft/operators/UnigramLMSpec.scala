package graft.operators

import graft.SparkSpec

/** Unigram-LM hard-EM trainer (SURVEY.md §2.11 tokenizer family). */
class UnigramLMSpec extends SparkSpec {

  // floor(1e6·ln(x)) constants used by the hand traces below
  private val Ln3 = 1098612L   // ln(12/4)
  private val Ln1_5 = 405465L  // ln(6/4)
  private val Ln4 = 1386294L   // ln(8/2)

  test("train on a one-word corpus keeps singles and promotes the word") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val got = UnigramLM.train(docs, "doc_id", "text", rounds = 2)
      .as[(String, Long, Long)].collect().toSet
    // seed: a:3 b:3 ab:3 → round 1 scores all ln(12/4): [ab] (1 piece)
    // beats [a,b]; prune keeps singles (unused → 0) + ab (3)
    assert(got === Set(("a", 1L, 0L), ("b", 1L, 0L), ("ab", 2L, 3L)))
  }

  test("encode publishes exact micro-nat segmentation costs") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val got = UnigramLM.encode(docs, "doc_id", "text", rounds = 2)
      .as[(Long, Long, Long, Long)].collect().head
    // final scores: tot=3, |V|=3 → s(ab)=floor(1e6·ln(6/4)); each word
    // segments as [ab]: 3 words, 3 tokens, 3·405465 micro-nats
    assert(got === ((1L, 3L, 3L, 3L * Ln1_5)))
  }

  test("equal-score ties break by path code: shortest FIRST piece wins") {
    import spark.implicits._
    val docs = Seq((7L, "abcde")).toDF("doc_id", "text")
    // seed: all 14 substrings have cnt 1 → equal scores → any 2-piece
    // split of 5 chars ties on score; the packed path code is minimal
    // for [a, bcde] (first digit 0), so usage must be exactly {a, bcde}
    val got = UnigramLM.train(docs, "doc_id", "text", rounds = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("a", 1L, 1L), ("b", 1L, 0L), ("c", 1L, 0L),
      ("d", 1L, 0L), ("e", 1L, 0L), ("bcde", 4L, 1L)))
    val enc = UnigramLM.encode(docs, "doc_id", "text", rounds = 2)
      .as[(Long, Long, Long, Long)].collect().head
    // round-3 scores: tot=2, |V|=6 → s(a)=s(bcde)=floor(1e6·ln(8/2))
    assert(enc === ((7L, 1L, 2L, 2L * Ln4)))
  }

  test("a WordCap-length word segments at the path code's maximum width") {
    import spark.implicits._
    // 12 distinct chars → every multi-char substring is unique (cnt 1,
    // same smoothed score as singles), so the 1-piece... no: pieces are
    // capped at 4 chars, so the best segmentation is 3 pieces of 4; the
    // worst-case PATH (12 single-char digits, the packing's full width)
    // is still representable — pin both ends via a singles-only vocab.
    val w = "abcdefghijkl" // exactly WordCap chars
    val docs = Seq((1L, w)).toDF("doc_id", "text")
    val full = UnigramLM.encode(docs, "doc_id", "text", rounds = 1)
      .as[(Long, Long, Long, Long)].collect().head
    assert(full._3 === 3L, s"4+4+4 pieces expected: $full")
    // singles-only vocabulary forces the 12-digit path — the boundary
    // the 2^26 field width was sized for
    val singles = w.map(c => (c.toString, 1L)).toDF("piece", "cnt")
    val served = UnigramLM.encodeWith(docs, "doc_id", "text", singles)
      .as[(Long, Long, Long, Long)].collect().head
    assert(served._3 === 12L, s"12 single-char pieces expected: $served")
  }

  test("encodeWith a persisted vocabulary equals the inline train→encode") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab abcde"), (2L, "cd ab")).toDF("doc_id", "text")
    val inline = UnigramLM.encode(docs, "doc_id", "text", rounds = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    val dir = tempDir("uni_vocab").toString
    UnigramLM.train(docs, "doc_id", "text", rounds = 2)
      .write.mode("overwrite").parquet(dir)
    val served = UnigramLM.encodeWith(docs, "doc_id", "text",
      spark.read.parquet(dir))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(served === inline)
  }

  test("training is deterministic and words over WordCap are dropped") {
    import spark.implicits._
    val long = "x" * (UnigramLM.WordCap + 1)
    val docs = Seq((1L, s"ab $long"), (2L, "ab cd")).toDF("doc_id", "text")
    val a = UnigramLM.train(docs, "doc_id", "text", rounds = 2)
      .as[(String, Long, Long)].collect().toSet
    val b = UnigramLM.train(docs, "doc_id", "text", rounds = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(a === b)
    assert(!a.exists(_._1.contains("x")), "over-cap word must not seed vocab")
    val enc = UnigramLM.encode(docs, "doc_id", "text", rounds = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(enc === Map(1L -> 1L, 2L -> 2L)) // the long word drops from n_words
  }

  // ------------------------------------------------------------------
  // soft-EM (forward–backward expected counts)
  // ------------------------------------------------------------------

  /** Independent pure-Scala mirror of trainSoft's arithmetic: Long
    * floored divisions throughout (non-negative everywhere, so / is
    * floor), the same seed/ppm/prune schedule. */
  private def softRef(words: Seq[String], rounds: Int): Map[String, Long] = {
    val S = UnigramLM.Scale
    val wf = words.filter(_.length <= UnigramLM.WordCap)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tf = wf.values.sum
    val freqPpm = wf.map { case (w, f) => w -> f / math.max(tf / 1000000L, 1L) }
    val seed0 = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, f) <- wf; l <- 1 to UnigramLM.MaxPieceLen;
         p <- 0 to w.length - l)
      seed0(w.substring(p, p + l)) += f
    val str = seed0.values.sum
    var cnt: Map[String, Long] =
      seed0.map { case (p, c) => p -> c / math.max(str / 1000000L, 1L) }.toMap
    for (_ <- 1 to rounds) {
      val tot = cnt.values.sum; val vsz = cnt.size.toLong
      val pfx = cnt.map { case (pc, c) =>
        pc -> (c + 1L) * S / math.max(tot + vsz, 1L) }
      val raw = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((w, _) <- wf) {
        val L = w.length
        val a = Array.fill(L + 1)(0L); a(0) = S
        for (j <- 1 to L; l <- 1 to math.min(UnigramLM.MaxPieceLen, j))
          pfx.get(w.substring(j - l, j)).foreach(p => a(j) += a(j - l) * p / S)
        val b = Array.fill(L + 1)(0L); b(0) = S
        for (m <- 1 to L; l <- 1 to math.min(UnigramLM.MaxPieceLen, m))
          pfx.get(w.substring(L - m, L - m + l))
            .foreach(p => b(m) += p * b(m - l) / S)
        val z = math.max(a(L), 1L)
        for (i <- 0 until L;
             l <- 1 to math.min(UnigramLM.MaxPieceLen, L - i)) {
          val piece = w.substring(i, i + l)
          pfx.get(piece).foreach { p =>
            val post = ((a(i) * p / S) * b(L - i - l) / S) * S / z
            raw(piece) += freqPpm(w) * post
          }
        }
      }
      val tr = raw.values.sum
      val singles = cnt.keySet.filter(_.length == 1)
      val top = raw.filter(_._1.length > 1).toSeq
        .sortBy { case (p, c) => (-c, p) }
        .take(UnigramLM.VocabBudget).map(_._1)
      cnt = (singles ++ top).map(p =>
        p -> raw.getOrElse(p, 0L) / math.max(tr / 1000000L, 1L)).toMap
    }
    cnt
  }

  test("trainSoft matches an independent pure-Scala mirror exactly") {
    import spark.implicits._
    for (corpus <- Seq(
        Seq("ab", "ab"),
        Seq("abc", "abc", "ab", "bc", "abcd"),
        Seq("aaa", "aa", "a", "baobab", "zq"))) {
      val docs = Seq((1L, corpus.mkString(" "))).toDF("doc_id", "text")
      val got = UnigramLM.trainSoft(docs, "doc_id", "text", rounds = 2)
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> r._3).toMap
      assert(got === softRef(corpus, 2), s"corpus $corpus")
    }
  }

  test("soft posterior shares ambiguity mass: 'ab' splits 3:1 over " +
      "[ab] vs [a,b] under equal seed counts") {
    import spark.implicits._
    // seed a:2 b:2 ab:2, p = 3/9 each: path [ab] mass 1/3, path [a][b]
    // mass 1/9 → posterior(ab) = 3/4 of the word mass; the single-round
    // expected counts must reflect exactly that (nano floored)
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val got = UnigramLM.trainSoft(docs, "doc_id", "text", rounds = 1)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val ref = softRef(Seq("ab", "ab"), 1)
    assert(got === ref)
    // the ratio pins the 3:1 split (a and b each get the 1/4 share)
    assert(math.abs(got("ab").toDouble / got("a") - 3.0) < 1e-3, got)
  }

  test("soft-EM dominates hard-EM marginal likelihood on an ambiguous " +
      "designed corpus") {
    import spark.implicits._
    // every 'abc' is segmentable as [ab,c] or [a,bc] (and [abc]);
    // Viterbi commits winner-take-all, soft shares mass — the soft
    // model must assign the corpus at least as much total probability
    val corpus = Seq.fill(8)("abc") ++ Seq.fill(4)("ab") ++
      Seq.fill(4)("bc") ++ Seq.fill(2)("abcabc")
    val docs = Seq((1L, corpus.mkString(" "))).toDF("doc_id", "text")
    val wf = corpus.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case (w, f) => (w, f) }.toDF("word", "freq")
    val maxSteps = corpus.map(_.length).max
    def ll(vocab: org.apache.spark.sql.DataFrame): Double = {
      val z = UnigramLM.marginalFixed(wf, maxSteps,
          vocab.select($"piece", $"cnt"))
        .as[(String, Long)].collect().toMap
      corpus.map(w => math.log(math.max(z(w), 1L).toDouble / 1e9)).sum
    }
    val hard = UnigramLM.train(docs, "doc_id", "text", rounds = 2)
      .select($"piece", $"cnt")
    val soft = UnigramLM.trainSoft(docs, "doc_id", "text", rounds = 2)
      .select($"piece", $"cnt_ppm".as("cnt"))
    val (lh, ls) = (ll(hard), ll(soft))
    assert(ls > lh,
      f"soft LL $ls%.4f must beat hard LL $lh%.4f on the ambiguous corpus")
  }
}
