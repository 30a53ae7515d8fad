package graft

import graft.operators.Bpe

/** BPE vocabulary induction: hand-computed merge sequences (including
  * the greedy-overlap run case the corpus never exercises), merge-for-
  * merge agreement with an independent full-recount reference far past
  * the oracle's 12 rounds, loud exhaustion, and structural properties
  * on the real corpus. */
class BpeSpec extends SparkSpec {

  test("BPE merges match the hand computation, incl. greedy a-a runs") {
    // word types: aaaa (freq 3) exercises the l==r overlap semantics
    // (4 a's -> greedy merges positions 1 and 3 -> [aa, aa]); the
    // alphabet word feeds rounds 3..12 with count-1 ties resolved
    // lexicographically (the merged prefix starts with 'a', so it wins
    // every round)
    val dir = writeDocsFixture(Seq(
      (1L, "aaaa aaaa aaaa zabcdefghijklmnop", "en")))
    val merges = rowsOf(Bpe.queries("text_bpe_merges")(spark, dir))
      .sortBy(_("merge_rank").asInstanceOf[Long])
    val got = merges.map(m => (m("lft"), m("rgt"), m("pair_count")))
    assert(got == Seq(
      ("a", "a", 9L),          // 3 naive positions per aaaa, 3 words
      ("aa", "aa", 3L),        // the run-merge result pairs up
      ("a", "b", 1L),
      ("ab", "c", 1L),
      ("abc", "d", 1L),
      ("abcd", "e", 1L),
      ("abcde", "f", 1L),
      ("abcdef", "g", 1L),
      ("abcdefg", "h", 1L),
      ("abcdefgh", "i", 1L),
      ("abcdefghi", "j", 1L),
      ("abcdefghij", "k", 1L)))
    merges.foreach(m => assert(m("merged") ==
      m("lft").asInstanceOf[String] + m("rgt").asInstanceOf[String]))
    // encode against the learned vocab: aaaa -> 1 subtoken; the
    // alphabet word ends as [z, abcdefghijk, l, m, n, o, p] -> 7
    val e = rowsOf(Bpe.queries("text_bpe_encode")(spark, dir))
    assert(e.size == 1)
    assert(e.head("n_tokens") == 4L)
    assert(e.head("n_subtokens") == 10L)
    // positions 0..2 hold aaaa (1 sub each), position 3 the alphabet:
    // 1*1 + 2*1 + 3*1 + 4*7
    assert(e.head("sub_checksum") == 34L)
    // the learned vocabulary is exactly the surviving symbols
    val v = rowsOf(Bpe.queries("text_bpe_vocab")(spark, dir))
      .map(m => m("sym") -> (m("occurrences"), m("n_word_types"))).toMap
    assert(v == Map(
      "aaaa" -> (3L, 1L), "z" -> (1L, 1L), "abcdefghijk" -> (1L, 1L),
      "l" -> (1L, 1L), "m" -> (1L, 1L), "n" -> (1L, 1L),
      "o" -> (1L, 1L), "p" -> (1L, 1L)))
  }

  /** UTF-8 binary (code-point) string order — the tie-break order of
    * Spark's `UTF8String` and of the DuckDB oracle; Scala's default
    * `String` ordering is UTF-16 code-unit order. */
  private val codePointOrd: Ordering[String] =
    Ordering.by((s: String) => s.codePoints.toArray.toSeq)(
      Ordering.Implicits.seqOrdering[Seq, Int])

  /** Independent plain-Scala BPE (full recount every round, naive
    * counts, greedy rewrite, code-point segmentation and ties) — no
    * Spark, no SQL, no incremental state; the third implementation the
    * trainer and the oracle must both agree with. */
  private def refBpe(words: Map[String, Long], n: Int)
      : (Seq[(String, String, Long)], Map[String, Vector[String]]) = {
    var segs = words.keys.map(w => w -> w.codePoints.toArray.toVector
      .map(cp => new String(Character.toChars(cp)))).toMap
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var exhausted = false
    while (out.size < n && !exhausted) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((w, syms) <- segs; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + words(w)
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.toSeq
          .minBy { case ((a, b), cnt) => (-cnt, a, b) }(
            Ordering.Tuple3(Ordering.Long, codePointOrd, codePointOrd))
        out += ((l, r, c))
        segs = segs.map { case (w, syms) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += l + r; i += 2
            } else { b += syms(i); i += 1 }
          }
          w -> b.result()
        }
      }
    }
    (out.toSeq, segs)
  }

  test("BPE engine matches the independent reference on random run-heavy corpora") {
    var ran = 0
    (1 to 3).foreach { seed =>
      // 3-letter alphabet makes repeated-letter runs and re-merged
      // symbols common — the overlap arithmetic gets hammered
      val rnd = new scala.util.Random(1000 + seed)
      val pool = (0 until 30).map(_ =>
        (1 to 1 + rnd.nextInt(7)).map(_ => "abc"(rnd.nextInt(3))).mkString)
        .distinct
      val docs = (0 until 40).map { i =>
        val ws = (0 until 3 + rnd.nextInt(10)).map(_ => pool(rnd.nextInt(pool.size)))
        (i.toLong, ws.mkString(" "), "en")
      }
      val freq = freqOf(docs)
      val (refMerges, refSegs) = refBpe(freq, Bpe.BpeMergesN)
      if (refMerges.size == Bpe.BpeMergesN) { // else the engine throws by design
        ran += 1
        val dir = writeDocsFixture(docs)
        val got = rowsOf(Bpe.queries("text_bpe_merges")(spark, dir))
          .sortBy(_("merge_rank").asInstanceOf[Long])
          .map(m => (m("lft").asInstanceOf[String],
            m("rgt").asInstanceOf[String],
            m("pair_count").asInstanceOf[Long]))
        assert(got == refMerges, s"merge sequence diverged at seed $seed")
        val gotVocab = rowsOf(Bpe.queries("text_bpe_vocab")(spark, dir))
          .map(m => m("sym") -> (m("occurrences").asInstanceOf[Long],
            m("n_word_types").asInstanceOf[Long])).toMap
        val refVocab = refSegs.toSeq
          .flatMap { case (w, syms) => syms.map(s => (s, w, freq(w))) }
          .groupBy(_._1)
          .map { case (s, xs) =>
            s -> (xs.map(x => x._3).sum, xs.map(_._2).distinct.size.toLong) }
        assert(gotVocab == refVocab, s"vocab diverged at seed $seed")
      }
    }
    assert(ran >= 2, s"only $ran random corpora sustained all merges")
  }

  /** Word-type frequencies of a docs fixture, computed independently of
    * `Bpe.wordTypes`. */
  private def freqOf(docs: Seq[(Long, String, String)]): Map[String, Long] =
    docs.flatMap(_._2.split("\\s+").filter(_.nonEmpty)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap

  private def segsOf(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select($"tok", $"syms").as[(String, Seq[String])].collect().toMap
  }

  test("local trainer equals the independent reference at N=200 " +
      "(merges + segmentation)") {
    val rnd = new scala.util.Random(9101)
    val pool = (0 until 90).map(_ =>
      (1 to 3 + rnd.nextInt(10)).map(_ => "abcdef"(rnd.nextInt(6))).mkString)
      .distinct
    val docs = (0 until 60).map { i =>
      (i.toLong,
        (0 until 4 + rnd.nextInt(10)).map(_ => pool(rnd.nextInt(pool.size)))
          .mkString(" "), "en")
    }
    val dir = writeDocsFixture(docs)
    // the shipped trainer (heap + inverted index on the driver) vs the
    // full-recount reference, far past the oracle horizon: identical
    // merge sequences, counts, and segmentations
    val (ml, wl) = Bpe.trainOnLocal(spark, Bpe.wordTypes(spark, dir), 200,
      strict = false)
    val (mr, sr) = refBpe(freqOf(docs), 200)
    assert(ml.map(m => (m.l, m.r, m.cnt)) == mr, "merge sequence diverged")
    assert(ml.map(_.rank) == (1 to ml.size))
    assert(ml.size >= 200, s"want a deep chain, got ${ml.size}")
    assert(segsOf(wl) == sr, "segmentations diverged")
  }

  test("local trainer segments supplementary characters like the " +
      "independent reference") {
    // 𝕏 (U+1D54F) and 😀 (U+1F600) are supplementary: one code point,
    // TWO UTF-16 chars. A per-char segmentation would split them into
    // lone surrogates and diverge from wordTypes' code-point substr.
    val docs = Seq(
      (1L, "a𝕏b a𝕏b 😀😀x 😀😀x a𝕏b ab ab ab", "en"),
      (2L, "𝕏😀 𝕏😀 b😀x ab a𝕏b", "en"))
    val dir = writeDocsFixture(docs)
    val (ml, wl) = Bpe.trainOnLocal(spark, Bpe.wordTypes(spark, dir), 6,
      strict = false)
    val (mr, sr) = refBpe(freqOf(docs), 6)
    assert(ml.map(m => (m.l, m.r, m.cnt)) == mr,
      "merge sequences diverged on supplementary input")
    assert(segsOf(wl) == sr, "segmentations diverged on supplementary input")
    // no lone surrogates anywhere: every sym must survive a UTF-8
    // round-trip unchanged (a lone surrogate decays to U+FFFD)
    segsOf(wl).values.flatten.foreach { s =>
      val rt = new String(s.getBytes("UTF-8"), "UTF-8")
      assert(rt == s, s"sym '$s' is not well-formed UTF-16")
    }
  }

  test("BPE training fails loudly when the corpus exhausts before N merges") {
    val dir = writeDocsFixture(Seq((1L, "ab ab", "en")))
    val ex = intercept[IllegalStateException] {
      Bpe.queries("text_bpe_merges")(spark, dir).collect()
    }
    assert(ex.getMessage.contains("fully merged"))
  }

  test("BPE on the corpus: counts non-increasing, merges chain") {
    val dir = sfDir("sf0.001")
    val m = rowsOf(Bpe.queries("text_bpe_merges")(spark, dir))
      .sortBy(_("merge_rank").asInstanceOf[Long])
    assert(m.size == Bpe.BpeMergesN)
    val counts = m.map(_("pair_count").asInstanceOf[Long])
    assert(counts.forall(_ > 0))
    // a merge can only create pairs no more frequent than its winner,
    // so the winning counts are non-increasing in rank
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // the chain is real: some later merge consumes an earlier product
    assert(m.exists(r => r("lft").asInstanceOf[String].length > 1 ||
      r("rgt").asInstanceOf[String].length > 1))
    val enc = rowsOf(Bpe.queries("text_bpe_encode")(spark, dir))
    assert(enc.nonEmpty)
    // merging never splits: per doc, token count <= subtoken count
    enc.foreach { r =>
      assert(r("n_subtokens").asInstanceOf[Long] >=
        r("n_tokens").asInstanceOf[Long])
    }
  }
}
