package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.OpModule

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016,
  * arXiv:1508.07909) — the real tokenizer-TRAINING step that
  * `text_encode`'s frequency-rank vocabulary stands in for: starting
  * from characters, repeatedly merge the most frequent adjacent symbol
  * pair across the corpus, [[BpeMergesN]] times, deterministically
  * (ties broken on the pair key ascending).
  *
  * Semantics pinned down so two engines can agree bit-for-bit:
  *  - the training corpus is the WORD-TYPE table (distinct whitespace
  *    tokens with occurrence counts) — the classical formulation; merges
  *    never cross a word boundary, and no end-of-word marker is used;
  *  - pair counts are the NAIVE adjacent counts (every position i with
  *    (s_i, s_{i+1}) = (l, r) counts, runs included — "aaa" counts
  *    (a,a) twice), weighted by word frequency — Sennrich's
  *    `get_stats`;
  *  - applying a merge is GREEDY LEFT-TO-RIGHT within each word
  *    ("aaa" + merge (a,a) -> [aa, a]); the trainer gets this from a
  *    left-to-right scan, the oracle from the closed form: a match
  *    position is rewritten iff its offset within its maximal run of
  *    CONSECUTIVE match positions is even (for l != r runs have length
  *    1, so every match rewrites — overlap is only possible when
  *    l == r).
  *
  * Scale shape: the corpus is touched ONCE ([[wordTypes]]: tokenize ->
  * word-type counts, one distributed hash aggregation); training then
  * runs on that VOCABULARY-sized table (|word types|, not corpus-sized)
  * in the single-node [[trainLocal]] (which says why one node). The
  * DuckDB oracle (a 12-level full-recount CTE replay) hash-checks every
  * shipped query against it.
  * Encoding against the learned vocabulary ([[encodeDf]]) is a
  * broadcast join of the final word-type segmentation back onto the
  * token stream — the merges table itself is [[BpeMergesN]] rows.
  */
object Bpe extends OpModule {

  /** Number of merge rounds. Small enough that the generated oracle SQL
    * (one CTE level per round) stays tractable; large enough that the
    * merges chain through multi-character symbols (round 12 merges pairs
    * built by earlier rounds). */
  val BpeMergesN = 12

  private[graft] case class Merge(rank: Int, l: String, r: String, cnt: Long)

  // per-(session, dir) training result: the merges list plus the final
  // word-type segmentation (a local relation of the trainer's output).
  // Weak in the session for the same lifecycle reason as DfMemo.
  private val cache = new java.util.WeakHashMap[
    SparkSession, scala.collection.mutable.Map[String, (Seq[Merge], DataFrame)]]()

  /** Code-point string compare — UTF-8 binary order, which is what
    * Spark's `UTF8String` and the DuckDB oracle's `ORDER BY cnt DESC, l,
    * r` sort by — NOT Java's `String.compareTo` (UTF-16 code-unit order,
    * which disagrees for supplementary characters vs [U+E000, U+FFFF]).
    * Keeps [[trainLocal]]'s tie-break equal to the oracle's on any
    * input. */
  private def cpCmp(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Single-node BPE trainer over a collected word-type table — the
    * one trainer the shipped `text_bpe_*` queries run: naive adjacent
    * counts runs-included, argmax tie-broken (cnt DESC, l, r) in UTF-8
    * binary order ([[cpCmp]]), greedy left-to-right non-overlapping
    * rewrite. The DuckDB oracle's 12-level sequential CTE replay
    * hash-checks it per round, and BpeSpec asserts it merge-for-merge
    * and segment-for-segment against a plain-Scala full recount.
    *
    * Why one node is the SCALE answer: training state is
    * VOCABULARY-sized (word types × short symbol arrays — the corpus
    * was already reduced by [[wordTypes]]'s one distributed pass), and
    * each merge depends on every prior one, so distributing the loop
    * buys per-round shuffle + driver-sync overhead on a frame that fits
    * in memory. A distributed batched-round loop needed ≥5.7 h without
    * finishing N=30k merges (PLANS.md §"Round-14 BPE"). This trainer
    * maintains the pair counts incrementally with a pair -> word-ids
    * inverted index and a lazy-invalidation max-heap (the SentencePiece
    * / HF-tokenizers architecture): per merge, work ∝ words actually
    * containing the pair, argmax is O(log |pairs|), and 30k merges over
    * 200k word types take ~19 s on one core.
    */
  private[graft] def trainLocal(types: Seq[(String, Long)], n: Int,
      strict: Boolean = true): (Seq[Merge], Map[String, Seq[String]]) = {
    import scala.collection.mutable
    val toks = types.map(_._1).toArray
    val freqs = types.map(_._2).toArray
    // segment by CODE POINTS, matching wordTypes' UTF8String substr
    // semantics — per-UTF-16-char (t.map(_.toString)) would split a
    // supplementary character (emoji, CJK ext-B) into lone surrogates,
    // diverging from the oracle and corrupting to U+FFFD on toDF
    val syms: Array[mutable.ArrayBuffer[String]] =
      toks.map { t =>
        val buf = mutable.ArrayBuffer.empty[String]
        var ci = 0
        while (ci < t.length) {
          val cp = t.codePointAt(ci)
          buf += new String(Character.toChars(cp))
          ci += Character.charCount(cp)
        }
        buf
      }
    val cnt = mutable.HashMap.empty[(String, String), Long]
    // word ids that MIGHT contain the pair (lazy: never pruned on
    // rewrite; a stale id is skipped by the contains-check below)
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    var w = 0
    while (w < syms.length) {
      val s = syms(w); val f = freqs(w); var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        cnt.update(p, cnt.getOrElse(p, 0L) + f)
        occ.getOrElseUpdate(p, mutable.HashSet.empty) += w
        i += 1
      }
      w += 1
    }
    // lazy max-heap: entries are (cnt-at-push, l, r); an entry is live
    // iff its count still equals the standing count — every standing
    // count was pushed when last set, so the true argmax is always
    // present and stale entries are simply discarded on pop
    val ord = new java.util.Comparator[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(b._1, a._1)
        if (c != 0) c
        else {
          val cl = cpCmp(a._2, b._2)
          if (cl != 0) cl else cpCmp(a._3, b._3)
        }
      }
    }
    val heap = new java.util.PriorityQueue[(Long, String, String)](
      math.max(16, cnt.size), ord)
    cnt.foreach { case ((l, r), c) => heap.add((c, l, r)) }
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= n && !exhausted) {
      var top: (Long, String, String) = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        if (cnt.get((e._2, e._3)).contains(e._1)) top = e
      }
      if (top == null) {
        if (strict) throw new IllegalStateException(
          s"BPE: no pair left at round $rank — corpus fully merged")
        exhausted = true
      } else {
        val (c, l, r) = top
        merges += Merge(rank, l, r, c)
        val m = l + r
        val touched = mutable.HashSet.empty[(String, String)]
        occ.getOrElse((l, r), mutable.HashSet.empty).toArray.foreach { wid =>
          val s = syms(wid); val f = freqs(wid)
          var has = false; var i = 0
          while (!has && i < s.length - 1) {
            if (s(i) == l && s(i + 1) == r) has = true
            i += 1
          }
          if (has) {
            // full per-word recount: subtract every old adjacent pair,
            // rewrite greedily, add every new one — by construction the
            // standing table stays equal to a global recount
            i = 0
            while (i < s.length - 1) {
              val p = (s(i), s(i + 1))
              cnt.update(p, cnt.getOrElse(p, 0L) - f)
              touched += p
              i += 1
            }
            val out = mutable.ArrayBuffer.empty[String]
            i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                out += m; i += 2
              } else { out += s(i); i += 1 }
            }
            syms(wid) = out
            i = 0
            while (i < out.length - 1) {
              val p = (out(i), out(i + 1))
              cnt.update(p, cnt.getOrElse(p, 0L) + f)
              touched += p
              occ.getOrElseUpdate(p, mutable.HashSet.empty) += wid
              i += 1
            }
          }
        }
        touched.foreach { p =>
          cnt.get(p) match {
            case Some(c0) if c0 <= 0 => cnt.remove(p); occ.remove(p)
            case Some(c0) => heap.add((c0, p._1, p._2))
            case None => ()
          }
        }
        rank += 1
      }
    }
    (merges.result(),
      toks.iterator.zip(syms.iterator.map(_.toSeq)).toMap)
  }

  /** [[trainLocal]] over a `(tok, freq, syms)` frame, returning the
    * merges and the final segmentation as a `(tok, freq, syms)` frame.
    * The collect is VOCABULARY-sized by design (the corpus-sized
    * reduction already happened in [[wordTypes]]'s one distributed
    * pass), the reason production tokenizer trainers are single-node. */
  private[graft] def trainOnLocal(spark: SparkSession, words0: DataFrame,
      n: Int, strict: Boolean = true): (Seq[Merge], DataFrame) = {
    import spark.implicits._
    val types = words0.select($"tok", $"freq").as[(String, Long)]
      .collect().toSeq
    val (merges, seg) = trainLocal(types, n, strict)
    val rows = types.map { case (t, f) => (t, f, seg(t)) }
    (merges, rows.toDF("tok", "freq", "syms"))
  }

  /** The character-segmented word-type frame of a corpus — the ONE
    * corpus-sized pass. */
  private[graft] def wordTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(filter(split($"text", "\\s+"), t => t =!= ""))
        .as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        transform(sequence(lit(1), length($"tok")),
          i => $"tok".substr(i, lit(1))))
      .select($"tok", $"freq", $"syms")
  }

  /** Run (and cache) the shipped training once per (session, dir):
    * returns the ranked merges and the final word-type segmentation,
    * from [[trainOnLocal]]. */
  private def train(spark: SparkSession, dir: String): (Seq[Merge], DataFrame) = {
    val tab = cache.synchronized {
      var m = cache.get(spark)
      if (m == null) {
        m = scala.collection.mutable.Map.empty
        cache.put(spark, m)
      }
      m
    }
    tab.synchronized(tab.get(dir)) match {
      case Some(hit) => hit
      case None =>
        val out = trainOnLocal(spark, wordTypes(spark, dir), BpeMergesN)
        tab.synchronized(tab.put(dir, out))
        out
    }
  }

  /** The learned merges table — rank, pair, merged symbol, and the
    * naive pair count that won the round. */
  private def mergesDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) = train(spark, dir)
    merges.map(m => (m.rank.toLong, m.l, m.r, m.l + m.r, m.cnt))
      .toDF("merge_rank", "lft", "rgt", "merged", "pair_count")
  }

  /** Documents encoded against the LEARNED vocabulary: each token's
    * subword count comes from the final trained segmentation (broadcast
    * — the word-type frame is vocabulary-sized), with a position-
    * weighted checksum so a dropped/permuted token mismatches. Every
    * token is in the vocabulary by construction (training corpus =
    * these documents). */
  private def encodeDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, words) = train(spark, dir)
    val segs = words.select($"tok", size($"syms").cast("long").as("n_sub"))
    Tables.documents(spark, dir)
      .select($"doc_id",
        posexplode(filter(split($"text", "\\s+"), t => t =!= ""))
          .as(Seq("pos", "tok")))
      .join(broadcast(segs), Seq("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"n_sub").as("n_subtokens"),
        sum(($"pos" + 1) * $"n_sub").as("sub_checksum"))
  }

  /** The learned vocabulary — every symbol of the final segmentation
    * with its total occurrence mass (token-weighted) and the number of
    * distinct word types containing it. This is the artifact a
    * tokenizer ships: base characters that survived un-merged plus the
    * [[BpeMergesN]] merged symbols (minus any fully consumed by later
    * merges). One explode + hash agg over the vocabulary-sized frame. */
  private def vocabDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, words) = train(spark, dir)
    words.select($"tok", $"freq", explode($"syms").as("sym"))
      .groupBy($"sym")
      .agg(sum($"freq").as("occurrences"),
        countDistinct($"tok").as("n_word_types"))
  }

  // ---- DuckDB oracle: one generated CTE level per merge round ----

  /** CTE levels s0..sN: s0 is the character segmentation of the
    * word-type table; each level picks the argmax pair (b{t}) and
    * rewrites via the even-offset-within-run closed form (mm{t}). */
  private def levelsSql(n: Int): String = {
    val toks = TextAnalysis.tokensSql
    val s0 =
      s"""w0 AS MATERIALIZED (
         |  SELECT tok, count(*)::BIGINT AS freq
         |  FROM (SELECT unnest($toks) AS tok FROM documents) GROUP BY 1),
         |s0 AS MATERIALIZED (
         |  SELECT tok, freq,
         |    list_transform(range(1, length(tok) + 1),
         |                   i -> substr(tok, i::INT, 1)) AS syms
         |  FROM w0)""".stripMargin
    val levels = (1 to n).map { t =>
      val prev = s"s${t - 1}"
      s"""b$t AS MATERIALIZED (
         |  SELECT l, r, cnt FROM (
         |    SELECT syms[i] AS l, syms[i + 1] AS r, sum(freq)::BIGINT AS cnt
         |    FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
         |          FROM $prev)
         |    GROUP BY 1, 2)
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |mm$t AS MATERIALIZED (
         |  SELECT tok, i,
         |    (i - min(i) OVER (PARTITION BY tok, i - rn)) % 2 = 0 AS sel
         |  FROM (SELECT tok, i,
         |          row_number() OVER (PARTITION BY tok ORDER BY i) AS rn
         |        FROM (SELECT tok, syms, unnest(range(1, len(syms))) AS i
         |              FROM $prev) q
         |        WHERE q.syms[q.i] = (SELECT l FROM b$t)
         |          AND q.syms[q.i + 1] = (SELECT r FROM b$t))),
         |s$t AS MATERIALIZED (
         |  SELECT tok, freq, list(sym ORDER BY j) AS syms FROM (
         |    SELECT x.tok, x.freq, x.j,
         |      CASE WHEN coalesce(ma.sel, FALSE)
         |           THEN (SELECT l || r FROM b$t)
         |           ELSE x.syms[x.j] END AS sym
         |    FROM (SELECT tok, freq, syms, unnest(range(1, len(syms) + 1)) AS j
         |          FROM $prev) x
         |    LEFT JOIN mm$t ma ON ma.tok = x.tok AND ma.i = x.j
         |    LEFT JOIN mm$t mp ON mp.tok = x.tok AND mp.i = x.j - 1 AND mp.sel
         |    WHERE mp.i IS NULL)
         |  GROUP BY tok, freq)""".stripMargin
    }
    (s0 +: levels).mkString(",\n")
  }

  private lazy val mergesSql: String = {
    val rows = (1 to BpeMergesN).map(t =>
      s"SELECT $t::BIGINT AS merge_rank, l AS lft, r AS rgt, " +
        s"l || r AS merged, cnt AS pair_count FROM b$t")
    s"""WITH ${levelsSql(BpeMergesN)}
       |${rows.mkString("", "\nUNION ALL\n", "")}""".stripMargin
  }

  private lazy val encodeSql: String = {
    val toks = TextAnalysis.tokensSql
    s"""WITH ${levelsSql(BpeMergesN)},
       |p AS (SELECT doc_id, unnest(toks) AS tok,
       |        unnest(range(0, len(toks))) AS pos
       |      FROM (SELECT doc_id, $toks AS toks FROM documents))
       |SELECT p.doc_id, count(*) AS n_tokens,
       |  sum(len(s.syms))::BIGINT AS n_subtokens,
       |  sum((p.pos + 1) * len(s.syms))::BIGINT AS sub_checksum
       |FROM p JOIN s$BpeMergesN s USING (tok)
       |GROUP BY 1""".stripMargin
  }

  private lazy val vocabSql: String =
    s"""WITH ${levelsSql(BpeMergesN)}
       |SELECT sym, sum(freq)::BIGINT AS occurrences,
       |  count(DISTINCT tok)::BIGINT AS n_word_types
       |FROM (SELECT tok, freq, unnest(syms) AS sym FROM s$BpeMergesN)
       |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_merges" -> (mergesDf(_, _)),
    "text_bpe_encode" -> (encodeDf(_, _)),
    "text_bpe_vocab" -> (vocabDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "text_bpe_merges" -> mergesSql,
    "text_bpe_encode" -> encodeSql,
    "text_bpe_vocab" -> vocabSql
  )
}
