package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.ColFns
import graft.OpModule

/** Deduplication operators for a training-data pipeline over `documents`
  * (builder-prompt north star): exact, MinHash(+LSH banding), n-gram
  * Jaccard, and SimHash. All are shuffle-on-key patterns that scale
  * linearly with corpus size:
  *
  *  - exact: one hash aggregation on md5(text) — the 100 TB plan is
  *    groupBy(contentHash) with map-side combine; no text ever shuffles,
  *    only (hash, doc_id).
  *  - MinHash: explode word-3-gram shingles (map side), then ONE groupBy
  *    per doc computing all k permuted minima simultaneously — the shuffle
  *    carries (doc_id, shingle_hash) pairs, never raw text. LSH banding
  *    then buckets signatures so candidate generation is an equi-join on
  *    (band, band_hash) — the standard near-dup plan at web scale.
  *  - Jaccard: inverted-index self-join on shingle hash. Bounded because
  *    each shingle's posting list is short in real corpora; a hot-shingle
  *    cap (stopword-gram blacklisting) would be the skew guard at scale.
  *  - SimHash: per (doc, bit) conditional sum over token hashes, then one
  *    re-group per doc folding the 56 sign bits into a signature.
  *
  * Token/shingle hashing uses `ColFns.hex32` (md5-derived) so the DuckDB
  * oracle reproduces every signature bit-for-bit — Spark's murmur `hash()`
  * would be faster but engine-private (noted as the production swap).
  */
object Dedup extends OpModule {

  /** Exact dedup: content-hash groups with the kept (minimum) doc id. */
  private def exactDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text").as("content_hash"))
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
  }

  private val exactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Word-3-gram shingles of the whitespace token stream.
    *
    * Built as token posexplode + two `lead`s over (doc, pos) rather than
    * `transform(sequence, element_at)` on the array: Catalyst's
    * generate-pruning filter inlines array expressions into the
    * pre-explode predicate, re-running `split(text)` for every
    * element_at — O(words^2) regex work per document (measured 18s at
    * sf0.1; this shape runs in ~1s and its shuffle is a well-distributed
    * (doc_id) key at any corpus size). */
  private[operators] def shingled(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"shingled:$dir") {
      import spark.implicits._
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      Tables.documents(spark, dir)
        .select($"doc_id",
          posexplode(filter(split($"text", "\\s+"), t => t =!= ""))
            .as(Seq("pos", "tok")))
        .withColumn("t1", lead($"tok", 1).over(w))
        .withColumn("t2", lead($"tok", 2).over(w))
        .filter($"t2".isNotNull)
        .select($"doc_id",
          concat_ws(" ", $"tok", $"t1", $"t2").as("shingle"))
        .withColumn("h", ColFns.hex32($"shingle"))
    }

  /** Distinct (doc_id, h) shingle sets: the one frame behind exact
    * Jaccard, set sizes, containment, the pair census and the minhash
    * estimate's intersections, plus `Pipeline`'s contamination bits and
    * `TextAnalysis`'s RRF shingle leg. */
  private[operators] def jaccardSetsDf(spark: SparkSession,
      dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"jaccard_sets:$dir")(
      shingled(spark, dir).select(col("doc_id"), col("h")).distinct())

  // scalar range()+unnest: DuckDB's range *table* function cannot take
  // lateral column parameters (len(ws)), the scalar form can
  private[operators] val shingledSql: String =
    s"""SELECT doc_id,
       |  ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS shingle,
       |  ${ColFns.hex32Sql("ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]")} AS h
       |FROM (SELECT doc_id, ws,
       |        unnest(range(1, greatest(len(ws) - 1, 1))) AS i
       |      FROM (SELECT doc_id,
       |              list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS ws
       |            FROM documents) w0) w1""".stripMargin

  // k=8 universal-hash permutations h_i = (a_i*h + b_i) mod p, constants
  // sized so a*h < 2^63 (h < 2^32, a < 2^25). The a_i MUST be
  // independent draws: an arithmetic family like (2i+1)*C shares the
  // factor C, so every "permutation" ranks by the SAME g = C*h mod p
  // scaled by an odd constant — whenever g is small, one shingle wins
  // the min under all k permutations at once and the k signature
  // components are near all-or-nothing instead of Binomial(k, j)
  // (measured: a 0.97-Jaccard pair estimating 0.5). md5-derived draws
  // restore component independence; both engines inline the same
  // computed literals.
  val MinhashK = 8
  val MinhashP = 2147483647L
  private def mh32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.take(4).foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xffL))
  }
  val MinhashA: Seq[Long] =
    (0 until MinhashK).map(i => 1L + mh32(s"mha$i") % ((1L << 25) - 1))
  val MinhashB: Seq[Long] =
    (0 until MinhashK).map(i => mh32(s"mhb$i") % (1L << 25))

  /** Per-ROW MinHash signature as one array column: the SAME k
    * permutations over the SAME word-3-gram shingles as [[minhashDf]],
    * but computed inside a single row — no explode, no shuffle. The
    * array-min over a row's shingle multiset equals the grouped min over
    * its exploded rows, so this yields bitwise the batch signatures
    * (asserted in StreamingSpec); the streaming LSH monitor uses it
    * because a stream cannot re-group history per trigger. Docs with
    * fewer than 3 tokens have no shingle and yield NULL — exactly the
    * docs the batch path's lead-window filter drops. */
  private[graft] def withSigArr(df: DataFrame, text: Column,
      out: String): DataFrame = {
    // the token and shingle-hash arrays materialize as NAMED columns so
    // split/hex32 run once per row: inlined into the 8 array_min calls,
    // CollapseProject would re-expand them into the k minima and the
    // regex would re-run per element_at — the O(words^2) pathology the
    // batch path's comment (`shingled`) documents avoiding.
    // Spark's CollapseProject keeps non-cheap multi-referenced aliases
    // in their own Project, so the named columns are a real barrier.
    df.withColumn("_sig_ws", filter(split(text, "\\s+"), t => t =!= ""))
      .withColumn("_sig_hs", transform(
        sequence(lit(0), size(col("_sig_ws")) - 3),
        i => ColFns.hex32(concat_ws(" ",
          element_at(col("_sig_ws"), i + 1),
          element_at(col("_sig_ws"), i + 2),
          element_at(col("_sig_ws"), i + 3)))))
      .withColumn(out, when(size(col("_sig_ws")) >= 3,
        array((0 until MinhashK).map(k =>
          array_min(transform(col("_sig_hs"), h =>
            (lit(MinhashA(k)) * h + lit(MinhashB(k))) % lit(MinhashP)))): _*)))
      .drop("_sig_ws", "_sig_hs")
  }

  /** The LSH band key of one band of a signature array — the SAME
    * comma-joined 4-row key the batch pair generator banding uses. */
  private[graft] def bandKeyCol(sig: Column, band: Int): Column =
    concat_ws(",", (0 until 4).map(r => element_at(sig, band * 4 + r + 1)): _*)

  /** The (doc_id, band, band_key) frame of a signature under a (b, r)
    * banding: ONE projection generates all b bands via explode of an
    * inline array — same rows as the b-way union of per-band selects it
    * replaces, at 1/b the plan (one pass over the signature frame
    * instead of b scans). */
  private def bandFrame(spark: SparkSession, sig: DataFrame,
      b: Int, r: Int): DataFrame = {
    import spark.implicits._
    sig.select($"doc_id", explode(array((0 until b).map { j =>
        struct(lit(j).as("band"),
          concat_ws(",", (0 until r).map(i => col(s"mh${j * r + i}")): _*)
            .as("band_key"))
      }: _*)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.band_key".as("band_key"))
  }

  /** Per-doc MinHash signature: all k minima in one grouped pass.
    * Memoized: the sig query, the pair generator, and the accuracy
    * metric (which joins it on BOTH pair sides — Spark would plan the
    * grouped-minima aggregation once per join side) all share it. */
  private def minhashDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"minhash_sig:$dir") {
      import spark.implicits._
      val mins = (0 until MinhashK).map(i =>
        min((lit(MinhashA(i)) * $"h" + lit(MinhashB(i))) % lit(MinhashP))
          .as(s"mh$i"))
      shingled(spark, dir).groupBy($"doc_id").agg(mins.head, mins.tail: _*)
    }

  private val minhashSql: String = {
    val mins = (0 until MinhashK)
      .map(i => s"  min((${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP) AS mh$i")
      .mkString(",\n")
    s"""WITH sh AS ($shingledSql)
       |SELECT doc_id,
       |$mins
       |FROM sh GROUP BY doc_id""".stripMargin
  }

  /** Per-bucket member budget for batch pair enumeration — the batch
    * twin of `Streams.LshBucketCap` (same value, same rationale): a
    * real corpus holds boilerplate duplicated millions of times, and a
    * band bucket carrying such a cluster would otherwise enumerate
    * O(n²) pairs (the dim-scaled sf10 probe measured 23.5M pairs from
    * 500k docs, 93,000× the sf0.1 count for 100× docs — THE
    * fixed-capacity trap this probe rung exists to catch). */
  val LshPairCap = 64

  /** LSH banding: 2 bands x 4 rows; candidate pairs share any full band.
    * Output is the deduplicated candidate pair list. Memoized: the
    * cluster-resolution query consumes the same pair graph.
    *
    * Hot-bucket guard (capped clique + connectivity star): bucket
    * members rank by doc_id; the first [[LshPairCap]] form the full
    * pair clique (audit-grade — estimator-accuracy rungs read these),
    * and every member PAST the cap emits exactly one edge to the
    * bucket's rank-1 hub. The edge set is linear in bucket size, every
    * edge is a genuine band-sharing pair, and the graph's connected
    * components are EXACTLY the uncapped graph's (everything in a
    * bucket stays connected through the hub) — so `dedup_clusters`,
    * `dedup_keep_best` and `pipeline_split*` semantics are preserved
    * bit-for-bit at any cluster size while the work stays linear.
    * Buckets at or under the cap (every sane corpus bucket, and all of
    * sf0.01/sf0.1) produce the identical full pair set as before. */
  private def minhashPairsDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"minhash_pairs:$dir")(
      guardedPairFrame(bandFrame(spark, minhashDf(spark, dir), MinhashK / 4, 4)))

  /** The hot-bucket guard applied to a (doc_id, band, band_key) frame:
    * bucket members rank by doc_id, the first [[LshPairCap]] form the
    * full pair clique, every member past the cap emits one edge to the
    * rank-1 hub. Shared by the shipped pair generator and every
    * `dedup_lsh_curve` config, so the curve's (2,4) point IS the
    * generator by construction. Two separately-bounded joins, so no
    * intermediate is ever bucket²: the clique join's sides are both
    * ≤ cap per bucket, the star join's left side is exactly 1 row per
    * bucket. */
  private def guardedPairFrame(bands0: DataFrame): DataFrame =
    guardedPairsRanked(bands0.withColumn("rn", row_number().over(
      Window.partitionBy(col("band"), col("band_key")).orderBy(col("doc_id")))))

  /** The guarded enumeration over a banded frame that ALREADY carries
    * the per-bucket rank `rn` — callers that reference the ranked frame
    * more than once (the curve audit) checkpoint it first so the rank
    * window runs once, not per reference. */
  private def guardedPairsRanked(bands: DataFrame): DataFrame = {
    val head = bands.filter(col("rn") <= LshPairCap)
    val clique = head.as("x")
      .join(head.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val star = bands.filter(col("rn") === 1).as("x")
      .join(bands.filter(col("rn") > LshPairCap).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    clique.union(star).distinct()
  }

  private val minhashPairsSql: String = {
    val bandRows = (0 until MinhashK / 4).map { b =>
      val key = (0 until 4).map(r => s"mh${b * 4 + r}::VARCHAR").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""WITH sh AS ($shingledSql),
       |sig AS (SELECT doc_id,
       |${(0 until MinhashK).map(i => s"  min((${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP) AS mh$i").mkString(",\n")}
       |FROM sh GROUP BY doc_id),
       |bands0 AS ($bandRows),
       |bands AS (SELECT doc_id, band, band_key,
       |    row_number() OVER (PARTITION BY band, band_key
       |      ORDER BY doc_id) AS rn
       |  FROM bands0)
       |SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_key = y.band_key
       |   AND x.doc_id < y.doc_id
       |   AND x.rn <= $LshPairCap AND y.rn <= $LshPairCap
       |  UNION ALL
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_key = y.band_key
       |   AND x.rn = 1 AND y.rn > $LshPairCap)""".stripMargin
  }

  /** MinHash estimation accuracy — the sketch-trust metric, in the same
    * spirit as the ANN ladder's recall curves: for every LSH candidate
    * pair, the MinHash ESTIMATE of Jaccard (matching signature
    * components / k) next to the EXACT Jaccard from the shingle sets,
    * with the absolute error. The expected estimator std is
    * sqrt(j(1-j)/k) (~0.17 at k=8, j=0.5) — the number an operator
    * reads before sizing k for a deployment; this query measures it on
    * the actual corpus instead of quoting the formula.
    *
    * Scale shape: the candidate pair list (memoized, banding-bounded)
    * broadcasts; exact intersections join the shingle sets only for
    * paired docs (never all-pairs); the estimate reads two signature
    * rows per pair. All inputs are exact integers; both shares divide
    * exact longs and round(6). */
  private def minhashEstDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sig = minhashDf(spark, dir)
    val pairs = minhashPairsDf(spark, dir)
    val matches = (0 until MinhashK)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val sa = sig.toDF("doc_a" +: (0 until MinhashK).map(i => s"a_mh$i"): _*)
    val sb = sig.toDF("doc_b" +: (0 until MinhashK).map(i => s"b_mh$i"): _*)
    // the pair list is banding-bounded and tiny: broadcast it into the
    // corpus-sized frames. The hint must ride EVERY join against a
    // corpus-sized frame, not just the first — a hint attaches to one
    // Join node, and the chained join's left child (the pair-bounded
    // result, still tiny) is a derived frame with no stats that the
    // planner would otherwise sort-merge against the big side.
    val est = broadcast(broadcast(pairs).join(sa, Seq("doc_a")))
      .join(sb, Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        round(matches.cast("double") / MinhashK, 6).as("est_jaccard"))
    val sets = jaccardSetsDf(spark, dir)
    val sizes = setSizesDf(spark, dir)
    // same discipline below: the running left side stays pair-bounded
    // (pairs × shingles-per-doc at worst), so it broadcasts into each
    // corpus-sized sets/sizes frame rather than shuffling it
    val inter = broadcast(broadcast(pairs)
        .join(sets.select($"doc_id".as("doc_a"), $"h"), Seq("doc_a")))
      .join(sets.select($"doc_id".as("doc_b"), $"h"), Seq("doc_b", "h"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("inter"))
    broadcast(broadcast(est.join(broadcast(inter), Seq("doc_a", "doc_b"), "left"))
        .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), Seq("doc_a")))
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), Seq("doc_b"))
      .withColumn("jaccard",
        round(coalesce($"inter", lit(0L)).cast("double") /
          ($"na" + $"nb" - coalesce($"inter", lit(0L))), 6))
      .select($"doc_a", $"doc_b", $"est_jaccard", $"jaccard",
        round(abs($"est_jaccard" - $"jaccard"), 6).as("abs_err"))
  }

  private val minhashEstSql: String = {
    val matches = (0 until MinhashK)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH pr AS ($minhashPairsSql),
       |sh2 AS ($shingledSql),
       |sets AS (SELECT DISTINCT doc_id, h FROM sh2),
       |sz AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY 1),
       |sig2 AS (SELECT doc_id,
       |${(0 until MinhashK).map(i => s"  min((${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP) AS mh$i").mkString(",\n")}
       |FROM sh2 GROUP BY doc_id),
       |e AS (SELECT pr.doc_a, pr.doc_b,
       |    round(($matches)::DOUBLE / $MinhashK, 6) AS est_jaccard
       |  FROM pr JOIN sig2 sa ON sa.doc_id = pr.doc_a
       |          JOIN sig2 sb ON sb.doc_id = pr.doc_b),
       |iv AS (SELECT pr.doc_a, pr.doc_b, count(*) AS inter
       |  FROM pr JOIN sets a ON a.doc_id = pr.doc_a
       |          JOIN sets b ON b.doc_id = pr.doc_b AND b.h = a.h
       |  GROUP BY 1, 2),
       |j AS (SELECT e.doc_a, e.doc_b, e.est_jaccard,
       |    round(coalesce(iv.inter, 0)::DOUBLE /
       |          (na.n + nb.n - coalesce(iv.inter, 0)), 6) AS jaccard
       |  FROM e LEFT JOIN iv ON iv.doc_a = e.doc_a AND iv.doc_b = e.doc_b
       |  JOIN sz na ON na.doc_id = e.doc_a
       |  JOIN sz nb ON nb.doc_id = e.doc_b)
       |SELECT doc_a, doc_b, est_jaccard, jaccard,
       |  round(abs(est_jaccard - jaccard), 6) AS abs_err
       |FROM j""".stripMargin
  }

  /** Asymmetric shingle CONTAINMENT over the LSH candidate pairs
    * (`dedup_containment`): |S(a)∩S(b)| / |S(a)| and / |S(b)| as exact
    * permille integers — the quote/inclusion detector Jaccard misses.
    * A short document quoted inside a long one has low Jaccard (the
    * union is long-sized) but containment ≈ 1 on the short side; dedup
    * policies that strip contained docs key on THIS number (Lee et al.
    * 2021 use suffix overlap; set containment is the shingle-level
    * analog). Scale shape identical to `dedup_minhash_est`: the
    * banding-bounded pair list broadcasts into the shingle-set frame,
    * intersections are computed only for paired docs, and the permille
    * ratios are integer division — no doubles anywhere. */
  private def containmentDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashPairsDf(spark, dir)
    val sets = jaccardSetsDf(spark, dir)
    val sizes = setSizesDf(spark, dir)
    // same broadcast discipline as minhashEstDf: the running left side
    // stays pair-bounded, so it broadcasts into each corpus-sized frame
    val inter = broadcast(broadcast(pairs)
        .join(sets.select($"doc_id".as("doc_a"), $"h"), Seq("doc_a")))
      .join(sets.select($"doc_id".as("doc_b"), $"h"), Seq("doc_b", "h"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("inter"))
    broadcast(broadcast(
        pairs.join(broadcast(inter), Seq("doc_a", "doc_b"), "left"))
        .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), Seq("doc_a")))
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), Seq("doc_b"))
      .withColumn("inter", coalesce($"inter", lit(0L)))
      .select($"doc_a", $"doc_b", $"inter", $"na", $"nb",
        expr("(inter * 1000) div na").as("con_a_permille"),
        expr("(inter * 1000) div nb").as("con_b_permille"))
  }

  private val containmentSql: String =
    s"""WITH pr AS ($minhashPairsSql),
       |sh2 AS ($shingledSql),
       |sets AS (SELECT DISTINCT doc_id, h FROM sh2),
       |sz AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY 1),
       |iv AS (SELECT pr.doc_a, pr.doc_b, count(*) AS inter
       |  FROM pr JOIN sets a ON a.doc_id = pr.doc_a
       |          JOIN sets b ON b.doc_id = pr.doc_b AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT pr.doc_a, pr.doc_b, coalesce(iv.inter, 0) AS inter,
       |  na.n AS na, nb.n AS nb,
       |  ((coalesce(iv.inter, 0) * 1000) // na.n)::BIGINT AS con_a_permille,
       |  ((coalesce(iv.inter, 0) * 1000) // nb.n)::BIGINT AS con_b_permille
       |FROM pr
       |LEFT JOIN iv ON iv.doc_a = pr.doc_a AND iv.doc_b = pr.doc_b
       |JOIN sz na ON na.doc_id = pr.doc_a
       |JOIN sz nb ON nb.doc_id = pr.doc_b""".stripMargin

  /** Posting lists longer than this are dropped from the pairwise join:
    * a shingle shared by k docs contributes k^2 candidate pairs, so one
    * stopword-gram ("of the and") in a web corpus is a quadratic bomb.
    * Set sizes still count ALL shingles, but the intersection misses
    * capped shingles, so jaccard is biased LOW for pairs overlapping in
    * hot shingles (and a pair overlapping ONLY in hot shingles drops
    * out) — the standard blacklisting trade-off, applied identically on
    * both engines. No effect at these SFs (max posting ~8 docs);
    * exercised by SkewSpec's hot-shingle fixture (df 122 > cap), which
    * measures both the dropped pair count and the jaccard bias. */
  val HotShingleCap = 64

  /** Per-doc distinct shingle-set sizes — memoized: feeds
    * dedup_jaccard_topk, the LSH ground truth, minhashEst and
    * containment in one session (a doc-count-sized frame re-aggregated
    * four times before round 15). */
  private def setSizesDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DfMemo.cached(spark, s"jaccard_sizes:$dir") {
      val sets = jaccardSetsDf(spark, dir)
      sets.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    }
  }

  /** (doc_a, doc_b, inter): exact shared-shingle counts of every doc
    * pair sharing at least one NON-HOT shingle — ONE guarded postings
    * self-join, memoized. Round-15 share: `dedup_jaccard_topk` and the
    * LSH curve's ground truth ([[lshTruthDf]]) used to run this
    * identical enumeration TWICE; it was the dominant term in the
    * board's #1 one-shot entry (`dedup_lsh_curve`, 15.5 s driver
    * reading in BENCH_r14 vs 1.52 s warm). Document frequency gates
    * via hash aggregation (map-side combine) and a broadcast ANTI join
    * of the short hot list — not count().over(partitionBy(h)), which
    * shuffled AND sorted every (doc, shingle) pair just to score a
    * filter. */
  private def pairInterDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"jaccard_inter:$dir") {
      import spark.implicits._
      val sets = jaccardSetsDf(spark, dir)
      val hot = sets.groupBy($"h").agg(count(lit(1)).as("df"))
        .filter($"df" > HotShingleCap)
        .select($"h")
      val postings = sets.join(broadcast(hot), Seq("h"), "left_anti")
      postings.as("a")
        .join(postings.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
    }

  /** Exact n-gram Jaccard over the inverted index: top-20 most similar
    * pairs (j desc, ids asc). Distinct shingle sets per doc. */
  private def jaccardDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sizes = setSizesDf(spark, dir)
    // EXPLICIT broadcast of the doc-count-sized set-size frame: pairs
    // dominate docs in every near-dup corpus (here 23M pairs vs 500k
    // docs at the sf10 probe), and relying on the 10 MB autoBroadcast
    // threshold let the plan flip to sort-merge past ~sf1 — two full
    // sorts of the pair frame, measured 11× wall / ~100% GC for a 1.6×
    // pair-count growth (round-16 census, PLANS.md). At corpora where
    // even (doc_id, n) outgrows broadcast, attach n to the postings
    // BEFORE enumeration instead (size joins scale with postings, never
    // with pairs).
    pairInterDf(spark, dir)
      .join(broadcast(
        sizes.select($"doc_id".as("doc_a"), $"n".as("na"))), Seq("doc_a"))
      .join(broadcast(
        sizes.select($"doc_id".as("doc_b"), $"n".as("nb"))), Seq("doc_b"))
      .withColumn("jaccard",
        $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
      .orderBy($"jaccard".desc, $"doc_a", $"doc_b")
      .limit(20)
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  private val jaccardSql: String =
    s"""WITH sh AS ($shingledSql),
       |sets AS (SELECT DISTINCT doc_id, h FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY 1),
       |postings AS (
       |  SELECT doc_id, h FROM (
       |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM sets) p
       |  WHERE df <= $HotShingleCap),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM postings a JOIN postings b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       |  inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |ORDER BY jaccard DESC, doc_a, doc_b
       |LIMIT 20""".stripMargin

  /** Workload census for the guarded Jaccard enumeration — the
    * `graph_wedges` treatment applied to `dedup_jaccard_topk` (round 16,
    * VERDICT r15 #1): the r15 scale probe read the sf1→sf10 leg at 25×
    * for 10× data with nothing measuring whether the CANDIDATE PAIRS
    * actually grew 10× or 25×, so contention and workload growth were
    * indistinguishable. This 1-row frame emits the enumeration's own
    * meters so scale-ups are judged in sec/pair, not sec/row:
    *
    *  - `n_docs` / `n_shingles` / `max_set` / `avg_set_x1000`: corpus
    *    shape (per-doc distinct shingle-set size distribution);
    *  - `n_hot` / `n_postings` / `max_df_capped`: what the
    *    [[HotShingleCap]] guard removed and what survives it;
    *  - `pair_slots` = Σ df·(df−1)/2 over non-hot shingles: the
    *    closed-form upper bound on candidate pairs, computable from the
    *    df histogram alone (no enumeration — the cheap meter a 100 TB
    *    run reads BEFORE deciding to enumerate);
    *  - `n_pairs` / `inter_total`: the enumerated distinct pair count
    *    and total shared-shingle mass — exactly the join + aggregation
    *    work `dedup_jaccard_topk` performs (reuses the memoized
    *    [[pairInterDf]], so the census prices the real shipped plan).
    *
    * All-integer output; every aggregate is a hash aggregation with
    * map-side combine over the memoized postings frames. */
  private def pairCensusDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sets = jaccardSetsDf(spark, dir)
    val dfreq = sets.groupBy($"h").agg(count(lit(1)).as("df"))
    val docsN = sets.agg(countDistinct($"doc_id").as("n_docs"))
    val shingleStats = dfreq.agg(
      count(lit(1)).as("n_shingles"),
      coalesce(sum(when($"df" > HotShingleCap, lit(1L))), lit(0L))
        .as("n_hot"),
      coalesce(sum(when($"df" <= HotShingleCap, $"df")), lit(0L))
        .as("n_postings"),
      coalesce(max(when($"df" <= HotShingleCap, $"df")), lit(0L))
        .as("max_df_capped"),
      coalesce(sum(when($"df" <= HotShingleCap,
        expr("df * (df - 1) div 2"))), lit(0L)).as("pair_slots"))
    val sizes = setSizesDf(spark, dir).agg(
      max($"n").as("max_set"),
      expr("(sum(n) * 1000) div count(1)").as("avg_set_x1000"))
    val pairs = pairInterDf(spark, dir).agg(
      count(lit(1)).as("n_pairs"),
      coalesce(sum($"inter"), lit(0L)).as("inter_total"))
    docsN.crossJoin(shingleStats).crossJoin(sizes).crossJoin(pairs)
      .select($"n_docs", $"n_shingles", $"n_hot", $"n_postings",
        $"max_df_capped", $"pair_slots", $"max_set", $"avg_set_x1000",
        $"n_pairs", $"inter_total")
  }

  private val pairCensusSql: String =
    s"""WITH sh AS ($shingledSql),
       |sets AS (SELECT DISTINCT doc_id, h FROM sh),
       |dfreq AS (SELECT h, count(*) AS df FROM sets GROUP BY 1),
       |postings AS (
       |  SELECT s.doc_id, s.h FROM sets s
       |  JOIN dfreq d ON d.h = s.h AND d.df <= $HotShingleCap),
       |iv AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM postings a JOIN postings b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY 1)
       |SELECT
       |  (SELECT count(DISTINCT doc_id) FROM sets) AS n_docs,
       |  (SELECT count(*) FROM dfreq) AS n_shingles,
       |  (SELECT count(*) FROM dfreq WHERE df > $HotShingleCap) AS n_hot,
       |  (SELECT coalesce(sum(df), 0) FROM dfreq
       |     WHERE df <= $HotShingleCap)::BIGINT AS n_postings,
       |  (SELECT coalesce(max(df), 0) FROM dfreq
       |     WHERE df <= $HotShingleCap)::BIGINT AS max_df_capped,
       |  (SELECT coalesce(sum(df * (df - 1) // 2), 0) FROM dfreq
       |     WHERE df <= $HotShingleCap)::BIGINT AS pair_slots,
       |  (SELECT max(n) FROM sz)::BIGINT AS max_set,
       |  ((SELECT sum(n) * 1000 FROM sz)
       |     // (SELECT count(*) FROM sz))::BIGINT AS avg_set_x1000,
       |  (SELECT count(*) FROM iv) AS n_pairs,
       |  (SELECT coalesce(sum(inter), 0) FROM iv)::BIGINT AS inter_total""".stripMargin

  /** Band configurations for the LSH dial audit, all over the same
    * [[MinhashK]] = 8 signature components: (bands, rows_per_band). */
  val LshCurveConfigs: Seq[(Int, Int)] = Seq((1, 8), (2, 4), (4, 2), (8, 1))

  /** The LSH banding dial, priced (`dedup_lsh_curve`) — the sibling of
    * `ann_trunc_curve` and `bench_contamination_curve` for the MinHash
    * family: the SAME 8 signature components banded four ways, from
    * all-8-must-match (1x8: high precision, low recall) to
    * any-1-matches (8x1: the permissive end). Per config: candidate
    * pair count, how many candidates are TRUE high-Jaccard pairs, and
    * integer precision/recall against the exact J >= 1/2 ground truth
    * from the inverted index. Because bands are consecutive component
    * runs, a coarser config's full-band match implies matches of its
    * sub-bands in every finer config — candidate sets NEST, so recall
    * is provably monotone along the curve (spec-asserted).
    *
    * Engine-exact: J >= 1/2 is decided in integer arithmetic
    * (3*inter >= na+nb, no double compare), counts are exact, shares
    * are integer-percent floors. Scale shape: ground truth reuses the
    * hot-capped postings join (never all-pairs); each config's
    * candidate enumeration carries the SAME hot-bucket guard as the
    * shipped pair generator ([[guardedPairFrame]] — capped clique +
    * hub star, never bucket²; a boilerplate-heavy corpus would
    * otherwise make the permissive 8x1 config quadratic in its
    * largest duplicate cluster, the trap class the sf10 board
    * measured at 93,000x pair growth). `n_candidates` is therefore a
    * LOWER bound on the uncapped candidate count once any bucket
    * passes [[LshPairCap]] (exact below it — all of sf0.01/sf0.1);
    * the closed-form `n_candidates_ub` column prices the suppressed
    * remainder from per-bucket occupancy alone — each (band,
    * band_key) bucket of n members contributes n*(n-1)/2 pair SLOTS,
    * an upper bound on distinct pairs that needs no enumeration at
    * any bucket size and stays provably monotone along the dial (a
    * full-band match implies matches of all its sub-bands in every
    * finer config). Nesting makes `n_candidates` monotone too while
    * buckets stay under the cap; past it, rank shifts between configs
    * can in principle locally reorder the guarded counts — the
    * bracketing [lb, ub] columns are the honest report there. Every
    * verdict frame is 1 row. */
  private def lshTruthDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"lsh_truth:$dir") {
      import spark.implicits._
      // reuses the memoized guarded enumeration ([[pairInterDf]]) —
      // before round 15 this re-ran the identical postings self-join
      val sizes = setSizesDf(spark, dir)
      // same explicit broadcast as jaccardDf: the size frame is
      // doc-count-sized, the left side is pair-sized
      pairInterDf(spark, dir)
        .join(broadcast(
          sizes.select($"doc_id".as("doc_a"), $"n".as("na"))), Seq("doc_a"))
        .join(broadcast(
          sizes.select($"doc_id".as("doc_b"), $"n".as("nb"))), Seq("doc_b"))
        .filter(lit(3) * $"inter" >= $"na" + $"nb")
        .select($"doc_a", $"doc_b")
    }

  private def lshCurveDf(spark: SparkSession, dir: String): DataFrame =
    // memoized like every other curve frame (4 rows) — and the build
    // itself materializes each config's RANKED banded frame once: the
    // round-15 board audit found the un-materialized `bands` subtree
    // re-executed per reference (clique head ×2, star ×2, occupancy
    // census — 5 window/banding executions per config, ×4 configs),
    // which was the warm per-attempt cost behind the board's #1 entry
    graft.functions.DfMemo.cached(spark, s"lsh_curve:$dir") {
      import spark.implicits._
      val sig = minhashDf(spark, dir)
      val truth = lshTruthDf(spark, dir)
      val truthN = truth.agg(count(lit(1)).as("n_true_total"))
      LshCurveConfigs.map { case (b, r) =>
        // ranked ONCE per config and materialized (docs × b rows,
        // bounded): head/star/occupancy all read these rows instead of
        // re-running the banding + rank window per reference
        val bands = graft.functions.DfMemo.materializeFrame(spark,
          bandFrame(spark, sig, b, r)
            .withColumn("rn", row_number().over(
              Window.partitionBy($"band", $"band_key").orderBy($"doc_id"))))
        // ONE pass over the guarded pair stream serves both counts: the
        // truth set (real near-dup pairs, metadata-sized) broadcasts
        // into a left join carrying an indicator, so the candidate count
        // and the truth intersection fold in the same aggregation — no
        // pair row is ever materialized to storage
        val stats = guardedPairsRanked(bands)
          .join(broadcast(truth.withColumn("is_true", lit(1L))),
            Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_candidates"),
            coalesce(sum($"is_true"), lit(0L)).as("n_true"))
        // closed-form slot census: per-bucket occupancy n contributes
        // n*(n-1)/2 — no pair row is ever materialized, exact at any
        // bucket size, an upper bound on the uncapped distinct count;
        // occupancy is max(rn) per bucket on the already-ranked frame
        val ub = bands.groupBy($"band", $"band_key")
          .agg(max($"rn").as("n"))
          .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L))
            .as("n_candidates_ub"))
        stats
          .crossJoin(ub)
          .crossJoin(truthN)
          .select(lit(b.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
            $"n_candidates", $"n_candidates_ub", $"n_true", $"n_true_total",
            expr("(n_true * 100) div nullif(n_candidates, 0)")
              .as("precision_pct"),
            expr("(n_true * 100) div nullif(n_true_total, 0)")
              .as("recall_pct"))
      }.reduce(_ unionByName _)
    }

  private lazy val lshCurveSql: String = {
    val sigCols = (0 until MinhashK)
      .map(i => s"  min((${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP) AS mh$i")
      .mkString(",\n")
    // per-config CTEs mirror the Spark side's guarded enumeration: the
    // banded frame gains a per-bucket rank, candidates are the capped
    // clique plus the rank-1 hub star (never bucket²), and the
    // closed-form upper bound sums n*(n-1)/2 over bucket occupancies
    val cfgCtes = LshCurveConfigs.map { case (b, r) =>
      val bandRows = (0 until b).map { j =>
        val key = (0 until r).map(i => s"mh${j * r + i}::VARCHAR")
          .mkString(" || ',' || ")
        s"SELECT doc_id, $j AS band, $key AS band_key FROM sig"
      }.mkString("\nUNION ALL\n")
      s"""bands_${b}_$r AS (
         |  SELECT doc_id, band, band_key,
         |    row_number() OVER (PARTITION BY band, band_key
         |      ORDER BY doc_id) AS rn
         |  FROM ($bandRows)),
         |cand_${b}_$r AS (
         |  SELECT DISTINCT doc_a, doc_b FROM (
         |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |    FROM bands_${b}_$r x JOIN bands_${b}_$r y
         |      ON x.band = y.band AND x.band_key = y.band_key
         |     AND x.doc_id < y.doc_id
         |     AND x.rn <= $LshPairCap AND y.rn <= $LshPairCap
         |    UNION ALL
         |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |    FROM bands_${b}_$r x JOIN bands_${b}_$r y
         |      ON x.band = y.band AND x.band_key = y.band_key
         |     AND x.rn = 1 AND y.rn > $LshPairCap))""".stripMargin
    }.mkString(",\n")
    val configs = LshCurveConfigs.map { case (b, r) =>
      s"""SELECT ${b}::BIGINT AS n_bands, ${r}::BIGINT AS rows_per_band,
         |  (SELECT count(*) FROM cand_${b}_$r) AS n_candidates,
         |  (SELECT coalesce(sum(n * (n - 1) // 2), 0)::BIGINT FROM (
         |     SELECT count(*) AS n FROM bands_${b}_$r
         |     GROUP BY band, band_key)) AS n_candidates_ub,
         |  (SELECT count(*) FROM cand_${b}_$r c
         |   JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
         |    AS n_true,
         |  (SELECT count(*) FROM truth) AS n_true_total""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sh AS ($shingledSql),
       |sets AS (SELECT DISTINCT doc_id, h FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY 1),
       |postings AS (
       |  SELECT doc_id, h FROM (
       |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM sets) p
       |  WHERE df <= $HotShingleCap),
       |truth AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |    FROM postings a JOIN postings b
       |      ON a.h = b.h AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2) i
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE 3 * inter >= sa.n + sb.n),
       |sig AS (SELECT doc_id,
       |$sigCols
       |FROM sh GROUP BY doc_id),
       |$cfgCtes,
       |curve AS ($configs)
       |SELECT n_bands, rows_per_band, n_candidates, n_candidates_ub,
       |  n_true, n_true_total,
       |  ((n_true * 100) // nullif(n_candidates, 0))::BIGINT AS precision_pct,
       |  ((n_true * 100) // nullif(n_true_total, 0))::BIGINT AS recall_pct
       |FROM curve""".stripMargin
  }

  /** Signature width. 56 bits (not 32): the banded pair join's bucket
    * space per band is 2^(bits/bands), and with the original 32-bit/
    * 4-band layout that was a FIXED 256 buckets — 10× the docs meant
    * ~100× the band collisions (measured 30× wall at the derived sf1),
    * the same fixed-bucket-space trap the multi-LSH signature had. At
    * 56 bits each band indexes 2^14 = 16 384 buckets, pushing the
    * quadratic knee out 64×, while staying clear of the sign bit under
    * every BIGINT shift either engine does. The Hamming-radius
    * pigeonhole below is width-independent. */
  val SimhashBits = 56
  // lazy: SimhashBands is declared further down, past the signature
  // builder it parameterizes
  private lazy val SimhashBandBits = SimhashBits / SimhashBands // 14

  /** 56-bit SimHash: frequency-weighted sign sum per bit position of a
    * 56-bit token hash (hex32 of the token for the low 32, a salted
    * hex32 for the high 24 — identical composition on both engines).
    * Memoized: the pair generator consumes the signatures twice (both
    * sides of its band self-join). */
  private def simhashDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"simhash_sig:$dir") {
      import spark.implicits._
      Tables.documents(spark, dir)
        .withColumn("toks", filter(split($"text", "\\s+"), t => t =!= ""))
        .select($"doc_id", explode($"toks").as("tok"))
        .withColumn("h",
          ColFns.hex32($"tok") +
            (ColFns.hex32(concat(lit("s_"), $"tok")) % 16777216L) * 4294967296L)
        .select($"doc_id", $"h",
          explode(sequence(lit(0), lit(SimhashBits - 1))).as("b"))
        .groupBy($"doc_id", $"b")
        .agg(sum(when(expr("(h div shiftleft(cast(1 as bigint), int(b))) % 2") === 1, 1)
          .otherwise(-1)).as("s"))
        .groupBy($"doc_id")
        .agg(sum(when($"s" >= 0,
          expr("shiftleft(cast(1 as bigint), int(b))")).otherwise(0L))
          .as("simhash"))
    }

  private val simhashSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |                                    t -> t <> '')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id,
       |        ${ColFns.hex32Sql("tok")} +
       |          (${ColFns.hex32Sql("'s_' || tok")} % 16777216) * 4294967296
       |          AS h
       |      FROM tk),
       |bits AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM h, range(0, $SimhashBits) t(b) GROUP BY 1, 2)
       |SELECT doc_id,
       |  sum(CASE WHEN s >= 0 THEN 1::BIGINT << b ELSE 0::BIGINT END)::BIGINT AS simhash
       |FROM bits GROUP BY 1""".stripMargin

  /** Max Hamming distance for a SimHash near-dup pair. With 4 bands of
    * 14 bits, any pair within distance 3 shares at least one identical
    * band (pigeonhole), so the banded equi-join below has PERFECT recall
    * at this threshold — unlike MinHash banding's probabilistic recall.
    * One band collision on unrelated docs costs one cheap bit_count. */
  val SimhashHamMax = 3
  val SimhashBands = 4

  /** SimHash near-dup pairs: band the 56-bit signature into 4 14-bit
    * keys, candidates share any band (equi-join on (band, key) — never
    * all-pairs), then the exact Hamming check via one XOR + popcount.
    * The alternative pair generator to MinHash LSH: cheaper signatures
    * (one int vs k minima), exact distance semantics, at the cost of a
    * cruder similarity notion.
    *
    * Same hot-bucket guard as [[minhashPairsDf]] (capped clique +
    * hub star, [[LshPairCap]] members): a band bucket carrying a large
    * exact-duplicate cluster enumerates linearly, not quadratically
    * (sf10 measured 33.8M pairs pre-guard). A past-cap member keeps its
    * pair with the bucket hub when within [[SimhashHamMax]] — exact for
    * the duplicate-cluster hot case (hamming 0 to the hub); a past-cap
    * member near some OTHER member but far from the hub is the accepted
    * saturation trade, the batch form of the streaming sentinel. */
  /** The 4x14-bit banding of a (doc_id, simhash) frame. */
  private def simhashBandFrame(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(SimhashBands - 1))).as("band"))
      .withColumn("band_key",
        expr(s"(simhash div shiftleft(cast(1 as bigint), int(band * $SimhashBandBits)))" +
          s" % ${1 << SimhashBandBits}"))

  /** The guarded simhash pair enumeration over any (doc_id, simhash)
    * frame — capped clique + Hamming-filtered hub star. Shared by the
    * shipped generator and the [[simhashSatDf]] saturation audit, so
    * the audit prices exactly the code that ships.
    *
    * The ranked band frame is referenced FOUR times per evaluation
    * (clique x/y, star hub, star tail), and each reference re-ran the
    * explode + band_key projection + the (band, band_key) shuffle +
    * rank window. Memoized per caller `tag` ("" for the shipped
    * generator, "sat_" for the audit) so one execution feeds all four
    * references. */
  private def simhashGuardedPairs(sig: DataFrame, tag: String,
      dir: String): DataFrame = {
    val bands = graft.functions.DfMemo.cached(sig.sparkSession,
        s"simhash_${tag}bands:$dir")(
      simhashBandFrame(sig)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("band"), col("band_key")).orderBy(col("doc_id")))))
    val pairCols = Seq(col("x.doc_id").as("doc_a"),
      col("y.doc_id").as("doc_b"),
      expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
    val head = bands.filter(col("rn") <= LshPairCap)
    val clique = head.as("x")
      .join(head.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(pairCols: _*)
    val star = bands.filter(col("rn") === 1).as("x")
      .join(bands.filter(col("rn") > LshPairCap).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      .select(pairCols: _*)
    clique.union(star)
      // filter BEFORE distinct: hamming is a function of the pair, so the
      // result is identical but the dedup shuffle carries only the pairs
      // inside the threshold, not every band collision
      .filter(col("hamming") <= SimhashHamMax)
      .distinct()
  }

  private def simhashPairsDf(spark: SparkSession, dir: String): DataFrame =
    simhashGuardedPairs(simhashDf(spark, dir), "", dir)

  private val simhashPairsSql: String =
    s"""WITH sig AS ($simhashSql),
       |bands0 AS (
       |  SELECT doc_id, simhash, b AS band,
       |    (simhash // (1::BIGINT << (b * $SimhashBandBits))) % ${1 << SimhashBandBits} AS band_key
       |  FROM sig, range(0, $SimhashBands) t(b)),
       |bands AS (SELECT *, row_number() OVER (PARTITION BY band, band_key
       |    ORDER BY doc_id) AS rn
       |  FROM bands0)
       |SELECT DISTINCT doc_a, doc_b, hamming FROM (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    bit_count(xor(x.simhash, y.simhash)) AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_key = y.band_key
       |   AND x.doc_id < y.doc_id
       |   AND x.rn <= $LshPairCap AND y.rn <= $LshPairCap
       |  UNION ALL
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    bit_count(xor(x.simhash, y.simhash)) AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_key = y.band_key
       |   AND x.rn = 1 AND y.rn > $LshPairCap)
       |WHERE hamming <= $SimhashHamMax""".stripMargin

  /** Saturation-audit fixture width: 2.5x [[LshPairCap]] members in one
    * planted hot bucket, so 60% of the bucket mass sits past the cap. */
  val SimhashSatMembers = 160

  /** `dedup_simhash_sat` — the measured recall price of the simhash
    * hot-bucket guard, the way `ann_recall_stale` prices deferred
    * re-training. Unlike the minhash guard (whose unconditional star
    * edges provably preserve connected components), the simhash star
    * edge carries the Hamming filter, so a past-cap bucket member near
    * some OTHER member but far from the hub loses that pair — the
    * accepted trade documented at [[simhashGuardedPairs]]. This rung
    * converts "accepted" into a number on a deterministic planted
    * fixture: the first [[SimhashSatMembers]] doc ids get synthetic
    * signatures that (a) share band 0 exactly (one hot bucket), and
    * (b) pair up into near-dup twins 3 bits apart with the 3
    * differing bits spread across bands 1/2/3, so each twin pair is
    * discoverable ONLY through the hot band; distinct twin groups sit
    * >= 4 bits apart (a 4x repetition code over the group id). The
    * audit runs the SHIPPED guarded generator against the exact
    * within-bucket census: every twin whose two members both rank past
    * the cap is lost (planted: groups 32..79 -> 48 of 80 pairs,
    * recall 40%), every sub-cap twin and the hub's own neighbors
    * survive. Scale shape: the fixture is a CONSTANT 160 rows taken
    * via TakeOrdered (never a corpus sort); the census self-join is
    * 160^2/2 rows, a fixture constant, and the guarded side is the
    * production operator itself. */
  private def simhashSatDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = SimhashSatMembers
    // rank the fixture AFTER the TakeOrdered limit: the window then
    // sorts m rows, not the corpus
    val ranked = Tables.documents(spark, dir).select($"doc_id")
      .orderBy($"doc_id").limit(m)
      .withColumn("rk", row_number().over(Window.orderBy($"doc_id")))
    // twin group g (7 bits, 4x repetition-coded at these offsets: any
    // two groups differ by >= 4 signature bits) and parity p (flips one
    // bit in each of bands 1/2/3: twins are 3 apart, never band-equal
    // outside the planted hot band 0, whose 14 low bits stay 0)
    val base = SimhashSatCodeOffsets.zipWithIndex.map { case (o, i) =>
      shiftright($"g", i).bitwiseAND(lit(1L)) * lit(15L << o)
    }.reduce(_ + _)
    // tiny; consumed by 3 frames below
    val sig = graft.functions.DfMemo.materializeFrame(spark, ranked
      .withColumn("g", expr("cast((rk - 1) div 2 as bigint)"))
      .withColumn("p", expr("cast((rk - 1) % 2 as bigint)"))
      .select($"doc_id", (base + $"p" * lit(SimhashSatFlipMask)).as("simhash")))
    val guarded = simhashGuardedPairs(sig, "sat_", dir)
    val exact = sig.as("x")
      .join(sig.as("y"), col("x.doc_id") < col("y.doc_id"))
      .filter(expr("bit_count(x.simhash ^ y.simhash)") <= SimhashHamMax)
    sig.agg(count(lit(1)).as("n_members"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact_pairs")))
      .crossJoin(guarded.agg(count(lit(1)).as("n_guarded_pairs")))
      .select($"n_members", $"n_exact_pairs", $"n_guarded_pairs",
        ($"n_exact_pairs" - $"n_guarded_pairs").as("n_lost_pairs"),
        expr("(n_guarded_pairs * 100) div nullif(n_exact_pairs, 0)")
          .as("recall_pct"))
  }

  /** 4x repetition-code offsets for the 7 group-id bits: 3 groups of 4
    * bits in band 1 (bits 15-26), 3 in band 2 (29-40), 1 in band 3
    * (43-46) — all clear of the per-parity flip bits 14/28/42 and of
    * the hot band 0 (bits 0-13). */
  private val SimhashSatCodeOffsets = Seq(15, 19, 23, 29, 33, 37, 43)
  private val SimhashSatFlipMask = (1L << 14) | (1L << 28) | (1L << 42)

  private lazy val simhashSatSql: String = {
    val baseSql = SimhashSatCodeOffsets.zipWithIndex
      .map { case (o, i) => s"((g >> $i) & 1) * (15::BIGINT << $o)" }
      .mkString(" +\n      ")
    s"""WITH ranked AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk
       |  FROM (SELECT doc_id FROM documents ORDER BY doc_id
       |        LIMIT $SimhashSatMembers)),
       |gp AS (SELECT doc_id, (rk - 1) // 2 AS g, (rk - 1) % 2 AS p
       |       FROM ranked),
       |sig AS (SELECT doc_id,
       |      ($baseSql
       |      + p * $SimhashSatFlipMask)::BIGINT AS simhash
       |    FROM gp),
       |bands0 AS (
       |  SELECT doc_id, simhash, b AS band,
       |    (simhash // (1::BIGINT << (b * $SimhashBandBits))) % ${1 << SimhashBandBits} AS band_key
       |  FROM sig, range(0, $SimhashBands) t(b)),
       |bands AS (SELECT *, row_number() OVER (PARTITION BY band, band_key
       |    ORDER BY doc_id) AS rn
       |  FROM bands0),
       |guarded AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |      bit_count(xor(x.simhash, y.simhash)) AS hamming
       |    FROM bands x JOIN bands y
       |      ON x.band = y.band AND x.band_key = y.band_key
       |     AND x.doc_id < y.doc_id
       |     AND x.rn <= $LshPairCap AND y.rn <= $LshPairCap
       |    UNION ALL
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |      bit_count(xor(x.simhash, y.simhash)) AS hamming
       |    FROM bands x JOIN bands y
       |      ON x.band = y.band AND x.band_key = y.band_key
       |     AND x.rn = 1 AND y.rn > $LshPairCap)
       |  WHERE hamming <= $SimhashHamMax),
       |exact AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= $SimhashHamMax)
       |SELECT (SELECT count(*) FROM sig) AS n_members,
       |  (SELECT count(*) FROM exact) AS n_exact_pairs,
       |  (SELECT count(*) FROM guarded) AS n_guarded_pairs,
       |  (SELECT count(*) FROM exact) - (SELECT count(*) FROM guarded)
       |    AS n_lost_pairs,
       |  ((SELECT count(*) FROM guarded) * 100)
       |    // nullif((SELECT count(*) FROM exact), 0) AS recall_pct""".stripMargin
  }

  /** Duplicate-CLUSTER resolution: connected components over the
    * MinHash-LSH pair graph, one canonical (minimum) doc id per
    * component — the step a real dedup pipeline runs AFTER pair
    * generation, because duplicates arrive as chains (A~B, B~C) and
    * keep-one-per-PAIR would drop either too much or too little.
    *
    * Spark side: Pregel-style min-label propagation — each round every
    * node takes the minimum of its own label and its neighbors' labels,
    * one join + hash aggregation per round, converging in O(component
    * diameter) rounds (the same loop GraphX's connectedComponents runs).
    * The driver orchestrates rounds; convergence is detected by a
    * change-count accumulator folded into each round's own
    * materializing job (one Spark action per round, no compare-join).
    * The data never leaves the cluster. Each round is materialized
    * through DfMemo's mode: local mode cuts its lineage, so iteration N
    * doesn't replan N-deep trees; persist mode keeps the lineage so a
    * lost block recomputes, and each round reads the previous one from
    * cache.
    * Duplicate components in web corpora are shallow (near-clique), so
    * the round count stays small at any corpus size.
    *
    * DuckDB twin: transitive closure as a recursive CTE with UNION
    * dedup, then min(reachable) per node — tractable because components
    * are tiny; the Spark side is the one that scales. */
  // memoized: the keep-best resolution (Pipeline.dedup_keep_best) reuses
  // the converged labels instead of re-running the propagation loop
  private def clustersDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"dedup_clusters:$dir") {
      import spark.implicits._
      val pairs = minhashPairsDf(spark, dir)
      val edges = graft.functions.DfMemo.materializeFrame(spark,
        pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
          .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))))
      var labels = graft.functions.DfMemo.materializeFrame(spark,
        edges.select($"src".as("doc_id")).distinct()
          .withColumn("canon", $"doc_id"))
      var converged = false
      var rounds = 0
      while (!converged && rounds < 64) {
        val nbrMin = edges
          .join(labels.select($"doc_id".as("src"), $"canon".as("nbr_canon")),
            Seq("src"))
          .groupBy($"dst".as("doc_id"))
          .agg(min($"nbr_canon").as("nbr_min"))
        // convergence detection rides INSIDE the round's one materializing
        // job: the label fold counts its own changes into an accumulator
        // while the eager materialization computes the new frame — no
        // separate compare-join action per round (round 4 ran one, doubling
        // the job count). Task retries can only inflate a NONZERO count
        // (a task that saw no change re-adds zero), so `== 0` stays exact.
        val changes = spark.sparkContext.longAccumulator(s"labelChanges$rounds")
        val next = graft.functions.DfMemo.materializeFrame(spark, labels
          .join(nbrMin, Seq("doc_id"), "left")
          .select($"doc_id", $"canon", $"nbr_min")
          .as[(Long, Long, Option[Long])]
          .mapPartitions(_.map { case (id, canon, nbr) =>
            val c = math.min(canon, nbr.getOrElse(canon))
            if (c != canon) changes.add(1L)
            (id, c)
          })
          .toDF("doc_id", "canon"))
        converged = changes.value == 0L
        // the superseded round's frame is referenced by nothing once
        // `next` is materialized — release it eagerly instead of pinning
        // O(rounds) label snapshots until the ContextCleaner's GC cycle
        graft.functions.DfMemo.release(labels)
        labels = next
        rounds += 1
      }
      // a pathological corpus (component diameter > 64) must fail loudly:
      // silently emitting half-propagated labels would split real clusters
      require(converged, s"label propagation did not converge in $rounds rounds")
      labels.withColumn("is_canonical", $"doc_id" === $"canon")
    }

  private val clustersSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED ($minhashPairsSql),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(node, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r)
       |SELECT node AS doc_id, min(r) AS canon,
       |  node = min(r) AS is_canonical
       |FROM reach GROUP BY node""".stripMargin

  // ---- exact substring dedup (duplicated token spans) ----
  //
  // The suffix-array-style dedup of "Deduplicating Training Data Makes
  // Language Models Better" (Lee et al., 2021), re-expressed as a
  // distributed gram plan: a token span is duplicated when the G-token
  // rolling gram at its position occurs >= 2 times in the corpus
  // (occurrence-based like the paper — a within-document repeat counts),
  // and overlapping duplicated positions merge into maximal spans.
  // G = 8 whitespace tokens here (the paper uses 50 BPE tokens; the dial
  // trades span precision against gram-table size — at 100 TB you raise
  // G, which only SHRINKS every frame below).

  /** Gram window length in tokens. */
  val SubstrG = 8

  /** Positioned rolling gram hashes: (doc_id, pos, gh) for every
    * position with G tokens ahead. Built from the memoized token-hash
    * arrays ([[TextAnalysis.hashedTokens]] — the md5 work is per TOKEN
    * and shared with the whole text family, never per gram) as
    * posexplode + (G-1) `lead`s over (doc, pos) and a Horner fold
    * (acc*B + h) mod M per step — same overflow bound as the document
    * fingerprint (acc < 2^31, B = 131, h < 2^32). The one shuffle is a
    * well-distributed (doc_id) key. */
  private def substrPosDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val hs = TextAnalysis.hashedTokens(spark, dir)
      .select($"doc_id", posexplode($"hs").as(Seq("pos", "h0")))
    val withLeads = (1 until SubstrG).foldLeft(hs) { (df, j) =>
      df.withColumn(s"h$j", lead($"h0", j).over(w))
    }
    val gh = (1 until SubstrG).foldLeft(col("h0")) { (acc, j) =>
      (acc * lit(TextAnalysis.FpBase) + col(s"h$j")) % lit(TextAnalysis.FpMod)
    }
    withLeads.filter(col(s"h${SubstrG - 1}").isNotNull)
      .select($"doc_id", $"pos".cast("long").as("pos"), gh.as("gh"))
  }

  /** Maximal duplicated spans per document: count occurrences per gram
    * hash (ONE shuffle on gh — the count window needs no ordering; a
    * boilerplate-hot gram skews its partition, and the
    * [[HotShingleCap]]-style guard would be the dial at scale), keep
    * positions seen >= 2 times, then gaps-and-islands per doc (break
    * when the gap exceeds G, so islands are disjoint by construction)
    * — by then only duplicated positions remain, a corpus-attrition
    * frame, not the corpus. Memoized: the per-doc audit consumes the
    * same spans. */
  /** Gaps-and-islands merge of a (doc_id, pos) frame of G-gram start
    * positions into maximal disjoint spans (break when the gap exceeds
    * G, so consecutive islands cannot overlap). Runs AFTER the
    * duplicated-position filter — a corpus-attrition frame, not the
    * corpus. */
  private def islandSpans(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val wd = Window.partitionBy($"doc_id").orderBy($"pos")
    df.withColumn("brk",
        when($"pos" - lag($"pos", 1).over(wd) > SubstrG, 1).otherwise(0))
      .withColumn("island", sum($"brk").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"island")
      .agg(
        min($"pos").as("span_start"),
        (max($"pos") + lit(SubstrG - 1).cast("long")).as("span_end"),
        (max($"pos") + lit(SubstrG.toLong) - min($"pos")).as("span_tokens"))
      .select($"doc_id", $"span_start", $"span_end", $"span_tokens")
  }

  /** Positioned grams annotated with the occurrence count AND the
    * canonical rank (first by (doc_id, pos)) of each gram — both
    * windows ride ONE (gh) exchange, and the frame is memoized because
    * spans, stats, and strip all start here (the posexplode + lead
    * chain + gh shuffle execute once per session, not per query). A
    * per-gram sort is bounded by posting-list length (hot-gram skew
    * shares the HotShingleCap dial). */
  private def substrAnnotated(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"substr_pos:$dir") {
      import spark.implicits._
      val wg = Window.partitionBy($"gh")
      val wr = Window.partitionBy($"gh").orderBy($"doc_id", $"pos")
      substrPosDf(spark, dir)
        .withColumn("cnt", count(lit(1)).over(wg))
        .withColumn("rn", row_number().over(wr))
    }

  private def substrSpansDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"substr_spans:$dir") {
      import spark.implicits._
      islandSpans(substrAnnotated(spark, dir).filter($"cnt" >= 2))
    }

  private val substrPosSql: String =
    s"""SELECT doc_id, i - 1 AS pos,
       |  list_reduce(list_slice(hs, i, i + ${SubstrG - 1}),
       |    (a, b) -> (a * ${TextAnalysis.FpBase} + b) % ${TextAnalysis.FpMod}) AS gh
       |FROM (SELECT doc_id, hs,
       |        unnest(range(1, greatest(len(hs) - ${SubstrG - 2}, 1))) AS i
       |      FROM (SELECT doc_id,
       |              list_transform(${TextAnalysis.tokensSql},
       |                t -> ${ColFns.hex32Sql("t")}) AS hs
       |            FROM documents) w0) w1""".stripMargin

  /** The annotated-positions CTE body (count + canonical rank over the
    * gram hash) — ONE definition shared by the spans and strip oracles,
    * mirroring [[substrAnnotated]]. */
  private val substrAnnSql: String =
    s"""p AS ($substrPosSql),
       |ann AS (SELECT doc_id, pos,
       |          count(*) OVER (PARTITION BY gh) AS cnt,
       |          row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
       |        FROM p)""".stripMargin

  private val substrSpansSql: String =
    s"""WITH $substrAnnSql,
       |d AS (SELECT doc_id, pos FROM ann WHERE cnt >= 2),
       |g AS (SELECT doc_id, pos,
       |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |                  > $SubstrG THEN 1 ELSE 0 END AS brk
       |      FROM d),
       |isl AS (SELECT doc_id, pos,
       |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |        FROM g)
       |SELECT doc_id, min(pos) AS span_start,
       |  max(pos) + ${SubstrG - 1} AS span_end,
       |  max(pos) + $SubstrG - min(pos) AS span_tokens
       |FROM isl GROUP BY doc_id, island""".stripMargin

  /** Per-document duplication audit over the spans: every document gets
    * a verdict row (LEFT JOIN from the token frame — a doc with no
    * duplicated span must appear with zeros, not vanish), with the
    * duplicated-token count and ratio the strip step of the paper's
    * pipeline would act on. Islands are disjoint, so dup_tokens <=
    * n_tokens and the ratio is a true fraction; the division is
    * nullif-guarded for empty documents on both engines. */
  private def substrStatsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDoc = substrSpansDf(spark, dir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"), sum($"span_tokens").as("dup_tokens"))
    TextAnalysis.hashedTokens(spark, dir)
      .select($"doc_id", size($"hs").cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
        round(coalesce($"dup_tokens", lit(0L)).cast("double") /
          nullif($"n_tokens", lit(0L)), 6).as("dup_ratio"))
  }

  /** The strip step the spans feed (the paper's dedup ACTION): a
    * duplicated gram occurrence is removable unless it is the canonical
    * (first by (doc_id, pos)) occurrence of its gram. Removal is
    * computed at TOKEN granularity as the cover of removable extents
    * MINUS the cover of canonical duplicated extents in the same doc —
    * without the subtraction, a removable span overlapping a canonical
    * occurrence would destroy the very copy the strip promises to keep
    * (e.g. 'a a a a a a a a a a': positions 1-2 are removable but their
    * span covers tokens 1-7 of the canonical gram at 0). With it, every
    * duplicated gram's canonical extent survives INTACT, so at least
    * one copy of every duplicated substring exists after the strip —
    * exact-dup documents strip to zero while their keeper is untouched,
    * and a within-document repeat keeps its first occurrence. The
    * canonical rank rides the same memoized (gh) exchange as the
    * occurrence count; the token fan-out (xG) runs only over the
    * duplicated-position attrition frame, and the anti-join keys on
    * (doc_id, token) — never corpus-sized on either side. */
  private def substrStripDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ann = substrAnnotated(spark, dir)
    def cover(df: DataFrame): DataFrame =
      df.select($"doc_id",
        explode(sequence($"pos", $"pos" + lit(SubstrG - 1).cast("long")))
          .as("t"))
        .distinct()
    val removed = cover(ann.filter($"cnt" >= 2 && $"rn" > 1))
      .join(cover(ann.filter($"cnt" >= 2 && $"rn" === 1)),
        Seq("doc_id", "t"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("removed_tokens"))
    TextAnalysis.hashedTokens(spark, dir)
      .select($"doc_id", size($"hs").cast("long").as("n_tokens"))
      .join(removed, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"removed_tokens", lit(0L)).as("removed_tokens"),
        ($"n_tokens" - coalesce($"removed_tokens", lit(0L))).as("kept_tokens"),
        round(($"n_tokens" - coalesce($"removed_tokens", lit(0L))).cast("double") /
          nullif($"n_tokens", lit(0L)), 6).as("kept_ratio"))
  }

  private val substrStripSql: String =
    s"""WITH $substrAnnSql,
       |rem AS (SELECT DISTINCT doc_id, t FROM
       |          (SELECT doc_id, unnest(range(pos, pos + $SubstrG)) AS t
       |           FROM ann WHERE cnt >= 2 AND rn > 1) q1),
       |prot AS (SELECT DISTINCT doc_id, t FROM
       |           (SELECT doc_id, unnest(range(pos, pos + $SubstrG)) AS t
       |            FROM ann WHERE cnt >= 2 AND rn = 1) q2),
       |rm AS (SELECT doc_id, count(*) AS removed_tokens FROM
       |         (SELECT doc_id, t FROM rem
       |          EXCEPT
       |          SELECT doc_id, t FROM prot) x
       |       GROUP BY 1),
       |toks AS (SELECT doc_id,
       |           len(${TextAnalysis.tokensSql})::BIGINT AS n_tokens
       |         FROM documents)
       |SELECT t.doc_id, t.n_tokens,
       |  coalesce(rm.removed_tokens, 0)::BIGINT AS removed_tokens,
       |  (t.n_tokens - coalesce(rm.removed_tokens, 0))::BIGINT AS kept_tokens,
       |  round((t.n_tokens - coalesce(rm.removed_tokens, 0))::DOUBLE
       |        / nullif(t.n_tokens, 0), 6) AS kept_ratio
       |FROM toks t LEFT JOIN rm ON t.doc_id = rm.doc_id""".stripMargin

  private val substrStatsSql: String =
    s"""WITH spans AS ($substrSpansSql),
       |per_doc AS (SELECT doc_id, count(*) AS n_spans,
       |              sum(span_tokens) AS dup_tokens
       |            FROM spans GROUP BY 1),
       |toks AS (SELECT doc_id,
       |           len(${TextAnalysis.tokensSql})::BIGINT AS n_tokens
       |         FROM documents)
       |SELECT t.doc_id, t.n_tokens,
       |  coalesce(p.n_spans, 0)::BIGINT AS n_spans,
       |  coalesce(p.dup_tokens, 0)::BIGINT AS dup_tokens,
       |  round(coalesce(p.dup_tokens, 0)::DOUBLE / nullif(t.n_tokens, 0), 6)
       |    AS dup_ratio
       |FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id""".stripMargin

  /** Every 5th doc plays the "new crawl batch"; the rest are the
    * standing corpus. */
  val IncrementalDeltaMod = 5L

  /** Incremental (batch-vs-corpus) dedup — the production shape of a
    * corpus UPDATE: a new crawl batch is screened against the standing
    * corpus without re-running corpus x corpus work. Each delta doc
    * gets the union of both dedup criteria: `exact_dup` if its content
    * hash already exists in the base (the `Streams.docIngest` criterion,
    * batch form), else `near_dup` if it shares a MinHash LSH band with
    * any base doc (the [[minhashPairsDf]] banding, restricted to
    * delta x base), else `novel` — plus the match counts an audit
    * reads (how many base docs it collided with, by each criterion).
    *
    * Scale shape: the delta never joins the base all-pairs — the exact
    * check shuffles (hash, id) only, and the near check reuses the
    * memoized signature frame, banding both sides so candidates meet on
    * (band, key) like every LSH query. At 100 TB the base's band frame
    * is the pre-built index a deployment would persist (bucketed by
    * band key); this query IS that lookup expressed relationally. The
    * signature frame is shared with the full-corpus queries via
    * [[minhashDf]]'s memo, so running the incremental screen next to
    * the batch board costs one extra banded join, not a second
    * signature build. */
  private def incrementalDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", md5($"text").as("content_hash"))
    val isDelta = col("doc_id") % IncrementalDeltaMod === 0
    val delta = docs.filter(isDelta)
    val baseByHash = docs.filter(!isDelta)
      .groupBy($"content_hash").agg(count(lit(1)).as("n_exact"))
    val sig = minhashDf(spark, dir)
    val bands = bandFrame(spark, sig, MinhashK / 4, 4)
    val near = bands.filter(isDelta).as("x")
      .join(bands.filter(!isDelta).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg(countDistinct(col("y.doc_id")).as("n_near"))
    delta
      .join(baseByHash, Seq("content_hash"), "left")
      .join(near, Seq("doc_id"), "left")
      .select($"doc_id",
        when(coalesce($"n_exact", lit(0L)) > 0, "exact_dup")
          .when(coalesce($"n_near", lit(0L)) > 0, "near_dup")
          .otherwise("novel").as("verdict"),
        coalesce($"n_exact", lit(0L)).as("n_exact"),
        coalesce($"n_near", lit(0L)).as("n_near"))
  }

  private val incrementalSql: String =
    s"""WITH sh AS ($shingledSql),
       |sig AS (SELECT doc_id,
       |${(0 until MinhashK).map(i => s"  min((${MinhashA(i)} * h + ${MinhashB(i)}) % $MinhashP) AS mh$i").mkString(",\n")}
       |FROM sh GROUP BY doc_id),
       |docs AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
       |delta AS (SELECT * FROM docs WHERE doc_id % $IncrementalDeltaMod = 0),
       |ex AS (SELECT content_hash, count(*) AS n_exact FROM docs
       |       WHERE doc_id % $IncrementalDeltaMod <> 0 GROUP BY 1),
       |bands AS (${(0 until MinhashK / 4).map { b =>
      val key = (0 until 4).map(r => s"mh${b * 4 + r}::VARCHAR").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\nUNION ALL\n")}),
       |nb AS (SELECT x.doc_id, count(DISTINCT y.doc_id) AS n_near
       |       FROM bands x JOIN bands y
       |         ON x.band = y.band AND x.band_key = y.band_key
       |       WHERE x.doc_id % $IncrementalDeltaMod = 0
       |         AND y.doc_id % $IncrementalDeltaMod <> 0
       |       GROUP BY 1)
       |SELECT d.doc_id,
       |  CASE WHEN coalesce(e.n_exact, 0) > 0 THEN 'exact_dup'
       |       WHEN coalesce(nb.n_near, 0) > 0 THEN 'near_dup'
       |       ELSE 'novel' END AS verdict,
       |  coalesce(e.n_exact, 0)::BIGINT AS n_exact,
       |  coalesce(nb.n_near, 0)::BIGINT AS n_near
       |FROM delta d
       |LEFT JOIN ex e USING (content_hash)
       |LEFT JOIN nb USING (doc_id)""".stripMargin

  /** Prefix width for the edit-distance verification rung. */
  val EditPrefixChars = 64

  /** Edit-distance verification of LSH candidates (`dedup_edit_verify`)
    * — the exactness rung between banded candidacy and the shingle
    * Jaccard: per candidate pair, the Levenshtein distance over the
    * two documents' [[EditPrefixChars]]-char prefixes and its
    * normalized similarity, with a `verified` verdict at 0.8. Bounded
    * prefixes keep the O(len²) DP constant-cost per pair — the
    * standard production compromise — and the pair list is the SAME
    * memoized banded frame every other dedup rung consumes, so at
    * 100 TB this is |candidates| × O(1), never all-pairs. Spark's
    * `levenshtein` and DuckDB's agree by definition (unit-cost DP), so
    * the verdicts hash-check. */
  private def editVerifyDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val prefixes = Tables.documents(spark, dir)
      .select($"doc_id", substring($"text", 1, EditPrefixChars).as("prefix"))
    minhashPairsDf(spark, dir)
      .join(prefixes.select($"doc_id".as("doc_a"), $"prefix".as("pa")),
        Seq("doc_a"))
      .join(prefixes.select($"doc_id".as("doc_b"), $"prefix".as("pb")),
        Seq("doc_b"))
      .withColumn("edit_dist", levenshtein($"pa", $"pb").cast("long"))
      .withColumn("edit_sim", round(lit(1.0) -
        $"edit_dist" / greatest(length($"pa"), length($"pb"))
          .cast("double"), 6))
      .select($"doc_a", $"doc_b", $"edit_dist", $"edit_sim",
        ($"edit_sim" >= 0.8).as("verified"))
  }

  private val editVerifySql: String =
    s"""WITH pairs AS ($minhashPairsSql),
       |p AS (SELECT doc_id, substr(text, 1, $EditPrefixChars) AS prefix
       |      FROM documents)
       |SELECT doc_a, doc_b,
       |  levenshtein(a.prefix, b.prefix)::BIGINT AS edit_dist,
       |  round(1.0 - levenshtein(a.prefix, b.prefix)::DOUBLE
       |    / greatest(length(a.prefix), length(b.prefix)), 6) AS edit_sim,
       |  round(1.0 - levenshtein(a.prefix, b.prefix)::DOUBLE
       |    / greatest(length(a.prefix), length(b.prefix)), 6) >= 0.8
       |    AS verified
       |FROM pairs JOIN p a ON a.doc_id = doc_a
       |JOIN p b ON b.doc_id = doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_edit_verify" -> (editVerifyDf(_, _)),
    "dedup_incremental" -> (incrementalDf(_, _)),
    "dedup_exact" -> (exactDf(_, _)),
    "dedup_minhash_sig" -> (minhashDf(_, _)),
    "dedup_minhash_pairs" -> (minhashPairsDf(_, _)),
    "dedup_minhash_est" -> (minhashEstDf(_, _)),
    "dedup_containment" -> (containmentDf(_, _)),
    "dedup_simhash_pairs" -> (simhashPairsDf(_, _)),
    "dedup_simhash_sat" -> (simhashSatDf(_, _)),
    "dedup_clusters" -> (clustersDf(_, _)),
    "dedup_jaccard_topk" -> (jaccardDf(_, _)),
    "dedup_pair_census" -> (pairCensusDf(_, _)),
    "dedup_lsh_curve" -> (lshCurveDf(_, _)),
    "dedup_simhash" -> (simhashDf(_, _)),
    "dedup_substring_spans" -> (substrSpansDf(_, _)),
    "dedup_substring_stats" -> (substrStatsDf(_, _)),
    "dedup_substring_strip" -> (substrStripDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "dedup_edit_verify" -> editVerifySql,
    "dedup_incremental" -> incrementalSql,
    "dedup_exact" -> exactSql,
    "dedup_minhash_sig" -> minhashSql,
    "dedup_minhash_pairs" -> minhashPairsSql,
    "dedup_minhash_est" -> minhashEstSql,
    "dedup_containment" -> containmentSql,
    "dedup_simhash_pairs" -> simhashPairsSql,
    "dedup_simhash_sat" -> simhashSatSql,
    "dedup_clusters" -> clustersSql,
    "dedup_jaccard_topk" -> jaccardSql,
    "dedup_pair_census" -> pairCensusSql,
    "dedup_lsh_curve" -> lshCurveSql,
    "dedup_simhash" -> simhashSql,
    "dedup_substring_spans" -> substrSpansSql,
    "dedup_substring_stats" -> substrStatsSql,
    "dedup_substring_strip" -> substrStripSql
  )
}
