package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.ColFns
import graft.OpModule

/** Training-set assembly operators (builder-prompt north star): the
  * steps a 100 TB corpus goes through between raw documents and a
  * training shard, composed from the engine's own primitives:
  *
  *  - stratified sampling: deterministic hash-based keep decision with a
  *    per-source rate — reproducible (re-running selects the identical
  *    subset, the property that makes a sampled corpus auditable) and
  *    embarrassingly parallel (pure per-row map work, zero shuffle).
  *  - quality gate: the selection join — language filter x quality
  *    threshold x exact-dedup keeper, one plan composing three operator
  *    families. Each input is itself a hash-checked query.
  *  - benchmark contamination: flags training documents sharing word
  *    3-gram shingles with a held-out benchmark set (the eval-leakage
  *    check every LLM data pipeline runs). Inverted-index equi-join on
  *    the shingle hash — the same bounded join shape as the Jaccard
  *    dedup, never all-pairs.
  */
object Pipeline extends OpModule {

  /** Per-source sampling rate in [25, 74] percent, derived from the
    * source name: stands in for the curated per-domain weights of a real
    * mixture (e.g. up-weight reference text, down-weight boilerplate). */
  val RateBase = 25
  val RateSpan = 50

  /** Benchmark membership: 1-in-BenchMod doc ids form the held-out set. */
  val BenchMod = 97
  /** Minimum shared shingles to count as contaminated. */
  val MinOverlap = 3

  private def sampleDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("rate",
        lit(RateBase) + ColFns.hex32($"source") % RateSpan)
      .withColumn("keep_hash",
        ColFns.hex32(concat($"doc_id".cast("string"), lit(":"), $"source"))
          % 100)
      .filter($"keep_hash" < $"rate")
      .select("doc_id", "source", "rate", "keep_hash")
  }

  private val sampleSql: String =
    s"""SELECT doc_id, source,
       |  $RateBase + ${ColFns.hex32Sql("source")} % $RateSpan AS rate,
       |  ${ColFns.hex32Sql("(doc_id::VARCHAR || ':' || source)")} % 100 AS keep_hash
       |FROM documents
       |WHERE ${ColFns.hex32Sql("(doc_id::VARCHAR || ':' || source)")} % 100
       |      < $RateBase + ${ColFns.hex32Sql("source")} % $RateSpan""".stripMargin

  /** Exact-dedup keeper set (min doc_id per content hash) — the ONE
    * definition of the exact-dedup identity, shared by the quality gate
    * and the corpus verdict (SQL twin: [[keepersSqlFrag]]) so the
    * consumers cannot drift apart if the identity ever changes (e.g.
    * text normalization before hashing). */
  private def keepersDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("doc_id"))
      .select("doc_id")
  }

  private val keepersSqlFrag: String =
    "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)"

  /** Selection = english AND quality >= 0.5 AND exact-dedup keeper.
    * Composes three already-verified frames in one plan: the keeper set
    * is a hash aggregation (map-side combine), the quality/langid frames
    * are zero-shuffle map work, and the joins all hash on doc_id. */
  /** The composed (doc, source, lang, quality) keeper verdict, BEFORE
    * any threshold filter — identical in the shipped gate and its
    * threshold dial, so it is memoized once: the gate is a filter and
    * each curve cell an aggregate over the checkpoint, instead of each
    * consumer re-running the md5 keeper aggregation, the langid map and
    * the quality blend. */
  private def gateVerdictDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"gate_verdict:$dir") {
      import spark.implicits._
      val lang = TextAnalysis.queries("text_langid")(spark, dir)
        .select($"doc_id", $"lang")
      val quality = TextAnalysis.queries("text_quality")(spark, dir)
        .select($"doc_id", $"quality")
      Tables.documents(spark, dir)
        .select($"doc_id", $"source")
        .join(keepersDf(spark, dir), Seq("doc_id")) // semi: keeper ids are unique
        .join(lang, Seq("doc_id"))
        .join(quality, Seq("doc_id"))
        .select("doc_id", "source", "lang", "quality")
    }

  private def qualityGateDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gateVerdictDf(spark, dir)
      .filter($"lang" === "en" && $"quality" >= 0.5)
  }

  private val qualityGateSql: String =
    s"""WITH l AS (${TextAnalysis.oracles("text_langid")}),
       |q AS (${TextAnalysis.oracles("text_quality")}),
       |k AS ($keepersSqlFrag)
       |SELECT d.doc_id, d.source, l.lang, q.quality
       |FROM documents d
       |JOIN k ON k.doc_id = d.doc_id
       |JOIN l ON l.doc_id = d.doc_id
       |JOIN q ON q.doc_id = d.doc_id
       |WHERE l.lang = 'en' AND q.quality >= 0.5""".stripMargin

  /** Thresholds for the quality-gate dial. */
  val QualityCurveThresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6, 0.7)

  /** The quality-gate dial (`docs_quality_curve`): the selection
    * replayed at five quality thresholds — per threshold, how many docs
    * pass on quality alone and how many survive the FULL composed gate
    * (english + exact-dedup keeper + quality). Monotone decreasing in
    * the threshold by construction; the shipped 0.5 row's gate count
    * equals `docs_quality_gate`'s size (spec-asserted). One scan builds
    * the joined verdict frame; each threshold is a 1-row conditional
    * count over it. */
  private def qualityCurveDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = TextAnalysis.queries("text_quality")(spark, dir)
      .select($"doc_id", $"quality")
    val gated = gateVerdictDf(spark, dir)
    // ONE aggregation pass per input frame with all thresholds as
    // columns (a per-threshold union re-executed the quality scan and
    // the 3-join gate subtree once per threshold — 10 subtree runs for
    // 5 thresholds), then a row per threshold via explode. Each sum is
    // the same conditional count as before; explode preserves the
    // ascending-threshold row order of the old union.
    val ti = QualityCurveThresholds.zipWithIndex
    val qCols = ti.map { case (t, i) =>
      sum(when($"quality" >= t, 1L).otherwise(0L)).as(s"pq_$i") }
    val gCols = ti.map { case (t, i) =>
      sum(when($"lang" === "en" && $"quality" >= t, 1L).otherwise(0L))
        .as(s"pg_$i") }
    q.agg(qCols.head, qCols.tail: _*)
      .crossJoin(gated.agg(gCols.head, gCols.tail: _*))
      .select(explode(array(ti.map { case (t, i) =>
        struct(round(lit(t), 2).as("threshold"),
          col(s"pq_$i").as("n_pass_quality"),
          col(s"pg_$i").as("n_pass_gate")) }: _*)).as("r"))
      .select($"r.threshold", $"r.n_pass_quality", $"r.n_pass_gate")
  }

  private lazy val qualityCurveSql: String = {
    val rows = QualityCurveThresholds.map(t =>
      s"""SELECT $t AS threshold,
         |  (SELECT sum(CASE WHEN quality >= $t THEN 1 ELSE 0 END)::BIGINT
         |   FROM q) AS n_pass_quality,
         |  (SELECT sum(CASE WHEN l.lang = 'en' AND q.quality >= $t
         |              THEN 1 ELSE 0 END)::BIGINT
         |   FROM documents d
         |   JOIN k ON k.doc_id = d.doc_id
         |   JOIN l ON l.doc_id = d.doc_id
         |   JOIN q ON q.doc_id = d.doc_id) AS n_pass_gate""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH l AS (${TextAnalysis.oracles("text_langid")}),
       |q AS (${TextAnalysis.oracles("text_quality")}),
       |k AS ($keepersSqlFrag)
       |$rows""".stripMargin
  }

  /** Contaminated training docs: >= MinOverlap distinct 3-gram shingles
    * shared with any benchmark document. Reuses the memoized shingle
    * index; the join hashes on the shingle, so work is proportional to
    * actual overlap, not corpus^2. */
  private def contaminationDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sets = Dedup.shingled(spark, dir)
      .select($"doc_id", $"h").distinct()
    val bench = sets.filter($"doc_id" % BenchMod === 0)
      .select($"h").distinct()
    sets.filter($"doc_id" % BenchMod =!= 0)
      .join(bench, Seq("h"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= MinOverlap)
  }

  private val contaminationSql: String =
    s"""WITH sh AS (${Dedup.shingledSql}),
       |sets AS (SELECT DISTINCT doc_id, h FROM sh),
       |bench AS (SELECT DISTINCT h FROM sets WHERE doc_id % $BenchMod = 0)
       |SELECT s.doc_id, count(*) AS n_shared
       |FROM sets s JOIN bench b ON b.h = s.h
       |WHERE s.doc_id % $BenchMod <> 0
       |GROUP BY 1
       |HAVING count(*) >= $MinOverlap""".stripMargin

  /** Shingle widths swept by the sensitivity curve. */
  val ContamCurveNs: Seq[Int] = Seq(2, 3, 4, 5)

  /** Decontamination sensitivity curve (`bench_contamination_curve`):
    * how many training docs the shingle screen flags at each width
    * n ∈ [[ContamCurveNs]] — the tuning table behind the n=3 choice
    * every decontamination pipeline hard-codes. Short shingles
    * over-flag (common phrases), long ones under-flag (any paraphrase
    * breaks the run); the curve prices that trade. Monotone
    * non-increasing in n (any two distinct n-grams contain ≥2 distinct
    * (n-1)-grams, so a doc flagged at n is flagged at n-1 — asserted in
    * the spec). ALL widths come from ONE lead-window pass: the token
    * stream is walked once with leads t1..t4 and each width is a
    * projection of that frame — at 100 TB you never re-scan the corpus
    * per candidate width. */
  private def contamCurveDf(spark: SparkSession, dir: String): DataFrame =
    // memoized like the other curve frames (4 rows); the build
    // checkpoints each width's distinct gram-set frame once — `bench`
    // and the training side both filter it, and without the
    // materialization the corpus-sized distinct re-executed per
    // reference (2 per width, 8 total — the round-15 board's #1 entry
    // once the LSH curve was fixed the same way)
    graft.functions.DfMemo.cached(spark, s"contam_curve:$dir") {
      import spark.implicits._
      val maxN = ContamCurveNs.max
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      // memoized: all four width branches CONSUME this one pass — without
      // the checkpoint each union branch re-executes the explode+window
      // subtree (exchange reuse only shares the shuffle, not the window)
      val leads = graft.functions.DfMemo.cached(spark, s"contam_leads:$dir") {
        Tables.documents(spark, dir)
          .select($"doc_id",
            posexplode(filter(split($"text", "\\s+"), t => t =!= ""))
              .as(Seq("pos", "tok")))
          .select(($"doc_id" +: $"tok" +:
            (1 until maxN).map(k => lead($"tok", k).over(w).as(s"t$k"))): _*)
      }
      ContamCurveNs.map { n =>
        val parts = $"tok" +: (1 until n).map(k => col(s"t$k"))
        val sets = graft.functions.DfMemo.materializeFrame(spark, leads
          .filter(col(s"t${n - 1}").isNotNull)
          .select($"doc_id",
            ColFns.hex32(concat_ws(" ", parts: _*)).as("h"))
          .distinct())
        val bench = sets.filter($"doc_id" % BenchMod === 0)
          .select($"h").distinct()
        sets.filter($"doc_id" % BenchMod =!= 0)
          .join(bench, Seq("h"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter($"n_shared" >= MinOverlap)
          .agg(count(lit(1)).as("n_contaminated"),
            coalesce(sum($"n_shared"), lit(0L)).as("total_shared"))
          .select(lit(n).as("shingle_n"), $"n_contaminated", $"total_shared")
      }.reduce(_ unionByName _)
    }

  private val contamCurveSql: String = {
    val rows = ContamCurveNs.map { n =>
      val gram = (0 until n).map(k => s"ws[i + $k]").mkString(" || ' ' || ")
      s"""(WITH sh AS (
         |  SELECT doc_id, ${ColFns.hex32Sql(s"($gram)")} AS h
         |  FROM (SELECT doc_id, ws,
         |          unnest(range(1, greatest(len(ws) - ${n - 2}, 1))) AS i
         |        FROM (SELECT doc_id,
         |                list_filter(regexp_split_to_array(text, '\\s+'),
         |                            t -> t <> '') AS ws
         |              FROM documents) w0) w1),
         |sets AS (SELECT DISTINCT doc_id, h FROM sh),
         |bench AS (SELECT DISTINCT h FROM sets WHERE doc_id % $BenchMod = 0),
         |c AS (SELECT s.doc_id, count(*) AS n_shared
         |      FROM sets s JOIN bench b ON b.h = s.h
         |      WHERE s.doc_id % $BenchMod <> 0
         |      GROUP BY 1 HAVING count(*) >= $MinOverlap)
         |SELECT $n AS shingle_n, count(*) AS n_contaminated,
         |  coalesce(sum(n_shared), 0)::BIGINT AS total_shared
         |FROM c)""".stripMargin
    }
    rows.mkString("\nUNION ALL\n")
  }

  // ---- Bloom-filter decontamination prefilter ----
  //
  // The membership sketch completing the audit trio (KMV: how many
  // distinct; count-min: how often; Bloom: is this one of THEIRS): the
  // benchmark shingle set folds into an m-bit filter, and the corpus
  // scan tests each shingle against it — the broadcast-a-few-KB shape
  // that replaces the benchmark-side join at 100 TB. Deterministic
  // md5-derived hash rows make the filter, its maybe-verdicts, AND the
  // measured false-positive mass hash-checkable against the exact join.

  val BloomM = 8192L
  val BloomK = 3
  private val BloomA: Seq[Long] = (0 until BloomK).map(j =>
    1L + ColFns.md5Const32(s"blooma$j") % ((1L << 25) - 1))
  private val BloomB: Seq[Long] = (0 until BloomK).map(j =>
    ColFns.md5Const32(s"bloomb$j") % (1L << 25))

  private def bloomPos(j: Int, h: Column): Column =
    ColFns.universalBucket(BloomA(j), BloomB(j), TextAnalysis.FpMod, BloomM, h)

  /** Per-doc contamination verdicts from the Bloom prefilter next to the
    * exact join's: n_shingles / n_maybe (all k positions set) /
    * n_shared (exact), with the no-false-negative guarantee visible as
    * n_maybe >= n_shared on every row. The set-bit table is <= m rows
    * and BROADCASTS; the corpus side fans out k positions per distinct
    * shingle and aggregates back — never a benchmark-side shuffle. The
    * exact join rides along (this is the measurement query; a
    * deployment keeps only the bloom side and pays the measured FP
    * re-check rate). */
  private def contaminationBloomDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sets = Dedup.jaccardSetsDf(spark, dir)
    val bits = sets.filter($"doc_id" % BenchMod === 0)
      .select(explode(array((0 until BloomK).map(j =>
        bloomPos(j, $"h")): _*)).as("pos"))
      .distinct()
    val corpus = sets.filter($"doc_id" % BenchMod =!= 0)
    val maybe = corpus
      .select($"doc_id", $"h", explode(array((0 until BloomK).map(j =>
        bloomPos(j, $"h")): _*)).as("pos"))
      .join(broadcast(bits), Seq("pos"))
      .groupBy($"doc_id", $"h").agg(count(lit(1)).as("khits"))
      .filter($"khits" === BloomK)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_maybe"))
    val exact = corpus
      .join(sets.filter($"doc_id" % BenchMod === 0).select($"h").distinct(),
        Seq("h"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    // audit completeness: base the verdicts on the DOCUMENT frame, not
    // the shingle frame — a doc under 3 tokens has no shingles but must
    // still get its (vacuously clean) row, like every audit query here
    Tables.documents(spark, dir)
      .filter($"doc_id" % BenchMod =!= 0).select($"doc_id")
      .join(corpus.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles")),
        Seq("doc_id"), "left")
      .join(maybe, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_shingles", lit(0L)).as("n_shingles"),
        coalesce($"n_maybe", lit(0L)).as("n_maybe"),
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        (coalesce($"n_maybe", lit(0L)) >= MinOverlap).as("bloom_flag"),
        (coalesce($"n_shared", lit(0L)) >= MinOverlap).as("exact_flag"))
  }

  private val contaminationBloomSql: String = {
    def posSql(j: Int, h: String) =
      ColFns.universalBucketSql(BloomA(j), BloomB(j), TextAnalysis.FpMod, BloomM, h)
    val bitRows = (0 until BloomK).map(j =>
      s"SELECT DISTINCT ${posSql(j, "h")} AS pos FROM bench").mkString(" UNION ")
    val probeRows = (0 until BloomK).map(j =>
      s"SELECT doc_id, h, ${posSql(j, "h")} AS pos FROM corpus").mkString("\nUNION ALL\n")
    s"""WITH sh AS (${Dedup.shingledSql}),
       |sets AS (SELECT DISTINCT doc_id, h FROM sh),
       |bench AS (SELECT DISTINCT h FROM sets WHERE doc_id % $BenchMod = 0),
       |corpus AS (SELECT doc_id, h FROM sets WHERE doc_id % $BenchMod <> 0),
       |bits AS ($bitRows),
       |mb AS (SELECT doc_id, count(*) AS n_maybe FROM
       |         (SELECT doc_id, h FROM ($probeRows) p
       |          JOIN bits USING (pos)
       |          GROUP BY doc_id, h HAVING count(*) = $BloomK) q
       |       GROUP BY 1),
       |ex AS (SELECT c.doc_id, count(*) AS n_shared
       |       FROM corpus c JOIN bench b USING (h) GROUP BY 1),
       |shc AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
       |base AS (SELECT doc_id FROM documents WHERE doc_id % $BenchMod <> 0)
       |SELECT base.doc_id,
       |  coalesce(shc.n_shingles, 0)::BIGINT AS n_shingles,
       |  coalesce(mb.n_maybe, 0)::BIGINT AS n_maybe,
       |  coalesce(ex.n_shared, 0)::BIGINT AS n_shared,
       |  coalesce(mb.n_maybe, 0) >= $MinOverlap AS bloom_flag,
       |  coalesce(ex.n_shared, 0) >= $MinOverlap AS exact_flag
       |FROM base LEFT JOIN shc ON shc.doc_id = base.doc_id
       |LEFT JOIN mb ON mb.doc_id = base.doc_id
       |LEFT JOIN ex ON ex.doc_id = base.doc_id""".stripMargin
  }

  /** Corpus length profile: exact per-language document-length
    * percentiles (the distribution snapshot every pipeline takes before
    * choosing truncation/packing lengths). Spark's `percentile` is the
    * EXACT sort-based aggregate with linear interpolation — the same
    * definition as DuckDB's `quantile_cont` — computed per group in one
    * pass; round(6) guards the interpolation arithmetic's last ulp.
    * Scale note: exact percentiles sort within each (small) language
    * group; a single giant group at 100 TB would switch to
    * `approx_percentile` (t-digest) — the documented accuracy/cost dial,
    * not needed while groups fit a partition. */
  val LengthPcts: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)

  private def lengthStatsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pctArr = LengthPcts.map(p => s"${p}D").mkString("array(", ", ", ")")
    Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        avg($"n_chars".cast("double")).as("avg_chars"),
        expr(s"percentile(n_chars, $pctArr)").as("pcts"))
      .select(($"lang" +: $"n_docs" +: round($"avg_chars", 6).as("avg_chars") +:
        LengthPcts.zipWithIndex.map { case (p, i) =>
          round(element_at($"pcts", i + 1), 6)
            .as(s"p${(p * 100).toInt}")
        }): _*)
  }

  private val lengthStatsSql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  round(avg(n_chars::DOUBLE), 6) AS avg_chars,
       |${LengthPcts.map(p =>
            s"  round(quantile_cont(n_chars, $p), 6) AS p${(p * 100).toInt}")
          .mkString(",\n")}
       |FROM documents GROUP BY 1""".stripMargin

  // ---- histogram quantile sketch ----
  //
  // The quantile member of the sketch suite: `docs_length_stats`
  // documents approx_percentile as its 100 TB dial, but t-digests are
  // merge-order-dependent and engine-private — this is the portable
  // alternative a cross-engine pipeline actually uses: a fixed
  // equi-width histogram (counts merge associatively; the whole sketch
  // is B longs per group) with linear interpolation inside the covering
  // bin, measured per-quantile against the exact sort-based percentile
  // on the same row.

  /** Histogram bins. Error bound: one bin width = (max-min)/B. */
  val HistB = 64

  /** The shared binning expression — the batch sketch and the streaming
    * monitor ([[graft.streaming.Streams.histMonitor]]) must place every
    * value in the same cell or their grids can't merge. Clamps to the
    * top bin so the range maximum (and any out-of-calibration value on
    * the streaming side) stays countable. */
  def histBinCol(nChars: Column, lo: Column, w: Column): Column =
    when(w === 0.0, lit(0L)).otherwise(
      least(floor((nChars - lo).cast("double") / w),
        lit(HistB - 1).cast("double")).cast("long"))

  /** Per-(lang, quantile) estimate-vs-exact: the histogram CDF is
    * inverted at target = q*n (first bin whose running count reaches
    * it, interpolating by the target's position within that bin) and
    * compared against the exact percentile. Plan: one tiny global
    * min/max aggregate broadcasts into the scan; ONE (lang, bin)
    * aggregation builds every group's sketch; the cumulative window
    * runs over <= B rows per lang. The exact twin rides along — a
    * deployment keeps the histogram side only. */
  private def histQuantilesDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"lang", $"n_chars")
    val mm = docs.agg(min($"n_chars").as("lo"), max($"n_chars").as("hi"))
    val width = ($"hi" - $"lo").cast("double") / HistB
    val binned = docs.crossJoin(broadcast(mm))
      .withColumn("w", width)
      .withColumn("bin", histBinCol($"n_chars", $"lo", $"w"))
    val hist = binned.groupBy($"lang", $"lo", $"w", $"bin")
      .agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy($"lang").orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum($"cnt").over(wc))
      .withColumn("n", sum($"cnt").over(Window.partitionBy($"lang")))
    val qs = LengthPcts.map(q => lit(q)).toArray
    val est = cum
      .crossJoin(broadcast(spark.range(1).select(
        explode(array(qs: _*)).as("q"))))
      .withColumn("target", $"q" * $"n")
      .filter($"cum" >= $"target" && ($"cum" - $"cnt") < $"target")
      .withColumn("est",
        when($"w" === 0.0, $"lo".cast("double")).otherwise(
          $"lo" + $"w" * ($"bin" +
            ($"target" - ($"cum" - $"cnt")) / $"cnt")))
      .select($"lang", $"q", round($"est", 6).as("est"))
    val exact = Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(expr(s"percentile(n_chars, array(${LengthPcts.map(p => s"${p}D").mkString(", ")}))")
        .as("pcts"))
      .select(($"lang" +: LengthPcts.zipWithIndex.map { case (p, i) =>
        round(element_at($"pcts", i + 1), 6).as(s"x${(p * 100).toInt}")
      }): _*)
    val exactLong = exact.select($"lang", explode(array(
      LengthPcts.map(p => struct(
        lit(p).as("q"), col(s"x${(p * 100).toInt}").as("exact"))): _*)).as("e"))
      .select($"lang", $"e.q", $"e.exact")
    est.join(exactLong, Seq("lang", "q"))
      .select($"lang", $"q", $"est", $"exact",
        round(abs($"est" - $"exact"), 6).as("abs_err"))
  }

  private val histQuantilesSql: String = {
    val qRows = LengthPcts.map(q => s"SELECT ${q}::DOUBLE AS q")
      .mkString(" UNION ALL ")
    val exRows = LengthPcts.map(q =>
      s"SELECT lang, ${q}::DOUBLE AS q, round(quantile_cont(n_chars, $q), 6) AS exact FROM documents GROUP BY lang")
      .mkString("\nUNION ALL\n")
    s"""WITH mm AS (SELECT min(n_chars) AS lo,
       |              (max(n_chars) - min(n_chars))::DOUBLE / $HistB AS w
       |            FROM documents),
       |b AS (SELECT d.lang, mm.lo, mm.w,
       |        CASE WHEN mm.w = 0.0 THEN 0
       |             ELSE least(floor((d.n_chars - mm.lo)::DOUBLE / mm.w),
       |                        ${HistB - 1})::BIGINT END AS bin
       |      FROM documents d, mm),
       |hist AS (SELECT lang, lo, w, bin, count(*) AS cnt
       |         FROM b GROUP BY 1, 2, 3, 4),
       |cum AS (SELECT lang, lo, w, bin, cnt,
       |          sum(cnt) OVER (PARTITION BY lang ORDER BY bin
       |                         ROWS UNBOUNDED PRECEDING) AS cum,
       |          sum(cnt) OVER (PARTITION BY lang) AS n
       |        FROM hist),
       |qq AS ($qRows),
       |est AS (SELECT lang, q,
       |          round(CASE WHEN w = 0.0 THEN lo::DOUBLE
       |                ELSE lo + w * (bin + (q * n - (cum - cnt))::DOUBLE / cnt)
       |                END, 6) AS est
       |        FROM cum, qq
       |        WHERE cum >= q * n AND (cum - cnt) < q * n),
       |ex AS ($exRows)
       |SELECT est.lang, est.q, est.est, ex.exact,
       |  round(abs(est.est - ex.exact), 6) AS abs_err
       |FROM est JOIN ex ON ex.lang = est.lang AND ex.q = est.q""".stripMargin
  }

  /** Tokens per packed training sequence. Sized so a typical source
    * (median doc ~56 tokens) fills several sequences at sf0.01; a real
    * pipeline sets this to the model's context length. */
  val PackBudget = 256L

  /** Documents per packing granule — the two-level (hierarchical)
    * packing bucket. Sized small so the sf corpora exercise multiple
    * granules through the oracle gate; a 100 TB deployment raises it to
    * ~1e5 (the dial trades granule-frame size against per-window
    * parallelism — results are identical at ANY value). */
  val PackBucketDocs = 256L

  /** Concat-and-chunk sequence packing — the GPT-style pretraining
    * layout: per source, documents are concatenated in doc_id order and
    * the token stream is cut every [[PackBudget]] tokens; each document
    * records which sequence it starts in and at what token offset.
    *
    * Plan: TWO-LEVEL (hierarchical) prefix sums, because a single
    * per-source running-sum window collapses a giant source onto one
    * task — the skew a 90%-one-source corpus hits. Level 1 runs the
    * running sum within bounded `(source, doc_id div PackBucketDocs)`
    * granules; level 2 prefix-sums the per-granule token totals (a
    * frame |corpus|/granule rows, broadcast back). Because granule
    * boundaries follow doc_id order, `granule_base + within_granule`
    * equals the single-window cumulative sum EXACTLY — unbounded
    * parallelism with bit-identical output (asserted against the
    * direct-window reference on a 90%-skewed fixture in SkewSpec), so
    * the DuckDB oracle stays the simple single-window form. Never a
    * global sort. */
  private def packDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextAnalysis.queries("text_tokens")(spark, dir)
      .select($"doc_id", $"n_tokens")
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"source")
      .join(toks, Seq("doc_id"))
      .withColumn("bkt", expr(s"doc_id div $PackBucketDocs"))
    // level 1: running sum within a bounded granule
    val wIn = Window.partitionBy($"source", $"bkt").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // level 2: per-granule totals, exclusive-prefix-summed within source
    val wBase = Window.partitionBy($"source").orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = base.groupBy($"source", $"bkt")
      .agg(sum($"n_tokens").as("bt"))
      .withColumn("bkt_base", coalesce(sum($"bt").over(wBase), lit(0L)))
      .select($"source", $"bkt", $"bkt_base")
    base
      .withColumn("cum_in", coalesce(sum($"n_tokens").over(wIn), lit(0L)))
      .join(broadcast(bases), Seq("source", "bkt"))
      .withColumn("cum_before", $"bkt_base" + $"cum_in")
      .select($"doc_id", $"source", $"n_tokens",
        // integer `div`, not double '/' + cast: long division through a
        // double rounds at 2^52-scale cumulative token counts, where the
        // truncating cast can land one past the oracle's exact floor
        expr(s"cum_before div $PackBudget").as("seq_id"),
        ($"cum_before" % lit(PackBudget)).as("tok_offset"))
  }

  private val packSql: String =
    s"""WITH t AS (${TextAnalysis.oracles("text_tokens")}),
       |j AS (SELECT d.doc_id, d.source, t.n_tokens
       |      FROM documents d JOIN t ON t.doc_id = d.doc_id),
       |c AS (SELECT doc_id, source, n_tokens,
       |  coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |    AS cum_before
       |FROM j)
       |SELECT doc_id, source, n_tokens,
       |  (cum_before // $PackBudget)::BIGINT AS seq_id,
       |  (cum_before % $PackBudget)::BIGINT AS tok_offset
       |FROM c""".stripMargin

  /** The no-split packing fold's row types ([[packGreedyDf]]). */
  private[operators] case class PackDoc(doc_id: Long, source: String,
    n_tokens: Long)
  private[operators] case class PackedDoc(doc_id: Long, source: String,
    n_tokens: Long, seq_id: Long, tok_offset: Long)

  /** Greedy NO-SPLIT packing (`pipeline_pack_greedy`) — the other
    * pretraining layout: documents never span sequence boundaries
    * (T5/FIM-style packing, where cross-document attention is masked or
    * avoided entirely). Greedy first-fit in doc_id order per source: a
    * document that does not fit the open sequence's remaining budget
    * closes it and opens the next; an oversized document (> budget,
    * none in the sf corpora — the spec plants one) takes a sequence of
    * its own, never an empty one. Unlike the concat-and-chunk
    * `pipeline_pack`, the boundary depends on HISTORY (a reset running
    * sum has no prefix-sum closed form), so this is a sequential fold —
    * the `flatMapSortedGroups` machinery the position FSM uses: one
    * stream per source, shuffle-sort-ordered, O(1) state, spill-safe at
    * any source size. The DuckDB oracle replays the same transition as
    * a per-source recursive CTE (the FSM oracle pattern). Parallelism
    * is per-source — the packing unit real pipelines shard by. */
  private def packGreedyDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"pack_greedy:$dir")(
      packGreedyAt(spark, dir, PackBudget))

  /** The greedy no-split fold at an arbitrary budget — shared by the
    * shipped [[PackBudget]] layout and the budget dial
    * (`pipeline_pack_curve`). */
  private def packGreedyAt(spark: SparkSession, dir: String,
      budget: Long): DataFrame = {
    import spark.implicits._
    // the (doc, source, n_tokens) input is budget-INdependent: memoize
    // it once so the pack curve's per-budget branches (and the shipped
    // budget) re-run only the greedy pass, not the join
    graft.functions.DfMemo.cached(spark, s"pack_input:$dir") {
      val toks = TextAnalysis.queries("text_tokens")(spark, dir)
        .select($"doc_id", $"n_tokens")
      Tables.documents(spark, dir)
        .select($"doc_id", $"source")
        .join(toks, Seq("doc_id"))
        .select($"doc_id", $"source", $"n_tokens")
    }
      .as[PackDoc]
      .groupByKey(_.source)
      .flatMapSortedGroups(col("doc_id")) {
        (src: String, it: Iterator[PackDoc]) =>
          var seq = 0L
          var fill = 0L
          it.map { d =>
            if (fill > 0 && fill + d.n_tokens > budget) {
              seq += 1; fill = 0L
            }
            val off = fill
            fill += d.n_tokens
            PackedDoc(d.doc_id, src, d.n_tokens, seq, off)
          }
      }
      .toDF()
  }

  private val packGreedySql: String = packGreedySqlAt(PackBudget)

  private def packGreedySqlAt(budget: Long): String =
    s"""WITH RECURSIVE pinp AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, t.n_tokens,
       |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn
       |  FROM documents d
       |  JOIN (${TextAnalysis.oracles("text_tokens")}) t
       |    ON t.doc_id = d.doc_id),
       |pk AS (
       |  SELECT source, 0::BIGINT AS rn, 0::BIGINT AS seq_id,
       |    0::BIGINT AS fill, CAST(NULL AS BIGINT) AS doc_id,
       |    CAST(NULL AS BIGINT) AS n_tokens,
       |    CAST(NULL AS BIGINT) AS tok_offset
       |  FROM (SELECT DISTINCT source FROM pinp)
       |  UNION ALL
       |  SELECT i.source, i.rn,
       |    CASE WHEN p.fill > 0 AND p.fill + i.n_tokens > $budget
       |         THEN p.seq_id + 1 ELSE p.seq_id END,
       |    CASE WHEN p.fill > 0 AND p.fill + i.n_tokens > $budget
       |         THEN i.n_tokens ELSE p.fill + i.n_tokens END,
       |    i.doc_id, i.n_tokens,
       |    CASE WHEN p.fill > 0 AND p.fill + i.n_tokens > $budget
       |         THEN 0::BIGINT ELSE p.fill END
       |  FROM pk p JOIN pinp i ON i.source = p.source AND i.rn = p.rn + 1)
       |SELECT doc_id, source, n_tokens, seq_id, tok_offset
       |FROM pk WHERE rn > 0""".stripMargin

  /** Packing-efficiency audit (`pipeline_pack_waste`): per source, the
    * padding the no-split layout pays for its clean attention boundaries
    * — closed sequences padded to [[PackBudget]], oversized ones counted
    * at their own length (capacity = max(budget, fill)). The number a
    * pipeline weighs against `pipeline_pack`'s zero waste when choosing
    * a layout. One aggregation over the packed frame. */
  private def packWasteDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packGreedyDf(spark, dir)
      .groupBy($"source", $"seq_id")
      .agg(count(lit(1)).as("nd"), sum($"n_tokens").as("fill"))
      .groupBy($"source")
      .agg(
        sum($"nd").as("n_docs"),
        count(lit(1)).as("n_seqs"),
        sum($"fill").as("n_tokens"),
        sum(greatest(lit(PackBudget) - $"fill", lit(0L))).as("padding"),
        sum(greatest(lit(PackBudget), $"fill")).as("capacity"))
      .withColumn("fill_pct",
        round($"n_tokens" / $"capacity".cast("double"), 6))
  }

  private val packWasteSql: String =
    s"""WITH g AS ($packGreedySql),
       |s AS (SELECT source, seq_id, count(*) AS nd, sum(n_tokens) AS fill
       |      FROM g GROUP BY 1, 2)
       |SELECT source, sum(nd)::BIGINT AS n_docs, count(*) AS n_seqs,
       |  sum(fill)::BIGINT AS n_tokens,
       |  sum(greatest($PackBudget - fill, 0))::BIGINT AS padding,
       |  sum(greatest($PackBudget, fill))::BIGINT AS capacity,
       |  round(sum(fill) / sum(greatest($PackBudget, fill))::DOUBLE, 6)
       |    AS fill_pct
       |FROM s GROUP BY 1""".stripMargin

  /** Buckets for the epoch-decorrelation audit and the per-epoch
    * bucket span over hex32's 2^32 key space. */
  val EpochBuckets = 256L
  val EpochBucketSpan: Long = (1L << 32) / EpochBuckets
  val Epochs = 3

  /** Multi-epoch reshuffle audit (`pipeline_epochs`): each training
    * epoch orders the corpus by its own seeded hash
    * (`hex32("epoch<e>:" + doc_id)` — epoch 0 IS `pipeline_shuffle`'s
    * order), and this audit proves consecutive epochs are genuinely
    * decorrelated: docs are placed into [[EpochBuckets]] coarse
    * position buckets per epoch and each epoch pair reports the mean
    * absolute bucket displacement (≈ B/3 for independent uniform
    * placements) and the integer percentage of docs that stayed in the
    * same bucket (≈ 100/B). A stale or reused seed shows up as
    * displacement 0 / same-bucket 100 immediately.
    *
    * Plan: pure per-row hashing — no sort, no window, no join; three
    * one-row aggregates over a narrow projection. The bucket transform
    * stands in for the full rank on purpose: it measures the same
    * decorrelation without materializing a global permutation. */
  private def epochsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // bucket = key >> 24: exact integer arithmetic (hex32 < 2^32 and
    // the span is 2^24, so the shift IS the oracle's `// span`)
    val b = (0 until Epochs).foldLeft(
      Tables.documents(spark, dir).select($"doc_id")) { (df, e) =>
      df.withColumn(s"b$e",
        shiftright(ColFns.hex32(concat(lit(s"epoch$e:"), $"doc_id")), 24))
    }
    val pairs = for {
      ea <- 0 until Epochs; eb <- ea + 1 until Epochs
    } yield b.agg(
      count(lit(1)).as("n_docs"),
      round(avg(abs(col(s"b$ea") - col(s"b$eb"))), 6).as("mean_abs_disp"),
      sum(when(col(s"b$ea") === col(s"b$eb"), 1L).otherwise(0L)).as("same"))
      .select(lit(ea.toLong).as("epoch_a"), lit(eb.toLong).as("epoch_b"),
        $"n_docs", $"mean_abs_disp",
        expr("(same * 100) div n_docs").as("pct_same_bucket"))
    pairs.reduce(_ unionByName _)
  }

  private val epochsSql: String = {
    val cols = (0 until Epochs).map(e =>
      s"${ColFns.hex32Sql(s"('epoch$e:' || doc_id::VARCHAR)")} // $EpochBucketSpan AS b$e")
      .mkString(", ")
    val pairs = for {
      ea <- 0 until Epochs; eb <- ea + 1 until Epochs
    } yield
      s"""SELECT $ea::BIGINT AS epoch_a, $eb::BIGINT AS epoch_b,
         |  count(*) AS n_docs,
         |  round(avg(abs(b$ea - b$eb)), 6) AS mean_abs_disp,
         |  ((sum(CASE WHEN b$ea = b$eb THEN 1 ELSE 0 END) * 100) // count(*))::BIGINT
         |    AS pct_same_bucket
         |FROM k""".stripMargin
    s"""WITH k AS (SELECT doc_id, $cols FROM documents)
       |${pairs.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Length-bucketed batching audit (`pipeline_length_buckets`) — the
    * THIRD batching layout next to concat-and-chunk (`pipeline_pack`,
    * zero waste, split docs) and no-split greedy packing
    * (`pipeline_pack_greedy`, measured padding, clean boundaries):
    * every document pads to the smallest power-of-two width that holds
    * it, the layout seq2seq loaders call bucketing. Per bucket width
    * the audit reports docs, real tokens, padded capacity and the
    * integer waste percentage — the third column of the layout
    * trade-off table.
    *
    * Determinism: the bucket is the min of an 18-row broadcast
    * power-of-two table filtered to `>= n_tokens` — integer arithmetic
    * end to end, no floating log2 whose boundary rounding could differ
    * between engines. Plan: one broadcast range-join + two hash
    * aggregations; nothing but (doc_id, n_tokens) ever shuffles. */
  private def lengthBucketsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextAnalysis.queries("text_tokens")(spark, dir)
      .select($"doc_id", $"n_tokens")
    val powers = (0 until 18).map(1L << _).toDF("bucket_w")
    toks.join(broadcast(powers), $"bucket_w" >= $"n_tokens")
      .groupBy($"doc_id", $"n_tokens").agg(min($"bucket_w").as("bucket_w"))
      .groupBy($"bucket_w")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
      .withColumn("padded_tokens", $"bucket_w" * $"n_docs")
      .withColumn("waste_pct",
        expr("((padded_tokens - sum_tokens) * 100) div padded_tokens"))
  }

  private val lengthBucketsSql: String =
    s"""WITH t AS (${TextAnalysis.oracles("text_tokens")}),
       |p AS (SELECT (1::BIGINT << i) AS bucket_w FROM range(0, 18) r(i)),
       |b AS (SELECT doc_id, n_tokens, min(bucket_w) AS bucket_w
       |      FROM t JOIN p ON bucket_w >= n_tokens GROUP BY 1, 2),
       |g AS (SELECT bucket_w, count(*) AS n_docs,
       |        sum(n_tokens)::BIGINT AS sum_tokens
       |      FROM b GROUP BY 1)
       |SELECT bucket_w, n_docs, sum_tokens,
       |  bucket_w * n_docs AS padded_tokens,
       |  ((bucket_w * n_docs - sum_tokens) * 100) // (bucket_w * n_docs)
       |    AS waste_pct
       |FROM g""".stripMargin

  /** Budgets for the sequence-length dial. */
  val PackCurveBudgets: Seq[Long] = Seq(128L, 256L, 512L)

  /** The sequence-length dial (`pipeline_pack_curve`): the no-split
    * greedy layout replayed at three budgets, each summarized to one
    * corpus row (sequences, real tokens, padding, capacity, fill
    * fraction). Longer sequences amortize boundaries but pad more per
    * closed sequence; the curve prices that trade so the 256 the
    * shipped layout uses is a measured choice, not a default. The
    * shipped budget's row reconciles exactly with
    * `pipeline_pack_waste`'s per-source audit (spec-asserted). */
  private def packCurveDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    PackCurveBudgets.map { b =>
      packGreedyAt(spark, dir, b)
        .groupBy($"source", $"seq_id")
        .agg(sum($"n_tokens").as("fill"))
        .agg(count(lit(1)).as("n_seqs"),
          sum($"fill").as("n_tokens"),
          sum(greatest(lit(b) - $"fill", lit(0L))).as("padding"),
          sum(greatest(lit(b), $"fill")).as("capacity"))
        .select(lit(b).as("budget"), $"n_seqs", $"n_tokens", $"padding",
          $"capacity",
          round($"n_tokens" / $"capacity".cast("double"), 6).as("fill_pct"))
    }.reduce(_ unionByName _)
  }

  private lazy val packCurveSql: String =
    PackCurveBudgets.map { b =>
      s"""SELECT ${b}::BIGINT AS budget, count(*) AS n_seqs,
         |  sum(fill)::BIGINT AS n_tokens,
         |  sum(greatest($b - fill, 0))::BIGINT AS padding,
         |  sum(greatest($b, fill))::BIGINT AS capacity,
         |  round(sum(fill) / sum(greatest($b, fill))::DOUBLE, 6) AS fill_pct
         |FROM (
         |  SELECT source, seq_id, sum(n_tokens) AS fill
         |  FROM (${packGreedySqlAt(b)}) g GROUP BY 1, 2)""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Mixture accounting — the data card every training run publishes:
    * per (source, language) document and token counts and each cell's
    * share of the total token budget. The share window runs over the
    * ALREADY-AGGREGATED frame (|sources| x |languages| rows), so the
    * single-partition window the planner warns about holds a few dozen
    * rows regardless of corpus size — the raw-data shuffle is the one
    * hash aggregation. */
  private def mixtureDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextAnalysis.queries("text_tokens")(spark, dir)
      .select($"doc_id", $"n_tokens")
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"lang")
      .join(toks, Seq("doc_id"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .withColumn("token_share",
        round($"n_tokens" / sum($"n_tokens").over(Window.partitionBy()), 6))
  }

  private val mixtureSql: String =
    s"""WITH t AS (${TextAnalysis.oracles("text_tokens")}),
       |j AS (SELECT d.doc_id, d.source, d.lang, t.n_tokens
       |      FROM documents d JOIN t ON t.doc_id = d.doc_id),
       |g AS (SELECT source, lang, count(*) AS n_docs,
       |             sum(n_tokens)::BIGINT AS n_tokens
       |      FROM j GROUP BY 1, 2)
       |SELECT source, lang, n_docs, n_tokens,
       |  round(n_tokens::DOUBLE / sum(n_tokens) OVER (), 6) AS token_share
       |FROM g""".stripMargin

  /** Clamp of the per-source loss ratio — the bounded-update dial every
    * reweighting scheme carries so one pathological domain cannot eat
    * the budget. */
  val ReweightMaxBoost = 2.0
  /** Fixed-point basis of the integer reweighting weights. At a true
    * 100 TB corpus (t_total ~1e13 tokens) this dial must shrink so
    * `t_total * weight` stays inside a long — the apportionment shape
    * is unchanged, only the basis moves (same note as the temperature
    * sampler's scale). */
  val ReweightScale = 1000L

  /** Loss-aware mixture reweighting (`pipeline_mixture_reweight`) — the
    * DoReMi-flavored step (Xie et al. 2023, arXiv:2305.10429; CCNet's
    * per-domain perplexity buckets are the same instinct) between the
    * mixture data card and shard writing: re-apportion the corpus's
    * total token budget toward HIGH-LOSS (hard) domains, bounded. Per
    * source, the mean unigram cross-entropy comes from the EXACT
    * integer micro-nat sums ([[TextAnalysis.unigramXentInt]] — the
    * per-source re-aggregation of (n_tokens, s) stays exact where
    * re-averaging per-doc doubles would not); the multiplier is the
    * source-vs-corpus loss ratio clamped to [1/[[ReweightMaxBoost]],
    * [[ReweightMaxBoost]]]; and the new per-source token budgets are a
    * largest-remainder apportionment of the UNCHANGED total over
    * integer fixed-point weights `floor(n_tokens · mult ·
    * [[ReweightScale]])` — reweighting, not resizing, so Σ budget =
    * Σ n_tokens exactly (asserted in spec). A budget above a source's
    * own token count means fractional extra epochs for that source
    * (exactly `pipeline_upsample`'s job downstream).
    *
    * Determinism: every input to every double is an exact integer, so
    * both engines produce bit-identical quotients/products (IEEE
    * correctly-rounded ops on identical operands); floor and the
    * apportionment then run on identical values — no rounding step
    * anywhere, same rationale as the xent score itself. Scale shape:
    * ONE corpus-sized integer aggregation (shared memoized tf frame),
    * then every window runs over the |sources|-row frame. */
  private def mixtureReweightDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Window.partitionBy()
    val per = Tables.documents(spark, dir)
      .select($"doc_id", $"source")
      .join(TextAnalysis.unigramXentInt(spark, dir), Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
        sum($"s").as("s"))
    per
      .withColumn("t_total", sum($"n_tokens").over(all))
      .withColumn("s_total", sum($"s").over(all))
      .withColumn("xent",
        (-$"s").cast("double") / ($"n_tokens" * lit(1000000L)))
      .withColumn("xent_all",
        (-$"s_total").cast("double") / ($"t_total" * lit(1000000L)))
      .withColumn("mult",
        least(greatest($"xent" / $"xent_all", lit(1.0 / ReweightMaxBoost)),
          lit(ReweightMaxBoost)))
      .withColumn("weight",
        floor($"n_tokens" * $"mult" * lit(ReweightScale.toDouble))
          .cast("long"))
      .withColumn("w_total", sum($"weight").over(all))
      .withColumn("q0", expr("t_total * weight div w_total"))
      .withColumn("rem", expr("(t_total * weight) % w_total"))
      .withColumn("leftover", $"t_total" - sum($"q0").over(all))
      .withColumn("rk",
        row_number().over(Window.orderBy($"rem".desc, $"source")).cast("long"))
      .select($"source", $"n_docs", $"n_tokens", $"xent", $"mult",
        ($"q0" + when($"rk" <= $"leftover", 1L).otherwise(0L))
          .as("token_budget"))
  }

  private val mixtureReweightSql: String =
    s"""WITH xi AS (${TextAnalysis.unigramXentIntSql}),
       |per AS (SELECT d.source, count(*) AS n_docs,
       |          sum(xi.n_tokens)::BIGINT AS n_tokens,
       |          sum(xi.s)::BIGINT AS s
       |        FROM documents d JOIN xi ON xi.doc_id = d.doc_id
       |        GROUP BY 1),
       |tt AS (SELECT sum(n_tokens)::BIGINT AS t_total,
       |          sum(s)::BIGINT AS s_total FROM per),
       |m AS (SELECT source, n_docs, n_tokens, t_total,
       |        (-s)::DOUBLE / (n_tokens * 1000000) AS xent,
       |        least(greatest(
       |          ((-s)::DOUBLE / (n_tokens * 1000000))
       |            / ((-s_total)::DOUBLE / (t_total * 1000000)),
       |          ${1.0 / ReweightMaxBoost}), $ReweightMaxBoost) AS mult
       |      FROM per CROSS JOIN tt),
       |w AS (SELECT *, floor(n_tokens * mult * $ReweightScale)::BIGINT AS weight
       |      FROM m),
       |q AS (SELECT *, sum(weight) OVER () AS w_total FROM w),
       |q2 AS (SELECT *, t_total * weight // w_total AS q0,
       |         (t_total * weight) % w_total AS rem FROM q),
       |q3 AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
       |         t_total - sum(q0) OVER () AS leftover FROM q2)
       |SELECT source, n_docs, n_tokens, xent, mult,
       |  (q0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
       |    AS token_budget
       |FROM q3""".stripMargin

  /** Duplicate-cluster RESOLUTION by quality — the keep-best step a real
    * dedup pipeline runs after clustering: within each connected
    * component of the near-dup graph, keep the highest-quality member
    * (not the arbitrary minimum id), drop the rest. Quality is rounded
    * to 6 dp BEFORE ranking on both engines so summation-tree noise in
    * the blend can't flip a rank; ties resolve by doc_id. Joins hash on
    * doc_id; the rank window partitions by cluster — near-dup components
    * in web corpora are shallow, so no skew. */
  private def keepBestDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clusters = Dedup.queries("dedup_clusters")(spark, dir)
      .select($"doc_id", $"canon")
    val quality = TextAnalysis.queries("text_quality")(spark, dir)
      .select($"doc_id", round($"quality", 6).as("quality"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"canon").orderBy($"quality".desc, $"doc_id")))
      .select($"doc_id", $"canon", $"quality", ($"rk" === 1).as("keep"))
  }

  private val keepBestSql: String =
    s"""WITH c AS (${Dedup.oracles("dedup_clusters")}),
       |q AS (${TextAnalysis.oracles("text_quality")}),
       |r AS (SELECT c.doc_id, c.canon, round(q.quality, 6) AS quality,
       |  row_number() OVER (PARTITION BY c.canon
       |    ORDER BY round(q.quality, 6) DESC, c.doc_id) AS rk
       |FROM c JOIN q ON q.doc_id = c.doc_id)
       |SELECT doc_id, canon, quality, rk = 1 AS keep FROM r""".stripMargin

  /** Split percentages: hash buckets [0, 90) -> train, [90, 95) -> val,
    * the rest -> test. */
  val SplitTrainPct = 90L
  val SplitValPct = 5L

  /** The deterministic split decision for a key: md5-derived bucket in
    * [0, 100), then the percentage fences. Keyed by the CLUSTER canon
    * for the shipped split (and by doc_id for the naive baseline the
    * leakage audit prices). */
  private def splitOf(key: Column): Column = {
    val b = ColFns.hex32(key.cast("string")) % 100L
    when(b < SplitTrainPct, "train")
      .when(b < SplitTrainPct + SplitValPct, "val")
      .otherwise("test")
  }

  private def splitOfSql(key: String): String =
    s"""CASE WHEN ${ColFns.hex32Sql(s"($key)::VARCHAR")} % 100 < $SplitTrainPct THEN 'train'
       |     WHEN ${ColFns.hex32Sql(s"($key)::VARCHAR")} % 100 < ${SplitTrainPct + SplitValPct} THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** Cluster-aware train/val/test assignment (`pipeline_split`) — the
    * step between dedup and shard writing that a naive per-document
    * hash split gets WRONG: near-duplicate documents must land in the
    * SAME split, or the eval set leaks paraphrases of training rows and
    * the held-out loss lies. The split key is therefore the near-dup
    * CLUSTER canon (connected components of the MinHash-LSH pair graph,
    * reused memoized), so every member of a component moves together;
    * singleton documents are their own canon. Deterministic md5 bucket
    * -> auditable, re-runnable, and embarrassingly parallel after the
    * one doc_id-keyed join against the converged labels (the same join
    * shape as `dedup_keep_best`; cluster state is vocabulary-small next
    * to the corpus at any scale). */
  private def splitAssignDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clusters = Dedup.queries("dedup_clusters")(spark, dir)
      .select($"doc_id", $"canon")
    Tables.documents(spark, dir)
      .select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("canon", coalesce($"canon", $"doc_id"))
      .select($"doc_id", $"canon", splitOf($"canon").as("split"),
        splitOf($"doc_id").as("naive_split"))
  }

  private val splitSql: String =
    s"""WITH c AS (${Dedup.oracles("dedup_clusters")}),
       |a AS (SELECT d.doc_id, coalesce(c.canon, d.doc_id) AS canon
       |      FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id)
       |SELECT doc_id, canon,
       |  ${splitOfSql("canon")} AS split,
       |  ${splitOfSql("doc_id")} AS naive_split
       |FROM a""".stripMargin

  /** The leakage audit (`pipeline_split_leakage`): for every near-dup
    * pair, does the pair straddle two splits? Under the cluster-keyed
    * policy the answer is zero BY CONSTRUCTION (both ends share a
    * canon); under the naive doc_id-keyed policy the expected straddle
    * rate is the cross-split collision mass — this two-row frame is the
    * evidence a data auditor asks for. One broadcast-sized join of the
    * pair list against the assignment frame; pairs are the banded
    * LSH output, never all-pairs. */
  private def splitLeakageDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asg = splitAssignDf(spark, dir)
    val a = asg.select($"doc_id".as("doc_a"), $"split".as("ca"),
      $"naive_split".as("na"))
    val b = asg.select($"doc_id".as("doc_b"), $"split".as("cb"),
      $"naive_split".as("nb"))
    val joined = Dedup.queries("dedup_minhash_pairs")(spark, dir)
      .select($"doc_a", $"doc_b")
      .join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"ca" =!= $"cb", 1L).otherwise(0L)).as("leak_cluster"),
        sum(when($"na" =!= $"nb", 1L).otherwise(0L)).as("leak_naive"))
    // one execution of the pair join feeding both policy rows (the
    // union form re-ran the whole minhash-pair join per policy)
    joined.select(explode(array(
        struct(lit("cluster").as("policy"), $"n_pairs",
          $"leak_cluster".as("n_leaked")),
        struct(lit("naive").as("policy"), $"n_pairs",
          $"leak_naive".as("n_leaked")))).as("r"))
      .select($"r.policy", $"r.n_pairs", $"r.n_leaked")
  }

  private val splitLeakageSql: String =
    s"""WITH s AS ($splitSql),
       |p AS (${Dedup.oracles("dedup_minhash_pairs")}),
       |j AS (SELECT count(*) AS n_pairs,
       |  sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)::BIGINT AS leak_cluster,
       |  sum(CASE WHEN sa.naive_split <> sb.naive_split THEN 1 ELSE 0 END)::BIGINT AS leak_naive
       |FROM p JOIN s sa ON sa.doc_id = p.doc_a
       |       JOIN s sb ON sb.doc_id = p.doc_b)
       |SELECT 'cluster' AS policy, n_pairs, leak_cluster AS n_leaked FROM j
       |UNION ALL
       |SELECT 'naive' AS policy, n_pairs, leak_naive AS n_leaked FROM j""".stripMargin

  /** Epoch seed of the deterministic training-order shuffle: re-running
    * with the same seed reproduces the exact order (auditable training
    * runs); the next epoch changes the seed, not the machinery. */
  val ShuffleSeed = "epoch0"

  /** Hash-range granules for the shuffle rank: shuffle_key is uniform in
    * [0, 2^32), so `key div (2^32/G)` splits each source's rank window
    * into G bounded pieces; granule boundaries follow the ORDER key, so
    * base + within-granule rank equals the single-window rank exactly. */
  val ShuffleGranules = 256L
  private val ShuffleGranuleSpan = 4294967296L / ShuffleGranules

  /** Deterministic training-order shuffle — the step after assembly in
    * every real pipeline: documents take a pseudo-random but REPRODUCIBLE
    * order, seeded-hash-ranked WITHIN each source and round-robin
    * interleaved ACROSS sources (`global_ord = src_ord * n_sources +
    * src_idx`), so any contiguous read of the order sees the mixture's
    * source balance, not one source's run.
    *
    * Scale shape: TWO-LEVEL rank, for the same reason `pipeline_pack`
    * uses two-level prefix sums — a per-source rank window alone puts a
    * 90%-of-the-corpus source on ONE task. The rank window partitions by
    * `(source, shuffle_key div (2^32/G))` (bounded, uniform — the key IS
    * a hash); per-granule counts (a |sources|·G-row frame) take an
    * exclusive prefix sum and broadcast back; since granules partition
    * the hash-order monotonically, `base + within` equals the
    * single-window rank bit-for-bit (asserted against the direct-window
    * reference on the 90%-skew fixture in SkewSpec — the DuckDB oracle
    * keeps the simple form). The source-index frame is |sources| rows;
    * the GLOBAL order comes from the formula — no global sort anywhere. */
  private def shuffleDf(spark: SparkSession, dir: String): DataFrame =
    // memoized: the two-level rank feeds pipeline_shuffle, sample_quota,
    // and pipeline_curriculum in one session — one build, not three
    graft.functions.DfMemo.cached(spark, s"shuffle:$dir") {
      import spark.implicits._
      val srcIdx = Tables.documents(spark, dir).select($"source").distinct()
        .withColumn("src_idx",
          (row_number().over(Window.orderBy($"source")) - 1).cast("long"))
        .withColumn("n_src",
          count(lit(1)).over(Window.partitionBy()))
      val keyed = Tables.documents(spark, dir)
        .select($"doc_id", $"source")
        .withColumn("shuffle_key",
          ColFns.hex32(concat(lit(s"$ShuffleSeed:"), $"doc_id")))
        .withColumn("sg", expr(s"shuffle_key div $ShuffleGranuleSpan"))
      val wIn = Window.partitionBy($"source", $"sg")
        .orderBy($"shuffle_key", $"doc_id")
      val wBase = Window.partitionBy($"source").orderBy($"sg")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bases = keyed.groupBy($"source", $"sg")
        .agg(count(lit(1)).as("n"))
        .withColumn("base", coalesce(sum($"n").over(wBase), lit(0L)))
        .select($"source", $"sg", $"base")
      keyed
        .withColumn("rw", (row_number().over(wIn) - 1).cast("long"))
        .join(broadcast(bases), Seq("source", "sg"))
        .withColumn("src_ord", $"base" + $"rw")
        .join(broadcast(srcIdx), Seq("source"))
        .select($"doc_id", $"source", $"shuffle_key", $"src_ord",
          ($"src_ord" * $"n_src" + $"src_idx").as("global_ord"))
    }

  private val shuffleSql: String =
    s"""WITH s AS (SELECT source,
       |             row_number() OVER (ORDER BY source) - 1 AS src_idx,
       |             count(*) OVER () AS n_src
       |           FROM (SELECT DISTINCT source FROM documents)),
       |k AS (SELECT doc_id, source,
       |        ${ColFns.hex32Sql(s"('$ShuffleSeed:' || doc_id::VARCHAR)")} AS shuffle_key
       |      FROM documents),
       |o AS (SELECT doc_id, source, shuffle_key,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY shuffle_key, doc_id) - 1 AS src_ord
       |      FROM k)
       |SELECT o.doc_id, o.source, o.shuffle_key::BIGINT AS shuffle_key,
       |  o.src_ord::BIGINT AS src_ord,
       |  (o.src_ord * s.n_src + s.src_idx)::BIGINT AS global_ord
       |FROM o JOIN s USING (source)""".stripMargin

  /** Tokens per training shard — [[PackBudget]]-divisible so shards cut
    * on sequence boundaries (16 sequences per shard at the defaults). */
  val ShardTokens = 4096L

  /** Shard assignment — the final assembly step: the per-source packed
    * sequence streams concatenate (source-ascending) into one global
    * token stream, cut every [[ShardTokens]] tokens. This is the
    * documented two-level prefix-sum renumbering IN USE: each source's
    * sequence count derives from its token total (`ceil(tokens/budget)`,
    * covering budget-spanning documents), the tiny per-source frame
    * takes an exclusive prefix sum to yield each source's global base,
    * and `global_seq = base + seq_id` / `shard_id = global_seq div
    * (shard/budget)` follow by formula. Scale shape: ONE shuffle (the
    * per-(source, seq) aggregation); the prefix-sum window runs over
    * |sources| rows; no global sort. */
  private def shardDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // memoized: the per-sequence rollup (a |sequences|-row frame) feeds
    // both the per-source totals and the output join — without it the
    // whole two-level packing chain would be planned and executed twice
    // (Spark does not share subtrees across join sides the way DuckDB
    // materializes a CTE once)
    val seqs = graft.functions.DfMemo.cached(spark, s"pack_seqs:$dir")(
      packDf(spark, dir).groupBy($"source", $"seq_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens")))
    val bases = seqs.groupBy($"source")
      .agg(sum($"n_tokens").as("t"))
      .withColumn("n_seqs", expr(s"(t + ${PackBudget - 1}) div $PackBudget"))
      .withColumn("base",
        coalesce(sum($"n_seqs").over(Window.orderBy($"source")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"source", $"base")
    seqs.join(broadcast(bases), Seq("source"))
      .select($"source", $"seq_id", $"n_docs", $"n_tokens",
        ($"base" + $"seq_id").as("global_seq"),
        expr(s"(base + seq_id) div ${ShardTokens / PackBudget}")
          .as("shard_id"))
  }

  private val shardSql: String =
    s"""WITH p AS ($packSql),
       |seqs AS (SELECT source, seq_id, count(*) AS n_docs,
       |           sum(n_tokens)::BIGINT AS n_tokens
       |         FROM p GROUP BY 1, 2),
       |bases AS (SELECT source,
       |    coalesce(sum((t + ${PackBudget - 1}) // $PackBudget)
       |      OVER (ORDER BY source
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0)::BIGINT AS base
       |  FROM (SELECT source, sum(n_tokens)::BIGINT AS t FROM p GROUP BY 1))
       |SELECT s.source, s.seq_id, s.n_docs, s.n_tokens,
       |  (b.base + s.seq_id)::BIGINT AS global_seq,
       |  ((b.base + s.seq_id) // ${ShardTokens / PackBudget})::BIGINT AS shard_id
       |FROM seqs s JOIN bases b USING (source)""".stripMargin

  /** Fractional-epoch upsampling — the step that turns mixture WEIGHTS
    * into an actual resampled corpus: a source with weight 2.3 repeats
    * every document twice and a deterministic 30% of them a third time
    * (down-weighting below 1.0 drops the complement). The extra-copy
    * decision hashes (doc_id), so re-runs reproduce the identical
    * corpus and no two runs disagree about which documents got the
    * extra epoch — the reproducibility rule every training-data card
    * depends on. All arithmetic is integer (weight basis in hundredths;
    * the fractional part compares a hash residue against it), so the
    * Spark and DuckDB corpora match row-for-row. Per-row map work +
    * one bounded explode: zero shuffles. The weights here derive from
    * the source name (standing in for the curated per-domain mixture,
    * like [[RateBase]]); a deployment joins its real weight table. */
  val UpWeightSpan = 200 // weight in [0.50, 2.49] by source-name hash

  private def upsampleDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // w_basis depends only on `source` (|sources| ~ handful): derive it
    // once per DISTINCT source and broadcast-join, so the per-row path
    // pays ONE md5 (the copy decision), not two — at 100 TB this is
    // exactly the real weight-table join a deployment does anyway.
    val weights = broadcast(
      Tables.documents(spark, dir).select($"source").distinct()
        .withColumn("w_basis",
          lit(50) + ColFns.hex32(concat($"source", lit("w"))) % UpWeightSpan))
    Tables.documents(spark, dir)
      .select($"doc_id", $"source")
      .join(weights, "source")
      .withColumn("extra",
        (ColFns.hex32(concat(lit("up:"), $"doc_id")) % 100 <
          $"w_basis" % 100).cast("int"))
      .withColumn("n_copies",
        (expr("w_basis div 100") + $"extra").cast("long"))
      .withColumn("weight", $"w_basis".cast("double") / 100.0)
      .filter($"n_copies" > 0)
      .select($"doc_id", $"source", $"weight", $"n_copies",
        explode(sequence(lit(0L), $"n_copies" - 1)).as("copy_idx"))
  }

  private val upsampleSql: String = {
    val wBasis = s"(50 + ${ColFns.hex32Sql("(source || 'w')")} % $UpWeightSpan)"
    val extra = s"(CASE WHEN ${ColFns.hex32Sql("('up:' || doc_id::VARCHAR)")} % 100 < $wBasis % 100 THEN 1 ELSE 0 END)"
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    $wBasis AS w_basis,
       |    ($wBasis // 100 + $extra)::BIGINT AS n_copies
       |  FROM documents)
       |SELECT doc_id, source, w_basis::DOUBLE / 100.0 AS weight, n_copies,
       |  unnest(range(0, n_copies)) AS copy_idx
       |FROM d WHERE n_copies > 0""".stripMargin
  }

  /** The assembled corpus verdict — every selection gate the engine
    * implements, composed into ONE per-document decision row: language,
    * quality threshold, the LEARNED classifier gate (the trained NB
    * model's probability — the CCNet-shaped refinement of the
    * heuristic threshold), exact-dedup keeper, benchmark holdout,
    * shingle contamination, near-dup cluster survivorship, the MEDIA
    * gates (phash near-dup survivorship and benchmark-image
    * contamination — so an image-duplicate document cannot pass on its
    * text alone), and the Gopher repetition flag. This is the end-to-end proof that the gates
    * compose (each input is itself a hash-checked query), and the
    * audit artifact a real pipeline ships: WHY a document was dropped,
    * not just that it vanished.
    *
    * Plan shape: the gate frames are zero-shuffle map work or single
    * hash aggregations, and every join hashes on doc_id — one shuffle
    * key end-to-end, no operator sees more than (id, verdict) pairs
    * after its own aggregation. Memoized: the funnel query aggregates
    * this exact frame. */
  private def corpusDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"pipeline_corpus:$dir") {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
        .select($"doc_id", $"source", $"lang")
      val quality = TextAnalysis.queries("text_quality")(spark, dir)
        .select($"doc_id", $"quality")
      // repetition joins LEFT: a token-less document (empty/whitespace
      // text — routine in a web corpus) has no gram stream and no
      // repetition row, but it MUST still get a verdict row — silently
      // vanishing from the audit table is the one failure an audit
      // artifact cannot have. Its repetition evidence is vacuously
      // false; its null quality gates to false.
      val rep = TextAnalysis.queries("text_repetition")(spark, dir)
        .select($"doc_id", $"repetitive")
      val keepers = keepersDf(spark, dir)
        .select($"doc_id", lit(true).as("is_keeper"))
      val contam = contaminationDf(spark, dir)
        .select($"doc_id", lit(true).as("is_contam"))
      val nd = keepBestDf(spark, dir).select($"doc_id", $"keep".as("nd_keep"))
      // media gates: the document's image must survive phash near-dup
      // dedup AND screen clean against the held-out benchmark images —
      // the two media verdicts join doc_id-keyed like every text gate,
      // so an image-duplicate doc cannot pass on its text alone. The
      // contamination frame omits the media-bench docs themselves
      // (they ARE the eval set); absent rows coalesce to not-contam.
      val mk = Phash.queries("media_keep")(spark, dir)
      val mc = Phash.queries("media_contamination")(spark, dir)
        .select($"media_id".as("doc_id"),
          ($"verdict" =!= "clean").as("mc_contam"))
      // the LEARNED classifier gate — the CCNet-shaped refinement of the
      // heuristic quality threshold: the trained NB model's probability
      // must also clear 0.5, so a doc that games the surface heuristics
      // but reads unlike the positive class still drops. Same doc_id-
      // keyed join; a doc with no bigrams scores exactly 0.5 and fails.
      val cls = TextAnalysis.queries("text_classifier_score")(spark, dir)
        .select($"doc_id", ($"prob" > 0.5).as("cls_ok"))
      docs
        .join(quality, Seq("doc_id"))
        .join(rep, Seq("doc_id"), "left")
        .join(keepers, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .join(nd, Seq("doc_id"), "left")
        .join(mk, Seq("doc_id"), "left")
        .join(mc, Seq("doc_id"), "left")
        .join(cls, Seq("doc_id"), "left")
        .select($"doc_id", $"source",
          ($"lang" === "en").as("lang_ok"),
          coalesce($"quality" >= 0.5, lit(false)).as("quality_ok"),
          coalesce($"cls_ok", lit(false)).as("classifier_ok"),
          coalesce($"is_keeper", lit(false)).as("exact_keeper"),
          ($"doc_id" % BenchMod === 0).as("is_bench"),
          // the media eval set is its own holdout: a doc whose IMAGE is
          // a benchmark image must not train, exactly like the text
          // holdout — without this gate the eval images themselves ship
          // in the kept corpus (their contamination rows are absent by
          // construction: they ARE the reference set)
          ($"doc_id" % Phash.BenchMod === 0).as("media_bench"),
          coalesce($"is_contam", lit(false)).as("contaminated"),
          coalesce($"nd_keep", lit(true)).as("neardup_keep"),
          coalesce($"media_keep", lit(true)).as("media_keep"),
          coalesce($"mc_contam", lit(false)).as("media_contam"),
          coalesce($"repetitive", lit(false)).as("repetitive"))
        .withColumn("keep",
          $"lang_ok" && $"quality_ok" && $"classifier_ok" &&
            $"exact_keeper" && !$"is_bench" && !$"media_bench" &&
            !$"contaminated" && $"neardup_keep" && $"media_keep" &&
            !$"media_contam" && !$"repetitive")
    }

  private val corpusSql: String =
    s"""WITH q AS (${TextAnalysis.oracles("text_quality")}),
       |rep AS (${TextAnalysis.oracles("text_repetition")}),
       |k AS ($keepersSqlFrag),
       |ct AS ($contaminationSql),
       |nd AS ($keepBestSql),
       |mk AS (${Phash.oracles("media_keep")}),
       |mc AS (${Phash.oracles("media_contamination")}),
       |cls AS (${TextAnalysis.oracles("text_classifier_score")}),
       |v AS (SELECT d.doc_id, d.source,
       |    (d.lang = 'en') AS lang_ok,
       |    coalesce(q.quality >= 0.5, false) AS quality_ok,
       |    coalesce(cls.prob > 0.5, false) AS classifier_ok,
       |    (k.doc_id IS NOT NULL) AS exact_keeper,
       |    (d.doc_id % $BenchMod = 0) AS is_bench,
       |    (d.doc_id % ${Phash.BenchMod} = 0) AS media_bench,
       |    (ct.doc_id IS NOT NULL) AS contaminated,
       |    coalesce(nd.keep, true) AS neardup_keep,
       |    coalesce(mk.media_keep, true) AS media_keep,
       |    coalesce(mc.verdict <> 'clean', false) AS media_contam,
       |    coalesce(rep.repetitive, false) AS repetitive
       |  FROM documents d
       |  JOIN q ON q.doc_id = d.doc_id
       |  LEFT JOIN rep ON rep.doc_id = d.doc_id
       |  LEFT JOIN k ON k.doc_id = d.doc_id
       |  LEFT JOIN ct ON ct.doc_id = d.doc_id
       |  LEFT JOIN nd ON nd.doc_id = d.doc_id
       |  LEFT JOIN mk ON mk.doc_id = d.doc_id
       |  LEFT JOIN mc ON mc.media_id = d.doc_id
       |  LEFT JOIN cls ON cls.doc_id = d.doc_id)
       |SELECT doc_id, source, lang_ok, quality_ok, classifier_ok,
       |  exact_keeper, is_bench, media_bench,
       |  contaminated, neardup_keep, media_keep, media_contam, repetitive,
       |  (lang_ok AND quality_ok AND classifier_ok
       |   AND exact_keeper AND NOT is_bench AND NOT media_bench
       |   AND NOT contaminated AND neardup_keep AND media_keep
       |   AND NOT media_contam AND NOT repetitive) AS keep
       |FROM v""".stripMargin

  /** The funnel data card: sequential attrition through the corpus
    * gates, in the order a pipeline applies them — one row, computed
    * over the memoized verdict frame (a single aggregation; each count
    * is the docs surviving every gate UP TO that column, so adjacent
    * differences read as "docs lost to this gate"). */
  private def funnelDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = corpusDf(spark, dir)
    def surv(cs: Seq[org.apache.spark.sql.Column]) =
      sum(when(cs.reduce(_ && _), 1L).otherwise(0L))
    // each rung prepends its gate to the running conjunction; written
    // as an incremental fold so rung order IS the gate order
    val order = Seq(
      "n_lang" -> $"lang_ok",
      "n_quality" -> $"quality_ok",
      "n_classifier" -> $"classifier_ok",
      "n_exact" -> $"exact_keeper",
      "n_bench" -> !$"is_bench",
      "n_media_bench" -> !$"media_bench",
      "n_contam" -> !$"contaminated",
      "n_neardup" -> $"neardup_keep",
      "n_media_dup" -> $"media_keep",
      "n_media_contam" -> !$"media_contam",
      "n_keep" -> !$"repetitive")
    val gates = order.inits.toSeq.reverse.tail
      .map(pre => pre.last._1 -> pre.map(_._2))
    v.agg(count(lit(1)).as("n_total"),
      gates.map { case (nm, cs) => surv(cs).as(nm) }: _*)
  }

  private val funnelSql: String =
    s"""WITH v AS ($corpusSql)
       |SELECT count(*) AS n_total,
       |  sum(CASE WHEN lang_ok THEN 1 ELSE 0 END)::BIGINT AS n_lang,
       |  sum(CASE WHEN lang_ok AND quality_ok THEN 1 ELSE 0 END)::BIGINT
       |    AS n_quality,
       |  sum(CASE WHEN lang_ok AND quality_ok AND classifier_ok
       |      THEN 1 ELSE 0 END)::BIGINT AS n_classifier,
       |  sum(CASE WHEN lang_ok AND quality_ok AND classifier_ok
       |      AND exact_keeper
       |      THEN 1 ELSE 0 END)::BIGINT AS n_exact,
       |  sum(CASE WHEN lang_ok AND quality_ok AND classifier_ok
       |      AND exact_keeper
       |      AND NOT is_bench THEN 1 ELSE 0 END)::BIGINT AS n_bench,
       |  sum(CASE WHEN lang_ok AND quality_ok AND classifier_ok
       |      AND exact_keeper
       |      AND NOT is_bench AND NOT media_bench
       |      THEN 1 ELSE 0 END)::BIGINT AS n_media_bench,
       |  sum(CASE WHEN lang_ok AND quality_ok AND classifier_ok
       |      AND exact_keeper
       |      AND NOT is_bench AND NOT media_bench AND NOT contaminated
       |      THEN 1 ELSE 0 END)::BIGINT AS n_contam,
       |  sum(CASE WHEN lang_ok AND quality_ok AND classifier_ok
       |      AND exact_keeper
       |      AND NOT is_bench AND NOT media_bench AND NOT contaminated
       |      AND neardup_keep
       |      THEN 1 ELSE 0 END)::BIGINT AS n_neardup,
       |  sum(CASE WHEN lang_ok AND quality_ok AND classifier_ok
       |      AND exact_keeper
       |      AND NOT is_bench AND NOT media_bench AND NOT contaminated
       |      AND neardup_keep
       |      AND media_keep THEN 1 ELSE 0 END)::BIGINT AS n_media_dup,
       |  sum(CASE WHEN lang_ok AND quality_ok AND classifier_ok
       |      AND exact_keeper
       |      AND NOT is_bench AND NOT media_bench AND NOT contaminated
       |      AND neardup_keep
       |      AND media_keep AND NOT media_contam
       |      THEN 1 ELSE 0 END)::BIGINT AS n_media_contam,
       |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep
       |FROM v""".stripMargin

  /** Delta-batch admission — the INCREMENTAL twin of the corpus
    * verdict: for each delta doc (the same "new crawl batch" split as
    * the incremental screens), one row composing everything an
    * admission decision reads: the language/quality/classifier gates,
    * BOTH benchmark holdouts (text and media eval membership), BOTH
    * contamination screens (benchmark shingles, benchmark images), and
    * BOTH modality dedup screens against the standing corpus
    * (`dedup_incremental` text verdict, `media_incremental` image
    * verdict) — so the incremental path cannot admit a document the
    * batch corpus verdict would reject at any gate. `admit` applies
    * the conservative policy — every gate passes and both dedup
    * screens say `novel`; the verdict columns let an operator choose a
    * looser one. Every input is an existing hash-checked query; every
    * join hashes on doc_id — the standing corpus is touched only
    * through the banded screens, never rescanned. */
  private def deltaAdmitDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val delta = Tables.documents(spark, dir)
      .filter($"doc_id" % Dedup.IncrementalDeltaMod === 0)
      .select($"doc_id", $"source", $"lang")
    val q = TextAnalysis.queries("text_quality")(spark, dir)
      .select($"doc_id", $"quality")
    val cls = TextAnalysis.queries("text_classifier_score")(spark, dir)
      .select($"doc_id", $"prob")
    val ct = contaminationDf(spark, dir)
      .select($"doc_id", lit(true).as("is_contam"))
    val mc = Phash.queries("media_contamination")(spark, dir)
      .select($"media_id".as("doc_id"),
        ($"verdict" =!= "clean").as("mc_contam"))
    val inc = Dedup.queries("dedup_incremental")(spark, dir)
      .select($"doc_id", $"verdict".as("text_verdict"))
    val minc = Phash.queries("media_incremental")(spark, dir)
      .select($"media_id".as("doc_id"), $"verdict".as("media_verdict"))
    delta
      .join(q, Seq("doc_id"), "left")
      .join(cls, Seq("doc_id"), "left")
      .join(ct, Seq("doc_id"), "left")
      .join(mc, Seq("doc_id"), "left")
      .join(inc, Seq("doc_id"), "left")
      .join(minc, Seq("doc_id"), "left")
      .select($"doc_id", $"source",
        ($"lang" === "en").as("lang_ok"),
        coalesce($"quality" >= 0.5, lit(false)).as("quality_ok"),
        coalesce($"prob" > 0.5, lit(false)).as("classifier_ok"),
        ($"doc_id" % BenchMod === 0).as("is_bench"),
        ($"doc_id" % Phash.BenchMod === 0).as("media_bench"),
        coalesce($"is_contam", lit(false)).as("contaminated"),
        coalesce($"mc_contam", lit(false)).as("media_contam"),
        coalesce($"text_verdict", lit("novel")).as("text_verdict"),
        coalesce($"media_verdict", lit("novel")).as("media_verdict"))
      .withColumn("admit",
        $"lang_ok" && $"quality_ok" && $"classifier_ok" &&
          !$"is_bench" && !$"media_bench" &&
          !$"contaminated" && !$"media_contam" &&
          $"text_verdict" === "novel" && $"media_verdict" === "novel")
  }

  private lazy val deltaAdmitSql: String =
    s"""WITH q AS (${TextAnalysis.oracles("text_quality")}),
       |cls AS (${TextAnalysis.oracles("text_classifier_score")}),
       |ct AS ($contaminationSql),
       |mc AS (${Phash.oracles("media_contamination")}),
       |ti AS (${Dedup.oracles("dedup_incremental")}),
       |mi AS (${Phash.oracles("media_incremental")}),
       |v AS (SELECT d.doc_id, d.source,
       |    (d.lang = 'en') AS lang_ok,
       |    coalesce(q.quality >= 0.5, false) AS quality_ok,
       |    coalesce(cls.prob > 0.5, false) AS classifier_ok,
       |    (d.doc_id % $BenchMod = 0) AS is_bench,
       |    (d.doc_id % ${Phash.BenchMod} = 0) AS media_bench,
       |    (ct.doc_id IS NOT NULL) AS contaminated,
       |    coalesce(mc.verdict <> 'clean', false) AS media_contam,
       |    coalesce(ti.verdict, 'novel') AS text_verdict,
       |    coalesce(mi.verdict, 'novel') AS media_verdict
       |  FROM documents d
       |  LEFT JOIN q ON q.doc_id = d.doc_id
       |  LEFT JOIN cls ON cls.doc_id = d.doc_id
       |  LEFT JOIN ct ON ct.doc_id = d.doc_id
       |  LEFT JOIN mc ON mc.media_id = d.doc_id
       |  LEFT JOIN ti ON ti.doc_id = d.doc_id
       |  LEFT JOIN mi ON mi.media_id = d.doc_id
       |  WHERE d.doc_id % ${Dedup.IncrementalDeltaMod} = 0)
       |SELECT doc_id, source, lang_ok, quality_ok, classifier_ok,
       |  is_bench, media_bench, contaminated, media_contam,
       |  text_verdict, media_verdict,
       |  (lang_ok AND quality_ok AND classifier_ok
       |   AND NOT is_bench AND NOT media_bench
       |   AND NOT contaminated AND NOT media_contam
       |   AND text_verdict = 'novel' AND media_verdict = 'novel') AS admit
       |FROM v""".stripMargin

  /** Shard manifest — the integrity artifact a training job validates
    * before reading a shard: per shard, the document count, the token
    * total, and an order-independent checksum (the exact integer sum of
    * the member documents' rolling-hash fingerprints). A reader recomputes
    * the same three numbers after download and refuses the shard on
    * mismatch. Attribution rule: a document belongs to the shard its
    * STARTING sequence lands in (the packing contract — a doc spanning a
    * shard cut is owned by where it begins).
    *
    * Plan: the packed doc frame is memoized (the raw builder stays
    * un-memoized so SkewSpec can assert its exchange shape); the
    * |sequences|-sized shard map broadcasts; fingerprints join on
    * doc_id; ONE aggregation keyed by shard_id with map-side combine. */
  private def packedMemo(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"pack_docs:$dir")(
      packDf(spark, dir))

  private def manifestDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = shardDf(spark, dir).select($"source", $"seq_id", $"shard_id")
    val fp = TextAnalysis.queries("text_fingerprint")(spark, dir)
    packedMemo(spark, dir)
      .join(broadcast(sh), Seq("source", "seq_id"))
      .join(fp, Seq("doc_id"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        sum($"fingerprint").as("fp_checksum"))
  }

  private val manifestSql: String =
    s"""WITH m AS ($packSql),
       |sh AS ($shardSql),
       |f AS (${TextAnalysis.oracles("text_fingerprint")})
       |SELECT sh.shard_id, count(*) AS n_docs,
       |  sum(m.n_tokens)::BIGINT AS n_tokens,
       |  sum(f.fingerprint)::BIGINT AS fp_checksum
       |FROM m JOIN sh ON sh.source = m.source AND sh.seq_id = m.seq_id
       |       JOIN f ON f.doc_id = m.doc_id
       |GROUP BY 1""".stripMargin

  /** Curriculum assignment — the ordering step after selection: the
    * KEPT corpus splits into four quality phases (easy-to-hard
    * curricula train on high-quality text last or first; the phase
    * column is the knob) and readers order by `(phase, shuffle_key)`
    * for a reproducible within-phase shuffle.
    *
    * Scale shape: the quartile thresholds are ONE exact-percentile
    * aggregation over the kept frame (a 1-row broadcast — never an
    * ntile/rank window over the corpus, which would be a global sort);
    * the phase label is then a per-row CASE. Quality quantizes to 6 dp
    * BEFORE both the percentile and the comparison, so the phase
    * boundary cannot flip between engines. */
  private def curriculumDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kept = corpusDf(spark, dir).filter($"keep").select($"doc_id")
    val q = TextAnalysis.queries("text_quality")(spark, dir)
      .select($"doc_id", round($"quality", 6).as("quality"))
    val kq = kept.join(q, Seq("doc_id"))
    val th = kq.agg(
      round(expr("percentile(quality, 0.25D)"), 6).as("p25"),
      round(expr("percentile(quality, 0.5D)"), 6).as("p50"),
      round(expr("percentile(quality, 0.75D)"), 6).as("p75"))
    kq.crossJoin(broadcast(th))
      .select($"doc_id", $"quality",
        when($"quality" < $"p25", 0)
          .when($"quality" < $"p50", 1)
          .when($"quality" < $"p75", 2)
          .otherwise(3).as("phase"),
        ColFns.hex32(concat(lit(s"$ShuffleSeed:"), $"doc_id"))
          .as("shuffle_key"))
  }

  private val curriculumSql: String =
    s"""WITH v AS ($corpusSql),
       |q AS (${TextAnalysis.oracles("text_quality")}),
       |kq AS (SELECT q.doc_id, round(q.quality, 6) AS quality
       |       FROM q JOIN v ON v.doc_id = q.doc_id WHERE v.keep),
       |th AS (SELECT round(quantile_cont(quality, 0.25), 6) AS p25,
       |              round(quantile_cont(quality, 0.5), 6) AS p50,
       |              round(quantile_cont(quality, 0.75), 6) AS p75
       |       FROM kq)
       |SELECT doc_id, quality,
       |  CASE WHEN quality < p25 THEN 0 WHEN quality < p50 THEN 1
       |       WHEN quality < p75 THEN 2 ELSE 3 END AS phase,
       |  ${ColFns.hex32Sql(s"('$ShuffleSeed:' || doc_id::VARCHAR)")} AS shuffle_key
       |FROM kq CROSS JOIN th""".stripMargin

  /** Documents kept per source by the quota sample. */
  val QuotaPerSource = 20L

  /** Exact-size quota sampling — the complement of the RATE-based
    * stratified sample: exactly min(quota, |source|) documents per
    * source, chosen by seeded-hash order. Rate sampling gives each doc
    * an independent keep probability (size varies binomially); quota
    * sampling pins the size exactly — what an eval-set builder or a
    * fixed-budget annotation pass needs, reproducibly. Built directly
    * on the two-level shuffle rank ([[shuffleDf]]): `src_ord` IS the
    * seeded-hash rank within source, so the quota cut is a filter —
    * inheriting the skew-proof rank plan for free. */
  private def quotaDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    shuffleDf(spark, dir)
      .filter($"src_ord" < QuotaPerSource)
      .select($"doc_id", $"source", $"src_ord".as("sample_rank"))
  }

  private val quotaSql: String =
    s"""WITH sh AS ($shuffleSql)
       |SELECT doc_id, source, src_ord AS sample_rank
       |FROM sh WHERE src_ord < $QuotaPerSource""".stripMargin

  /** Temperature-mixture budget: total picks = corpus size div this. */
  val TempSampleDiv = 5L
  /** Fixed-point basis of the integer temperature weights. */
  val TempWeightScale = 1000000L

  /** Temperature-scaled source mixing (tau = 1/2) — the sampler that
    * builds a pretraining MIXTURE rather than a per-source quota or a
    * proportional sample: each source's share of the total budget is
    * proportional to n_docs^tau, the standard temperature trick that
    * up-weights small/rare sources relative to raw proportional
    * sampling without flattening all the way to uniform (tau -> 0 is
    * uniform-over-sources, tau = 1 is proportional). tau = 1/2 because
    * sqrt is the one power both engines compute EXACTLY (IEEE sqrt is
    * correctly rounded; an arbitrary pow is not, and one ULP would flip
    * a floor): `weight = floor(sqrt(n_docs * [[TempWeightScale]]))` is
    * bit-identical integer arithmetic on Spark and DuckDB.
    *
    * Budget split: largest-remainder apportionment of `t_total =
    * max(n_total div [[TempSampleDiv]], 1)` picks over the integer
    * weights (base `t*w div W`, leftovers to the largest remainders,
    * source-name tie-break), each quota capped at the source's doc
    * count — exact-size output (no double ratios) whenever every
    * source can fill its share, i.e. the output is Σ min(quota,
    * n_docs); an over-apportioned tiny source delivers everything it
    * has and the shortfall is visibly NOT redistributed (a real
    * mixture run re-weights rather than stuffing small sources). Doc
    * selection reuses [[shuffleDf]]'s seeded two-level rank: `src_ord <
    * quota` IS a uniform without-replacement draw within each source,
    * inheriting the skew-proof rank plan. Scale shape: the mixture
    * table is a |sources|-row frame (its windows run over broadcast
    * size, documented like `srcIdx`); the pick is a broadcast-join
    * filter over the memoized rank — no new corpus-wide shuffle. */
  private def temperatureDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Window.partitionBy()
    val quotas = shuffleDf(spark, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        floor(sqrt($"n_docs".cast("double") * TempWeightScale.toDouble))
          .cast("long"))
      .withColumn("n_total", sum($"n_docs").over(all))
      .withColumn("w_total", sum($"weight").over(all))
      .withColumn("t_total", expr(s"greatest(n_total div $TempSampleDiv, 1)"))
      .withColumn("q0", expr("t_total * weight div w_total"))
      .withColumn("rem", expr("(t_total * weight) % w_total"))
      .withColumn("leftover", $"t_total" - sum($"q0").over(all))
      .withColumn("rk",
        row_number().over(Window.orderBy($"rem".desc, $"source")).cast("long"))
      // capacity cap: a tiny source cannot deliver more docs than it
      // has — apportionment never exceeds availability (the un-met
      // remainder is NOT redistributed: redistribution is iterative and
      // a real mixture run re-weights, it doesn't stuff small sources)
      .withColumn("quota", least($"n_docs",
        $"q0" + when($"rk" <= $"leftover", 1L).otherwise(0L)))
      .select($"source", $"n_docs", $"weight", $"quota")
    shuffleDf(spark, dir)
      .join(broadcast(quotas), Seq("source"))
      .filter($"src_ord" < $"quota")
      .select($"doc_id", $"source", $"src_ord".as("sample_rank"),
        $"n_docs", $"weight", $"quota")
  }

  private val temperatureSql: String =
    s"""WITH sh AS ($shuffleSql),
       |m AS (SELECT source, count(*) AS n_docs,
       |        floor(sqrt(count(*) * $TempWeightScale.0))::BIGINT AS weight
       |      FROM documents GROUP BY 1),
       |tot AS (SELECT sum(n_docs)::BIGINT AS n_total,
       |          sum(weight)::BIGINT AS w_total FROM m),
       |q AS (SELECT source, n_docs, weight, w_total,
       |        greatest(n_total // $TempSampleDiv, 1) AS t_total,
       |        greatest(n_total // $TempSampleDiv, 1) * weight // w_total AS q0,
       |        (greatest(n_total // $TempSampleDiv, 1) * weight) % w_total AS rem
       |      FROM m CROSS JOIN tot),
       |qq AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
       |         t_total - sum(q0) OVER () AS leftover FROM q),
       |quotas AS (SELECT source, n_docs, weight,
       |    least(n_docs,
       |      q0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT AS quota
       |  FROM qq)
       |SELECT sh.doc_id, sh.source, sh.src_ord::BIGINT AS sample_rank,
       |  q.n_docs::BIGINT AS n_docs, q.weight, q.quota
       |FROM sh JOIN quotas q ON sh.source = q.source
       |WHERE sh.src_ord < q.quota""".stripMargin

  /** Pointers per source for the PPS sample. */
  val PpsPerSource = 16L

  /** Seed of the PPS sampling order — independent of [[ShuffleSeed]] so
    * the sample is not a prefix of the training order. */
  val PpsSeed = "pps0"

  /** Systematic probability-proportional-to-size sampling — the
    * token-weighted complement of the two document-count samplers: each
    * source contributes [[PpsPerSource]] picks with per-doc inclusion
    * probability proportional to its TOKEN count (what a token-budget
    * audit or loss-spot-check wants: sampling docs uniformly would
    * under-represent the long documents that dominate the budget).
    * Classic systematic PPS: lay every doc's token mass end-to-end in
    * seeded-hash order, drop k equally-spaced pointers (stride = total
    * div k, offset = stride div 2), and a doc is picked once per pointer
    * landing in its span — a doc longer than the stride is picked more
    * than once (`n_hits` keeps the multiplicity; that IS
    * with-replacement PPS semantics).
    *
    * Everything is integer arithmetic (`div`, never doubles), so the
    * oracle matches bit-for-bit at any cumulative scale — same rationale
    * as `pipeline_pack`'s seq_id. Scale shape: the token prefix sum runs
    * two-level over bounded `(source, key-range granule)` windows
    * exactly like [[shuffleDf]]'s rank (asserted equal to the direct
    * window on the 90%-skew fixture in SkewSpec); per-source totals are
    * a |sources|-row broadcast; no global sort. */
  private def ppsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextAnalysis.queries("text_tokens")(spark, dir)
      .select($"doc_id", $"n_tokens")
    // memoized: the keyed frame feeds the granule-base aggregation AND
    // the main pointer chain — un-checkpointed, each consumer re-ran
    // the documents+tokens join and the hash keying
    val keyed = graft.functions.DfMemo.cached(spark, s"pps_keyed:$dir")(
      Tables.documents(spark, dir)
        .select($"doc_id", $"source")
        .join(toks, Seq("doc_id"))
        .withColumn("pps_key",
          ColFns.hex32(concat(lit(s"$PpsSeed:"), $"doc_id")))
        .withColumn("sg", expr(s"pps_key div $ShuffleGranuleSpan")))
    val wIn = Window.partitionBy($"source", $"sg")
      .orderBy($"pps_key", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBase = Window.partitionBy($"source").orderBy($"sg")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = keyed.groupBy($"source", $"sg")
      .agg(sum($"n_tokens").as("bt"))
      .withColumn("bkt_base", coalesce(sum($"bt").over(wBase), lit(0L)))
    val totals = bases.groupBy($"source")
      .agg(sum($"bt").as("w_total"))
      // degenerate tiny source (fewer tokens than pointers): floor the
      // stride at 1 so the arithmetic stays defined; every token then
      // holds at most one pointer
      .withColumn("pps_s",
        expr(s"greatest(w_total div $PpsPerSource, 1)"))
    keyed
      .withColumn("cum_in", coalesce(sum($"n_tokens").over(wIn), lit(0L)))
      .join(broadcast(bases.select($"source", $"sg", $"bkt_base")),
        Seq("source", "sg"))
      .withColumn("cum_before", $"bkt_base" + $"cum_in")
      .join(broadcast(totals), Seq("source"))
      // f(x) = pointers strictly below token position x, clamped to [0, k]
      .withColumn("f0", expr(s"least($PpsPerSource, greatest(0, " +
        "(cum_before - pps_s div 2 + pps_s - 1) div pps_s))"))
      .withColumn("f1", expr(s"least($PpsPerSource, greatest(0, " +
        "(cum_before + n_tokens - pps_s div 2 + pps_s - 1) div pps_s))"))
      .withColumn("n_hits", ($"f1" - $"f0").cast("long"))
      .filter($"n_hits" > 0)
      .select($"doc_id", $"source", $"n_tokens",
        $"f0".cast("long").as("first_pick"), $"n_hits")
  }

  private val ppsSql: String =
    s"""WITH t AS (${TextAnalysis.oracles("text_tokens")}),
       |j AS (SELECT d.doc_id, d.source, t.n_tokens,
       |        ${ColFns.hex32Sql(s"('$PpsSeed:' || d.doc_id::VARCHAR)")} AS pps_key
       |      FROM documents d JOIN t ON t.doc_id = d.doc_id),
       |c AS (SELECT doc_id, source, n_tokens,
       |        coalesce(sum(n_tokens) OVER (PARTITION BY source
       |          ORDER BY pps_key, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |          AS cum_before,
       |        sum(n_tokens) OVER (PARTITION BY source)::BIGINT AS w_total
       |      FROM j),
       |p AS (SELECT *, greatest(w_total // $PpsPerSource, 1) AS pps_s FROM c),
       |h AS (SELECT doc_id, source, n_tokens,
       |  least($PpsPerSource, greatest(0,
       |    (cum_before - pps_s // 2 + pps_s - 1) // pps_s)) AS f0,
       |  least($PpsPerSource, greatest(0,
       |    (cum_before + n_tokens - pps_s // 2 + pps_s - 1) // pps_s)) AS f1
       |FROM p)
       |SELECT doc_id, source, n_tokens, f0::BIGINT AS first_pick,
       |  (f1 - f0)::BIGINT AS n_hits
       |FROM h WHERE f1 - f0 > 0""".stripMargin

  /** Per-source data card — the funnel broken out by provenance: how
    * many documents each source contributed and how many it lost to
    * each gate. This is the table a curation review reads to decide
    * which source to fix or drop. One aggregation over the memoized
    * verdict frame; output is |sources| rows. */
  private def sourceCardDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def n(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    corpusDf(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        n(!$"exact_keeper").as("n_exact_dups"),
        n(!$"neardup_keep").as("n_neardup_dups"),
        n($"contaminated").as("n_contaminated"),
        n(!$"media_keep").as("n_media_dups"),
        n($"media_contam").as("n_media_contaminated"),
        n($"repetitive").as("n_repetitive"),
        n(!$"quality_ok").as("n_low_quality"),
        n(!$"classifier_ok").as("n_low_classifier"),
        n($"keep").as("n_keep"))
  }

  private val sourceCardSql: String =
    s"""WITH v AS ($corpusSql)
       |SELECT source, count(*) AS n_docs,
       |  sum(CASE WHEN NOT exact_keeper THEN 1 ELSE 0 END)::BIGINT AS n_exact_dups,
       |  sum(CASE WHEN NOT neardup_keep THEN 1 ELSE 0 END)::BIGINT AS n_neardup_dups,
       |  sum(CASE WHEN contaminated THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
       |  sum(CASE WHEN NOT media_keep THEN 1 ELSE 0 END)::BIGINT AS n_media_dups,
       |  sum(CASE WHEN media_contam THEN 1 ELSE 0 END)::BIGINT AS n_media_contaminated,
       |  sum(CASE WHEN repetitive THEN 1 ELSE 0 END)::BIGINT AS n_repetitive,
       |  sum(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END)::BIGINT AS n_low_quality,
       |  sum(CASE WHEN NOT classifier_ok THEN 1 ELSE 0 END)::BIGINT AS n_low_classifier,
       |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep
       |FROM v GROUP BY 1""".stripMargin

  /** Fixed-window chunking with overlap — the long-document splitter
    * every context-bounded training run needs (docs longer than the
    * sequence budget become overlapping windows; the overlap keeps
    * boundary n-grams learnable). Chunk starts are `k·Stride` for
    * `k = 0 .. ceil(max(0, n - W) / Stride)`, so every token is covered
    * and the last window may be short. Each chunk emits its md5 so the
    * contract proves every chunk's exact content, not just its bounds.
    * Scale shape: per-row sequence + explode — zero shuffle, and the
    * fan-out is bounded by n/Stride per document. */
  val ChunkTokens = 32
  val ChunkStride = 24

  private def chunkDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (w, s) = (ChunkTokens, ChunkStride)
    TextAnalysis.tokenized(spark, dir)
      .withColumn("n", size($"toks"))
      // `div` (not `/` + cast): truncation ≡ floor here since both
      // engines clamp the negative n<=W case to 0 via greatest
      .withColumn("k", explode(sequence(lit(0),
        expr(s"greatest(0, (n - $w + $s - 1) div $s)"))))
      .withColumn("chunk", slice($"toks", $"k" * s + 1, lit(w)))
      .select(
        $"doc_id",
        $"k".cast("long").as("chunk_id"),
        ($"k" * s).cast("long").as("start_tok"),
        size($"chunk").as("n_chunk_tokens"),
        md5(concat_ws(" ", $"chunk")).as("chunk_md5"))
  }

  private val chunkSql: String = {
    val (w, s) = (ChunkTokens, ChunkStride)
    s"""WITH t AS (SELECT doc_id, ${TextAnalysis.tokensSql} AS toks,
       |             len(${TextAnalysis.tokensSql}) AS n
       |           FROM documents),
       |k AS (SELECT doc_id, toks, n,
       |        unnest(range(0, 1 + greatest(0, (n - $w + $s - 1) // $s))) AS k
       |      FROM t),
       |c AS (SELECT doc_id, k, list_slice(toks, k * $s + 1,
       |        least(k * $s + $w, n)) AS chunk
       |      FROM k)
       |SELECT doc_id, k AS chunk_id, (k * $s)::BIGINT AS start_tok,
       |  len(chunk)::INT AS n_chunk_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM c""".stripMargin
  }

  /** Release-diff residue dials: doc_id % [[ReleaseMod]] picks which
    * docs are removed / added / revised between corpus releases. */
  val ReleaseMod = 17L

  /** Corpus release diff (`pipeline_release_diff`) — the governance
    * step between two published corpus versions: which documents were
    * added, removed, or revised, and how much text mass moved, per
    * source. Release v1 drops the docs "added later" (doc_id %
    * [[ReleaseMod]] = 3), v2 drops the "removed" residue (= 0) and
    * revises the = 6 residue (an appended edit marker) — both derived
    * deterministically so the oracle replays them. The diff itself is
    * a full-outer join of the two releases' (doc_id, checksum, length)
    * MANIFEST projections — at 100 TB this is `pipeline_manifest`'s
    * metadata, so diffing releases costs manifest-sized work, never a
    * corpus re-read — classified added/removed/changed/unchanged by
    * null-side and checksum, then one aggregation to the per-(source,
    * status) data-card row with the signed character-mass delta. */
  private def releaseDiffDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text")
    val v1 = docs.filter($"doc_id" % ReleaseMod =!= 3L)
    val v2 = docs.filter($"doc_id" % ReleaseMod =!= 0L)
      .withColumn("text",
        when($"doc_id" % ReleaseMod === 6L, concat($"text", lit(" [rev2]")))
          .otherwise($"text"))
    def manifest(v: DataFrame, tag: String): DataFrame =
      v.select($"doc_id", $"source".as(s"source_$tag"),
        md5($"text").as(s"cks_$tag"),
        length($"text").cast("long").as(s"len_$tag"))
    manifest(v1, "a").join(manifest(v2, "b"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when($"cks_b".isNull, "removed")
          .when($"cks_a".isNull, "added")
          .when($"cks_a" =!= $"cks_b", "changed")
          .otherwise("unchanged"))
      .groupBy(coalesce($"source_a", $"source_b").as("source"), $"status")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"len_b", lit(0L)) - coalesce($"len_a", lit(0L)))
          .as("char_delta"))
  }

  private val releaseDiffSql: String =
    s"""WITH v1 AS (SELECT doc_id, source, text FROM documents
       |            WHERE doc_id % $ReleaseMod != 3),
       |v2 AS (SELECT doc_id, source,
       |         CASE WHEN doc_id % $ReleaseMod = 6 THEN text || ' [rev2]'
       |              ELSE text END AS text
       |       FROM documents WHERE doc_id % $ReleaseMod != 0),
       |m1 AS (SELECT doc_id, source, md5(text) AS cks,
       |         length(text)::BIGINT AS len FROM v1),
       |m2 AS (SELECT doc_id, source, md5(text) AS cks,
       |         length(text)::BIGINT AS len FROM v2),
       |d AS (SELECT coalesce(m1.source, m2.source) AS source,
       |        CASE WHEN m2.cks IS NULL THEN 'removed'
       |             WHEN m1.cks IS NULL THEN 'added'
       |             WHEN m1.cks != m2.cks THEN 'changed'
       |             ELSE 'unchanged' END AS status,
       |        coalesce(m2.len, 0) - coalesce(m1.len, 0) AS delta
       |      FROM m1 FULL OUTER JOIN m2 USING (doc_id))
       |SELECT source, status, count(*) AS n_docs,
       |  sum(delta)::BIGINT AS char_delta
       |FROM d GROUP BY 1, 2""".stripMargin

  /** Mixture drift between releases (`pipeline_mixture_kl`): the
    * source-composition divergence of the same two corpus releases
    * `pipeline_release_diff` compares document-by-document — the data-card
    * number that says "release v2 is this much more web-heavy" without
    * reading a single document twice. Per-source character mass is an
    * exact integer aggregate (one scan per release); the per-source
    * KL(P||Q) and Jensen-Shannon terms are emitted UNSUMMED so the
    * consumer totals them in any order and each row localizes which
    * source moved. Divergence terms round to 6 places (O(1) magnitudes;
    * ln is the one libm call engines may disagree on in the last ulp).
    * At 100 TB the whole query is source-cardinality-sized after two
    * map-side-combined aggregates. */
  private def mixtureKlDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text")
    val a = docs.filter($"doc_id" % ReleaseMod =!= 3L)
      .groupBy($"source")
      .agg(sum(length($"text").cast("long")).as("chars_a"))
    val b = docs.filter($"doc_id" % ReleaseMod =!= 0L)
      .withColumn("text",
        when($"doc_id" % ReleaseMod === 6L, concat($"text", lit(" [rev2]")))
          .otherwise($"text"))
      .groupBy($"source")
      .agg(sum(length($"text").cast("long")).as("chars_b"))
    // memoized: the |sources|-row release-pair frame is consumed by
    // the broadcast total AND the main projection — un-checkpointed,
    // each re-ran both full document scans
    val j = graft.functions.DfMemo.cached(spark, s"mixkl_j:$dir")(
      a.join(b, Seq("source"))) // residues drop docs, never a source
    val tot = j.agg(sum($"chars_a").as("ta"), sum($"chars_b").as("tb"))
    j.crossJoin(broadcast(tot))
      .withColumn("p", $"chars_a".cast("double") / $"ta")
      .withColumn("q", $"chars_b".cast("double") / $"tb")
      .withColumn("m", ($"p" + $"q") / 2.0)
      .select($"source", $"chars_a", $"chars_b",
        round($"p" * log($"p" / $"q"), 6).as("kl_term"),
        round(lit(0.5) * $"p" * log($"p" / $"m") +
          lit(0.5) * $"q" * log($"q" / $"m"), 6).as("js_term"))
  }

  private val mixtureKlSql: String =
    s"""WITH a AS (
       |  SELECT source, sum(length(text)::BIGINT)::BIGINT AS chars_a
       |  FROM documents WHERE doc_id % $ReleaseMod != 3 GROUP BY 1),
       |b AS (
       |  SELECT source,
       |    sum(length(CASE WHEN doc_id % $ReleaseMod = 6
       |                    THEN text || ' [rev2]' ELSE text END)::BIGINT)::BIGINT
       |      AS chars_b
       |  FROM documents WHERE doc_id % $ReleaseMod != 0 GROUP BY 1),
       |j AS (SELECT a.source, chars_a, chars_b FROM a JOIN b USING (source)),
       |t AS (SELECT sum(chars_a)::BIGINT AS ta, sum(chars_b)::BIGINT AS tb
       |      FROM j)
       |SELECT source, chars_a, chars_b,
       |  round(p * ln(p / q), 6) AS kl_term,
       |  round(0.5 * p * ln(p / m) + 0.5 * q * ln(q / m), 6) AS js_term
       |FROM (SELECT source, chars_a, chars_b,
       |        chars_a::DOUBLE / ta AS p, chars_b::DOUBLE / tb AS q,
       |        (chars_a::DOUBLE / ta + chars_b::DOUBLE / tb) / 2.0 AS m
       |      FROM j, t) s""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_stratified" -> (sampleDf(_, _)),
    "pipeline_chunk" -> (chunkDf(_, _)),
    "pipeline_mixture_kl" -> (mixtureKlDf(_, _)),
    "pipeline_release_diff" -> (releaseDiffDf(_, _)),
    "sample_quota" -> (quotaDf(_, _)),
    "sample_temperature" -> (temperatureDf(_, _)),
    "sample_pps" -> (ppsDf(_, _)),
    "pipeline_source_card" -> (sourceCardDf(_, _)),
    "docs_quality_gate" -> (qualityGateDf(_, _)),
    "docs_length_stats" -> (lengthStatsDf(_, _)),
    "bench_contamination" -> (contaminationDf(_, _)),
    "bench_contamination_bloom" -> (contaminationBloomDf(_, _)),
    "docs_length_hist" -> (histQuantilesDf(_, _)),
    "pipeline_pack" -> (packDf(_, _)),
    "bench_contamination_curve" -> (contamCurveDf(_, _)),
    "pipeline_pack_greedy" -> (packGreedyDf(_, _)),
    "pipeline_pack_waste" -> (packWasteDf(_, _)),
    "pipeline_length_buckets" -> (lengthBucketsDf(_, _)),
    "pipeline_epochs" -> (epochsDf(_, _)),
    "pipeline_pack_curve" -> (packCurveDf(_, _)),
    "docs_quality_curve" -> (qualityCurveDf(_, _)),
    "pipeline_mixture" -> (mixtureDf(_, _)),
    "pipeline_shuffle" -> (shuffleDf(_, _)),
    "pipeline_shard" -> (shardDf(_, _)),
    "pipeline_upsample" -> (upsampleDf(_, _)),
    "pipeline_corpus" -> (corpusDf(_, _)),
    "pipeline_delta_admit" -> (deltaAdmitDf(_, _)),
    "pipeline_split" -> (splitAssignDf(_, _)),
    "pipeline_mixture_reweight" -> (mixtureReweightDf(_, _)),
    "pipeline_split_leakage" -> (splitLeakageDf(_, _)),
    "pipeline_manifest" -> (manifestDf(_, _)),
    "pipeline_curriculum" -> (curriculumDf(_, _)),
    "pipeline_funnel" -> (funnelDf(_, _)),
    "dedup_keep_best" -> (keepBestDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "sample_stratified" -> sampleSql,
    "pipeline_chunk" -> chunkSql,
    "pipeline_release_diff" -> releaseDiffSql,
    "pipeline_mixture_kl" -> mixtureKlSql,
    "sample_quota" -> quotaSql,
    "sample_temperature" -> temperatureSql,
    "sample_pps" -> ppsSql,
    "pipeline_source_card" -> sourceCardSql,
    "docs_quality_gate" -> qualityGateSql,
    "docs_length_stats" -> lengthStatsSql,
    "bench_contamination" -> contaminationSql,
    "bench_contamination_bloom" -> contaminationBloomSql,
    "docs_length_hist" -> histQuantilesSql,
    "pipeline_pack" -> packSql,
    "bench_contamination_curve" -> contamCurveSql,
    "pipeline_pack_greedy" -> packGreedySql,
    "pipeline_pack_waste" -> packWasteSql,
    "pipeline_length_buckets" -> lengthBucketsSql,
    "pipeline_epochs" -> epochsSql,
    "pipeline_pack_curve" -> packCurveSql,
    "docs_quality_curve" -> qualityCurveSql,
    "pipeline_mixture" -> mixtureSql,
    "pipeline_shuffle" -> shuffleSql,
    "pipeline_shard" -> shardSql,
    "pipeline_upsample" -> upsampleSql,
    "pipeline_corpus" -> corpusSql,
    "pipeline_delta_admit" -> deltaAdmitSql,
    "pipeline_split" -> splitSql,
    "pipeline_mixture_reweight" -> mixtureReweightSql,
    "pipeline_split_leakage" -> splitLeakageSql,
    "pipeline_manifest" -> manifestSql,
    "pipeline_curriculum" -> curriculumSql,
    "pipeline_funnel" -> funnelSql,
    "dedup_keep_best" -> keepBestSql
  )
}
