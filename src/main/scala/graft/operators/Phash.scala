package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{ColFns, DfMemo}
import graft.sources.Tables
import graft.OpModule

/** Perceptual-hash near-duplicate detection over MEDIA payloads — the
  * multimodal twin of the text dedup family (reference: dedup utilities
  * in utils/dedup.py; the media analog is the standard dHash from the
  * image-retrieval literature). A training-data pipeline at 100 TB
  * dedups images the same way it dedups text: a compact per-item
  * signature, a banded equi-join for candidates, an exact distance
  * check — never all-pairs, and never moving pixels between executors.
  *
  * Signature: 56-bit difference hash (dHash). The decoded image is
  * sampled on a ([[Gx]]+1)x[[Gy]] grid of integer-luma values
  * (nearest-neighbor, the same `x*w div n` mapping as `media_resize`);
  * bit k is 1 iff the right neighbor of grid cell k is strictly
  * brighter. 56 bits keeps the packed hash inside a positive BIGINT on
  * both engines (bit 63 would wrap DuckDB's signed shift).
  *
  * Fixture: the testdata has no image table, so every document
  * synthesizes TWO real PPM payloads (same essence formulas as the
  * `media_*` family, phash-salted dims): variant 0 is the original,
  * variant 1 is a posterized re-encode (every channel `v -> (v div 32)
  * * 32` — the quantization/contrast edit image dedup exists to
  * catch). The tone map is monotone per channel with 32-wide plateaus,
  * so the luma ORDER of grid cells mostly survives but plateau ties
  * flip a few bits (measured at sf0.01: mean twin Hamming 1.9, 51%
  * exact, 96% within [[HamMax]]): exactly the near-duplicate geometry
  * (identical bytes hash apart, perceptually-identical images hash
  * close, SOME edits land outside any threshold) that defeats
  * exact-hash dedup. Spark DECODES the real containers and hashes decoded pixels;
  * the DuckDB oracle reconstructs both variants' hashes from the
  * generating formulas — a decoder that mis-slices a scanline or a
  * tone map applied at the wrong stage mismatches.
  *
  * Pairs: band the 56-bit hash into [[Bands]] bytes; candidates share
  * any (band, byte) — pigeonhole gives PERFECT recall at Hamming <=
  * [[HamMax]] (7 bands can disagree in at most 6 bits without sharing
  * one). A broadcast-anti hot-band guard ([[HotBandCap]], the
  * HotShingleCap dial) keeps a degenerate corpus (millions of
  * identical images -> one saturated band key) from quadratic
  * candidate blowup, at the documented cost of dropping pairs whose
  * every shared band is hot; PhashSpec proves the guard fires. Output
  * is the per-Hamming-distance pair census with twin (same-document)
  * counts — the recall surface an operator reads to pick a threshold.
  */
object Phash extends OpModule {

  /** Hash grid: ([[Gx]]+1) luma columns x [[Gy]] rows -> Gx*Gy bits. */
  val Gx = 8
  val Gy = 7
  val Bits: Int = Gx * Gy // 56
  val Bands = 7
  /** Pigeonhole-exact recall bound for [[Bands]] 8-bit bands. */
  val HamMax: Int = Bands - 1
  /** Per-(band, byte) occupancy cap — the degenerate-corpus guard. */
  val HotBandCap = 128
  /** Integer ITU-R 601 luma weights (no division — comparisons only). */
  val Wr = 299; val Wg = 587; val Wb = 114

  private val ByteStep = Multimodal.ByteStep

  // ---- fixture synthesis (two real PPMs per document) ----

  /** Tone-mapped essence byte of variant `v`: the original formula byte
    * for v=0, posterized `(e div 32) * 32` for v=1 (monotone with
    * plateaus, so most luma comparisons survive and plateau ties flip a
    * few — the flipped hash bits ARE the near-dup distance). */
  def essenceByte(seed: Long, i: Long, variant: Int): Int = {
    val e = ((seed + i * ByteStep) % 256).toInt
    if (variant == 0) e else (e / 32) * 32
  }

  /** Synthesize the PPM payload of one variant of one document. */
  def synthesize(text: String, variant: Int): Array[Byte] = {
    val seed = Multimodal.hex32Jvm(text)
    val w = (Multimodal.hex32Jvm(text + "dw") % 24 + 8).toInt
    val h = (Multimodal.hex32Jvm(text + "dh") % 18 + 6).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"P6\n$w $h\n255\n".getBytes("US-ASCII"))
    var i = 0L
    while (i < w * h * 3) { out.write(essenceByte(seed, i, variant)); i += 1 }
    out.toByteArray
  }

  // ---- the hash (over DECODED pixels) ----

  /** Integer luma at hash-grid column `gx` (0..[[Gx]]), row `gy`
    * (0..[[Gy]]-1) of a decoded RGB image: nearest-neighbor source
    * mapping, no rounding anywhere. */
  private def gridLuma(rgb: Array[Byte], w: Long, h: Long,
      gx: Int, gy: Int): Long = {
    val sx = gx.toLong * w / (Gx + 1)
    val sy = gy.toLong * h / Gy
    val base = ((sy * w + sx) * 3).toInt
    Wr.toLong * (rgb(base) & 0xff) + Wg.toLong * (rgb(base + 1) & 0xff) +
      Wb.toLong * (rgb(base + 2) & 0xff)
  }

  /** dHash of a decoded image + the positionally-weighted luma checksum
    * of the full grid (the decode-integrity witness: the hash alone
    * only constrains comparisons, the checksum pins every sampled
    * value). */
  def dhash(rgb: Array[Byte], w: Long, h: Long): (Long, Long) = {
    var hash = 0L
    var gridSum = 0L
    var gy = 0
    while (gy < Gy) {
      var gx = 0
      var prev = gridLuma(rgb, w, h, 0, gy)
      gridSum += (gy.toLong * (Gx + 1) + 1) * prev
      while (gx < Gx) {
        val cur = gridLuma(rgb, w, h, gx + 1, gy)
        gridSum += (gy.toLong * (Gx + 1) + gx + 2) * cur
        if (cur > prev) hash |= 1L << (gy * Gx + gx)
        prev = cur
        gx += 1
      }
      gy += 1
    }
    (hash, gridSum)
  }

  /** (media_id, variant, phash, grid_sum) — one partition-local
    * synthesize+decode+hash per payload; only the 4-long row leaves the
    * partition. Memoized: the pair join consumes it twice. */
  private def phashDf(spark: SparkSession, dir: String): DataFrame =
    DfMemo.cached(spark, s"media_phash:$dir") {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"doc_id", $"text")
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          (0 to 1).iterator.map { variant =>
            val d = Multimodal.decode(synthesize(text, variant))
            val (hash, gridSum) = dhash(d.data, d.width, d.height)
            (id, variant.toLong, hash, gridSum)
          }
        })
        .toDF("media_id", "variant", "phash", "grid_sum")
    }

  /** Banded near-dup census: Hamming histogram of all pairs within
    * [[HamMax]], with the same-document (planted twin) count per
    * distance — the curve that says "threshold 6 recovers the edits
    * without cross-image noise". */
  private def pairsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The guarded band frame feeds BOTH self-join sides; un-memoized,
    // each side re-ran the explode + hot-bucket census + anti join.
    val ok = DfMemo.cached(spark, s"media_phash_okbands:$dir") {
      val bands = phashDf(spark, dir)
        .select($"media_id", $"variant", $"phash",
          explode(sequence(lit(0), lit(Bands - 1))).as("band"))
        .withColumn("band_key",
          expr("(phash div shiftleft(cast(1 as bigint), int(band * 8))) % 256"))
      val hot = bands.groupBy($"band", $"band_key")
        .agg(count(lit(1)).as("occ"))
        .filter($"occ" > HotBandCap)
        .select($"band", $"band_key")
      bands.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
    }
    ok.as("x")
      .join(ok.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          (col("x.media_id") < col("y.media_id") ||
            (col("x.media_id") === col("y.media_id") &&
              col("x.variant") < col("y.variant"))))
      .select(col("x.media_id").as("doc_a"), col("x.variant").as("var_a"),
        col("y.media_id").as("doc_b"), col("y.variant").as("var_b"),
        expr("cast(bit_count(x.phash ^ y.phash) as bigint)").as("hamming"))
      // filter BEFORE distinct (hamming is a function of the pair): the
      // dedup shuffle carries only in-threshold pairs, not band noise
      .filter($"hamming" <= HamMax)
      .distinct()
      .groupBy($"hamming")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"doc_a" === $"doc_b", 1L).otherwise(0L)).as("n_twin"))
  }

  /** Every 17th doc's original image plays the held-out benchmark set. */
  val BenchMod = 17L
  /** Contamination match bound — tighter than the dedup census because
    * an eval image only counts as leaked when it is the SAME picture
    * (possibly re-encoded), not merely similar. Within the [[HamMax]]
    * pigeonhole bound, so banding has perfect recall here too. */
  val ContamHamMax = 2L

  /** Benchmark-image decontamination — the multimodal twin of
    * `bench_contamination`: every corpus image is screened against the
    * held-out benchmark set by perceptual hash, so a re-encoded
    * (posterized, tone-mapped) copy of an eval image is caught even
    * though its bytes and exact hash differ. Verdicts: `exact` (same
    * dHash), `near` (Hamming <= [[ContamHamMax]]), `clean`; plus the
    * match count and best distance an audit reads. Scale shape: same
    * banded candidate join as [[pairsDf]] restricted to corpus x
    * benchmark (the benchmark side is eval-set sized — in a deployment
    * it broadcasts as a pre-built band index), never all-pairs. */
  /** The 7 byte-band rows of each variant-0 signature — the candidate
    * key every phash screen joins on. */
  private def bandsOf(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"media_id", $"phash",
        explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .withColumn("band_key",
        expr("(phash div shiftleft(cast(1 as bigint), int(band * 8))) % 256"))
  }

  private def contaminationDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sig = phashDf(spark, dir).filter($"variant" === 0)
    val isBench = col("media_id") % BenchMod === 0
    val hits = bandsOf(sig.filter(!isBench)).as("x")
      .join(bandsOf(sig.filter(isBench)).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      .select(col("x.media_id").as("media_id"),
        col("y.media_id").as("bench_id"),
        expr("cast(bit_count(x.phash ^ y.phash) as bigint)").as("hamming"))
      .filter($"hamming" <= ContamHamMax)
      .distinct()
      .groupBy($"media_id")
      .agg(min($"hamming").as("best_hamming"),
        countDistinct($"bench_id").as("n_matches"))
    sig.filter(!isBench).select($"media_id")
      .join(hits, Seq("media_id"), "left")
      .select($"media_id",
        when($"best_hamming" === 0, "exact")
          .when($"best_hamming".isNotNull, "near")
          .otherwise("clean").as("verdict"),
        coalesce($"best_hamming", lit(-1L)).as("best_hamming"),
        coalesce($"n_matches", lit(0L)).as("n_matches"))
  }

  private lazy val contaminationSql: String =
    s"""WITH sig0 AS ($phashSql),
       |sig AS (SELECT media_id, phash FROM sig0 WHERE variant = 0),
       |bands AS (
       |  SELECT media_id, phash, band,
       |    (phash // (1::BIGINT << (band * 8))) % 256 AS band_key
       |  FROM sig, range(0, $Bands) t(band)),
       |hits AS (
       |  SELECT DISTINCT x.media_id, y.media_id AS bench_id,
       |    bit_count(xor(x.phash, y.phash))::BIGINT AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_key = y.band_key
       |  WHERE x.media_id % $BenchMod <> 0 AND y.media_id % $BenchMod = 0
       |    AND bit_count(xor(x.phash, y.phash)) <= $ContamHamMax),
       |agg AS (SELECT media_id, min(hamming) AS best_hamming,
       |          count(DISTINCT bench_id) AS n_matches
       |        FROM hits GROUP BY 1)
       |SELECT s.media_id,
       |  CASE WHEN a.best_hamming = 0 THEN 'exact'
       |       WHEN a.best_hamming IS NOT NULL THEN 'near'
       |       ELSE 'clean' END AS verdict,
       |  coalesce(a.best_hamming, -1)::BIGINT AS best_hamming,
       |  coalesce(a.n_matches, 0)::BIGINT AS n_matches
       |FROM sig s LEFT JOIN agg a USING (media_id)
       |WHERE s.media_id % $BenchMod <> 0""".stripMargin

  /** Incremental (batch-vs-corpus) IMAGE dedup — the media twin of
    * `dedup_incremental` (and the batch form of the streaming
    * [[graft.streaming.Streams.phashMonitor]]): the delta docs' images
    * (every [[Dedup.IncrementalDeltaMod]]-th doc, the same "new crawl
    * batch" split as the text twin) are screened against the standing
    * corpus without base x base work. Verdicts: `exact_dup` (some base
    * image has the identical dHash), `near_dup` (within [[HamMax]] of a
    * base image), `novel` — with the distinct-base match counts an
    * audit reads. Scale shape: delta and base meet ONLY on (band,
    * band_key) — the base band frame is the persisted index a
    * deployment maintains; pigeonhole recall makes the screen exact
    * within the Hamming bound, and pixels never shuffle (the memoized
    * signature frame is shared with every other phash query). */
  private def mediaIncrementalDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val isDelta = col("media_id") % Dedup.IncrementalDeltaMod === 0
    val sig = phashDf(spark, dir).filter($"variant" === 0)
    // same degenerate-corpus guard as the census: a band key saturated
    // past HotBandCap is dropped from BOTH sides before the join, so a
    // near-constant image corpus cannot make the screen quadratic (the
    // affected delta docs read 'novel' — the documented recall trade)
    val bands = bandsOf(sig)
    val hot = bands.groupBy($"band", $"band_key")
      .agg(count(lit(1)).as("occ"))
      .filter($"occ" > HotBandCap)
      .select($"band", $"band_key")
    val ok = bands.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
    val hits = ok.filter(isDelta).as("x")
      .join(ok.filter(!isDelta).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      .select(col("x.media_id").as("media_id"),
        col("y.media_id").as("base_id"),
        expr("cast(bit_count(x.phash ^ y.phash) as bigint)").as("hamming"))
      .filter($"hamming" <= HamMax)
      .distinct()
      .groupBy($"media_id")
      .agg(countDistinct(when($"hamming" === 0, $"base_id")).as("n_exact"),
        countDistinct($"base_id").as("n_near"))
    sig.filter(isDelta).select($"media_id")
      .join(hits, Seq("media_id"), "left")
      .select($"media_id",
        when(coalesce($"n_exact", lit(0L)) > 0, "exact_dup")
          .when(coalesce($"n_near", lit(0L)) > 0, "near_dup")
          .otherwise("novel").as("verdict"),
        coalesce($"n_exact", lit(0L)).as("n_exact"),
        coalesce($"n_near", lit(0L)).as("n_near"))
  }

  private lazy val mediaIncrementalSql: String =
    s"""WITH sig0 AS ($phashSql),
       |sig AS (SELECT media_id, phash FROM sig0 WHERE variant = 0),
       |bands AS (
       |  SELECT media_id, phash, band,
       |    (phash // (1::BIGINT << (band * 8))) % 256 AS band_key
       |  FROM sig, range(0, $Bands) t(band)),
       |occ AS (SELECT band, band_key, count(*) AS occ
       |        FROM bands GROUP BY 1, 2),
       |ok AS (SELECT b.* FROM bands b JOIN occ USING (band, band_key)
       |       WHERE occ <= $HotBandCap),
       |hits AS (
       |  SELECT DISTINCT x.media_id, y.media_id AS base_id,
       |    bit_count(xor(x.phash, y.phash))::BIGINT AS hamming
       |  FROM ok x JOIN ok y
       |    ON x.band = y.band AND x.band_key = y.band_key
       |  WHERE x.media_id % ${Dedup.IncrementalDeltaMod} = 0
       |    AND y.media_id % ${Dedup.IncrementalDeltaMod} <> 0
       |    AND bit_count(xor(x.phash, y.phash)) <= $HamMax),
       |agg AS (
       |  SELECT media_id,
       |    count(DISTINCT CASE WHEN hamming = 0 THEN base_id END) AS n_exact,
       |    count(DISTINCT base_id) AS n_near
       |  FROM hits GROUP BY 1)
       |SELECT s.media_id,
       |  CASE WHEN coalesce(a.n_exact, 0) > 0 THEN 'exact_dup'
       |       WHEN coalesce(a.n_near, 0) > 0 THEN 'near_dup'
       |       ELSE 'novel' END AS verdict,
       |  coalesce(a.n_exact, 0)::BIGINT AS n_exact,
       |  coalesce(a.n_near, 0)::BIGINT AS n_near
       |FROM sig s LEFT JOIN agg a USING (media_id)
       |WHERE s.media_id % ${Dedup.IncrementalDeltaMod} = 0""".stripMargin

  /** Per-document media near-dup survivorship — the corpus-gate view of
    * the phash census: a document keeps its image slot iff NO smaller
    * media_id hashes within [[HamMax]] of its variant-0 (corpus) hash.
    * Same banded candidate join + [[HotBandCap]] guard as [[pairsDf]]
    * (pigeonhole recall, never all-pairs); min-id is the deterministic
    * keeper rule, the media twin of the exact-dedup keeper. Output is
    * one (doc_id, media_keep) row per document — the frame
    * `pipeline_corpus` joins so an image-duplicate document fails the
    * corpus verdict instead of slipping past the text gates. */
  private def mediaKeepDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sig = phashDf(spark, dir).filter($"variant" === 0)
    val bands = bandsOf(sig)
    val hot = bands.groupBy($"band", $"band_key")
      .agg(count(lit(1)).as("occ"))
      .filter($"occ" > HotBandCap)
      .select($"band", $"band_key")
    val ok = bands.join(broadcast(hot), Seq("band", "band_key"), "left_anti")
    val dropped = ok.as("x")
      .join(ok.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("y.media_id") < col("x.media_id"))
      .filter(expr("cast(bit_count(x.phash ^ y.phash) as bigint)") <= HamMax)
      .select(col("x.media_id").as("doc_id")).distinct()
      .withColumn("dup", lit(true))
    sig.select($"media_id".as("doc_id"))
      .join(dropped, Seq("doc_id"), "left")
      .select($"doc_id", coalesce(!$"dup", lit(true)).as("media_keep"))
  }

  private lazy val mediaKeepSql: String =
    s"""WITH sig0 AS ($phashSql),
       |sig AS (SELECT media_id, phash FROM sig0 WHERE variant = 0),
       |bands AS (
       |  SELECT media_id, phash, band,
       |    (phash // (1::BIGINT << (band * 8))) % 256 AS band_key
       |  FROM sig, range(0, $Bands) t(band)),
       |occ AS (SELECT band, band_key, count(*) AS occ
       |        FROM bands GROUP BY 1, 2),
       |ok AS (SELECT b.* FROM bands b JOIN occ USING (band, band_key)
       |       WHERE occ <= $HotBandCap),
       |dropped AS (
       |  SELECT DISTINCT x.media_id
       |  FROM ok x JOIN ok y
       |    ON x.band = y.band AND x.band_key = y.band_key
       |   AND y.media_id < x.media_id
       |  WHERE bit_count(xor(x.phash, y.phash)) <= $HamMax)
       |SELECT s.media_id AS doc_id, (d.media_id IS NULL) AS media_keep
       |FROM sig s LEFT JOIN dropped d USING (media_id)""".stripMargin

  // ---- oracles (hashes reconstructed from the generating formulas) ----

  /** Channel byte of variant `variant` at hash-bit row `k // Gx`, grid
    * column `gxExpr`, channel `c` — SQL mirror of [[essenceByte]] +
    * the nearest-neighbor grid mapping. */
  private def chanSql(gxExpr: String, c: Int): String = {
    val raw = s"((seed + ((((k // $Gx) * h // $Gy) * w + ($gxExpr) * w // ${Gx + 1})" +
      s" * 3 + $c) * $ByteStep) % 256)"
    s"(CASE WHEN variant = 1 THEN ($raw // 32) * 32 ELSE $raw END)"
  }

  private def lumaSql(gxExpr: String): String =
    s"($Wr * ${chanSql(gxExpr, 0)} + $Wg * ${chanSql(gxExpr, 1)} + " +
      s"$Wb * ${chanSql(gxExpr, 2)})"

  /** Same shape for the grid checksum: gi ranges over all (Gx+1)*Gy
    * grid points; gx = gi % (Gx+1), row = gi // (Gx+1). */
  private def chanGiSql(c: Int): String = {
    val raw = s"((seed + ((((gi // ${Gx + 1}) * h // $Gy) * w + " +
      s"(gi % ${Gx + 1}) * w // ${Gx + 1}) * 3 + $c) * $ByteStep) % 256)"
    s"(CASE WHEN variant = 1 THEN ($raw // 32) * 32 ELSE $raw END)"
  }

  private val dimsSql: String =
    s"""SELECT doc_id AS media_id, ${ColFns.hex32Sql("text")} AS seed,
       |  ${ColFns.hex32Sql("(text || 'dw')")} % 24 + 8 AS w,
       |  ${ColFns.hex32Sql("(text || 'dh')")} % 18 + 6 AS h
       |FROM documents""".stripMargin

  private val phashSql: String =
    s"""WITH p AS ($dimsSql),
       |v AS (SELECT media_id, seed, w, h, variant
       |      FROM p, (SELECT unnest([0, 1]) AS variant)),
       |bits AS (
       |  SELECT media_id, variant, k,
       |    CASE WHEN ${lumaSql(s"k % $Gx + 1")} > ${lumaSql(s"k % $Gx")}
       |         THEN 1::BIGINT ELSE 0::BIGINT END AS bit
       |  FROM v, range(0, $Bits) t(k)),
       |hash AS (
       |  SELECT media_id, variant,
       |    sum(bit * (1::BIGINT << k))::BIGINT AS phash
       |  FROM bits GROUP BY 1, 2),
       |grid AS (
       |  SELECT media_id, variant,
       |    sum((gi + 1) * ($Wr * ${chanGiSql(0)} + $Wg * ${chanGiSql(1)} +
       |                    $Wb * ${chanGiSql(2)}))::BIGINT AS grid_sum
       |  FROM v, range(0, ${(Gx + 1) * Gy}) t(gi) GROUP BY 1, 2)
       |SELECT media_id, variant::BIGINT AS variant, phash, grid_sum
       |FROM hash JOIN grid USING (media_id, variant)""".stripMargin

  private val pairsSql: String =
    s"""WITH sig AS ($phashSql),
       |bands AS (
       |  SELECT media_id, variant, phash, band,
       |    (phash // (1::BIGINT << (band * 8))) % 256 AS band_key
       |  FROM sig, range(0, $Bands) t(band)),
       |occ AS (SELECT band, band_key, count(*) AS occ
       |        FROM bands GROUP BY 1, 2),
       |ok AS (SELECT b.* FROM bands b JOIN occ USING (band, band_key)
       |       WHERE occ <= $HotBandCap),
       |pairs AS (
       |  SELECT DISTINCT x.media_id AS doc_a, x.variant AS var_a,
       |    y.media_id AS doc_b, y.variant AS var_b,
       |    bit_count(xor(x.phash, y.phash))::BIGINT AS hamming
       |  FROM ok x JOIN ok y
       |    ON x.band = y.band AND x.band_key = y.band_key
       |   AND (x.media_id < y.media_id OR
       |        (x.media_id = y.media_id AND x.variant < y.variant))
       |  WHERE bit_count(xor(x.phash, y.phash)) <= $HamMax)
       |SELECT hamming, count(*)::BIGINT AS n_pairs,
       |  sum(CASE WHEN doc_a = doc_b THEN 1 ELSE 0 END)::BIGINT AS n_twin
       |FROM pairs GROUP BY hamming""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_phash" -> (phashDf(_, _)),
    "media_phash_pairs" -> (pairsDf(_, _)),
    "media_contamination" -> (contaminationDf(_, _)),
    "media_keep" -> (mediaKeepDf(_, _)),
    "media_incremental" -> (mediaIncrementalDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "media_phash" -> phashSql,
    "media_phash_pairs" -> pairsSql,
    "media_contamination" -> contaminationSql,
    "media_keep" -> mediaKeepSql,
    "media_incremental" -> mediaIncrementalSql
  )
}
