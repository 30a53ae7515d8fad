package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.RollingZ
import graft.sources.Tables

/** Order-flow analytics re-expressing the reference's trade-stream operators
  * (SURVEY.md §2.5) over the `events` table (`value` = qty, `event_type`
  * polarity = `isBuyerMaker`, see FIXTURES.md §B):
  *
  *  - taker delta   (strategy.py:1000-1021)  — conditional sums per bucket
  *  - rolling z     (strategy.py:1022-1044)  — 3000-sample population stats
  *  - normalized CVD (aether_oracle.py:123-153)
  *  - liquidity velocity, multi-TF (aether_oracle.py:77-121)
  *  - volume-rate ratio (data_manager.py:1005-1035)
  *
  * The reference recomputes each signal by scanning its whole deque per tick
  * (O(window) per tick); here each is ONE declarative pass — a hash
  * aggregation plus (for z) the linear prefix-sum kernel [[RollingZ]] over
  * exact integer cents — so Catalyst gets map-side partial aggregation and
  * whole-stage codegen. At cluster scale the z window is partitioned by
  * symbol (`flow_zscore_keyed`, `fused_multi`); the testdata is
  * single-symbol like the reference (config.py:21).
  */
object Flow {
  import graft.sources.Tables.BuySql

  /** 10-minute delta buckets (reference uses 10 s on a ~100 Hz stream;
    * testdata is ~0.004 Hz so buckets scale accordingly — semantics equal). */
  val DeltaBucketUs: Long = 600L * 1000000L
  val QuarterUs: Long = 900L * 1000000L
  val HourUs: Long = 3600L * 1000000L

  private[operators] def deltaDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .eventsWithSide(spark, dir)
      .groupBy(expr(s"ts_us div $DeltaBucketUs").as("bucket"))
      .agg(
        sum(when($"is_buy", $"value").otherwise(0.0)).as("buy_vol"),
        sum(when(!$"is_buy", $"value").otherwise(0.0)).as("sell_vol"),
        DeltaCents.as("dc"))
      .withColumn("delta", $"buy_vol" - $"sell_vol")
  }

  /** Taker delta in exact integer cents (`value` has 2-decimal
    * provenance, FIXTURES.md §B): the LONG input of [[RollingZ]]. An
    * aggregate over [[Tables.eventsWithSide]] rows. */
  private[operators] val DeltaCents: Column = {
    val cents = round(col("value") * 100).cast("long")
    sum(when(col("is_buy"), cents).otherwise(-cents))
  }

  private[operators] val deltaSql: String =
    s"""SELECT epoch_us(ts) // $DeltaBucketUs AS bucket,
       |  sum(CASE WHEN $BuySql THEN value ELSE 0.0 END) AS buy_vol,
       |  sum(CASE WHEN $BuySql THEN 0.0 ELSE value END) AS sell_vol,
       |  sum(CASE WHEN $BuySql THEN value ELSE 0.0 END)
       |    - sum(CASE WHEN $BuySql THEN 0.0 ELSE value END) AS delta
       |FROM events GROUP BY 1""".stripMargin

  /** Rolling population z-score of the delta over the trailing 3000 buckets,
    * ddof=0, minimum population 30 (strategy.py:1024-1035); |z| >= 2.1 gates
    * the entry signal (config.py:66). */
  private[operators] def zscoreDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Single logical symbol => one global population, like the reference's
    // deque; the keyed twins partition the same kernel by shard/symbol.
    deltaDf(spark, dir)
      .withColumn("z", RollingZ.z($"dc", $"bucket"))
      .withColumn(
        "signal",
        when($"z" >= 2.1, "LONG").when($"z" <= -2.1, "SHORT").otherwise("NONE"))
      .select("bucket", "delta", "z", "signal")
  }

  private[operators] val zscoreSql: String =
    s"""WITH d AS ($deltaSql),
       |zz AS (
       |  SELECT bucket, delta,
       |    avg(delta) OVER w AS mu_raw,
       |    stddev_pop(delta) OVER w AS sigma_raw,
       |    count(*) OVER w AS n_pop
       |  FROM d
       |  WINDOW w AS (ORDER BY bucket ROWS BETWEEN 2999 PRECEDING AND CURRENT ROW))
       |SELECT bucket, delta,
       |  CASE WHEN n_pop >= 30 AND sigma_raw > 0
       |       THEN round((delta - mu_raw) / sigma_raw, 6) END AS z,
       |  CASE WHEN n_pop >= 30 AND sigma_raw > 0
       |            AND round((delta - mu_raw) / sigma_raw, 6) >= 2.1 THEN 'LONG'
       |       WHEN n_pop >= 30 AND sigma_raw > 0
       |            AND round((delta - mu_raw) / sigma_raw, 6) <= -2.1 THEN 'SHORT'
       |       ELSE 'NONE' END AS signal
       |FROM zz""".stripMargin

  /** Normalized cumulative volume delta per bucket, clamped to [-1,1];
    * 0.0 when total volume is zero (aether_oracle.py:123-153). */
  private def cvdDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    deltaDf(spark, dir)
      .withColumn(
        "cvd",
        coalesce(
          least(
            greatest(
              ($"buy_vol" - $"sell_vol") /
                when($"buy_vol" + $"sell_vol" =!= 0.0, $"buy_vol" + $"sell_vol"),
              lit(-1.0)),
            lit(1.0)),
          lit(0.0)))
      .select("bucket", "buy_vol", "sell_vol", "cvd")
  }

  private val cvdSql: String =
    s"""WITH d AS ($deltaSql)
       |SELECT bucket, buy_vol, sell_vol,
       |  coalesce(least(greatest((buy_vol - sell_vol) / nullif(buy_vol + sell_vol, 0.0), -1.0), 1.0), 0.0) AS cvd
       |FROM d""".stripMargin

  /** Liquidity velocity, three timeframes: LV = sum(qty) / (sum(|ΔP|) + ε)
    * at 15m / 1h / 4h resolutions (the scale analog of the reference's
    * 60/300/900 s triple, aether_oracle.py:112-121), reported at the hour
    * grain with `lv_15m` = the hour's latest quarter (the "current
    * short-TF velocity at decision time" reading). The micro-trap flag
    * fires when the shortest TF runs hot vs the middle one —
    * lv_15m > 1.5 * lv_1h — exactly the reference's lv_1m vs lv_5m test
    * (aether_oracle.py:116-119).
    *
    * Scale shape: the |ΔP| lag is PARTITIONED by the finest bucket, so the
    * only shuffle over raw events is a hash exchange on (b15). The
    * cross-bucket boundary pair is recovered afterwards with a lag over
    * the already-reduced per-bucket frame (~rows/3600, the documented
    * single-symbol case — partitionBy(symbol) at scale). Every
    * consecutive-pair |ΔP| lands in the bucket of its later event, so the
    * coarser TFs are exact rollups of the fine-grain sums — no second
    * pass over raw events.
    */
  private[operators] def lvDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // memoized: the three TF rollups (and the fusion frame via Scores)
    // would otherwise each re-run the raw-event scan + bucket aggregation
    val q15 = graft.functions.DfMemo.cached(spark, s"lv_q15:$dir") {
      // event_id is globally unique and monotone in ts => deterministic lag.
      val wB = Window.partitionBy($"b15").orderBy($"event_id")
      Tables.events(spark, dir)
        .withColumn("b15", expr(s"ts_us div $QuarterUs"))
        .withColumn("prev", lag($"value", 1).over(wB))
        .groupBy($"b15")
        .agg(
          sum($"value").as("qty"),
          sum(abs($"value" - $"prev")).as("dp_within"),
          min_by($"value", $"event_id").as("first_val"),
          max_by($"value", $"event_id").as("last_val"))
        .withColumn("prev_last",
          lag($"last_val", 1).over(Window.orderBy($"b15")))
        .withColumn("dp",
          coalesce($"dp_within", lit(0.0)) +
            coalesce(abs($"first_val" - $"prev_last"), lit(0.0)))
        .withColumn("lv15", $"qty" / ($"dp" + 1e-6))
        .select($"b15", $"qty", $"dp", $"lv15")
    }
    val h1 = q15
      .groupBy(expr("b15 div 4").as("bucket"))
      .agg(
        sum($"qty").as("qty1"),
        sum($"dp").as("dp1"),
        max_by($"lv15", $"b15").as("lv_15m"))
      .withColumn("lv_1h", $"qty1" / ($"dp1" + 1e-6))
    val h4 = q15
      .groupBy(expr("b15 div 16").as("bucket4"))
      .agg(sum($"qty").as("qty4"), sum($"dp").as("dp4"))
      .withColumn("lv_4h", $"qty4" / ($"dp4" + 1e-6))
    h1.join(h4, expr("bucket div 4") === $"bucket4")
      .withColumn("micro_trap", $"lv_15m" > lit(1.5) * $"lv_1h")
      .select("bucket", "lv_15m", "lv_1h", "lv_4h", "micro_trap")
  }

  private[operators] val lvSql: String =
    s"""WITH diffs AS (
       |  SELECT epoch_us(ts) AS ts_us, value,
       |         abs(value - lag(value) OVER (ORDER BY event_id)) AS dp
       |  FROM events),
       |q15 AS (
       |  SELECT ts_us // $QuarterUs AS b15,
       |         sum(value) / (coalesce(sum(dp), 0.0) + 1e-6) AS lv15
       |  FROM diffs GROUP BY 1),
       |q15h AS (
       |  SELECT b15 // 4 AS bucket, arg_max(lv15, b15) AS lv_15m
       |  FROM q15 GROUP BY 1),
       |h1 AS (
       |  SELECT ts_us // $HourUs AS bucket,
       |         sum(value) / (coalesce(sum(dp), 0.0) + 1e-6) AS lv_1h
       |  FROM diffs GROUP BY 1),
       |h4 AS (
       |  SELECT ts_us // ${4 * HourUs} AS bucket4,
       |         sum(value) / (coalesce(sum(dp), 0.0) + 1e-6) AS lv_4h
       |  FROM diffs GROUP BY 1)
       |SELECT h1.bucket, q15h.lv_15m, h1.lv_1h, h4.lv_4h,
       |       q15h.lv_15m > 1.5 * h1.lv_1h AS micro_trap
       |FROM h1
       |JOIN q15h ON q15h.bucket = h1.bucket
       |JOIN h4 ON h1.bucket // 4 = h4.bucket4""".stripMargin

  /** Volume-rate ratio: recent 1h qty/sec vs the trailing-24h baseline,
    * clamped to [0.5, 2.0] (data_manager.py:1005-1035). */
  private[operators] def volRateDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"bucket").rowsBetween(-23, 0)
    Tables
      .events(spark, dir)
      .groupBy(expr(s"ts_us div $HourUs").as("bucket"))
      .agg(sum($"value").as("qty"))
      .withColumn("recent_rate", $"qty" / 3600.0)
      // round(6) on the ratio outputs: moving-frame sum/count then a ratio
      // of ratios — engine-different summation trees diverge past the
      // compare tolerance (the same round(6) every output z gets).
      // baseline_rate stays internal: a raw mean can land exactly on a
      // round(6) half-boundary; the contract is the clamped vol_factor.
      .withColumn(
        "baseline_raw",
        sum($"qty").over(w) / (count(lit(1)).over(w) * 3600.0))
      .withColumn(
        "vol_factor",
        round(
          least(
            greatest(
              $"recent_rate" / when($"baseline_raw" =!= 0.0, $"baseline_raw"),
              lit(0.5)),
            lit(2.0)),
          6))
      .select("bucket", "qty", "recent_rate", "vol_factor")
  }

  private[operators] val volRateSql: String =
    s"""WITH h AS (
       |  SELECT epoch_us(ts) // $HourUs AS bucket, sum(value) AS qty
       |  FROM events GROUP BY 1)
       |SELECT bucket, qty, qty / 3600.0 AS recent_rate,
       |  round(least(greatest((qty / 3600.0) / nullif(sum(qty) OVER w / (count(*) OVER w * 3600.0), 0.0), 0.5), 2.0), 6) AS vol_factor
       |FROM h
       |WINDOW w AS (ORDER BY bucket ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Regular-grid resampling with forward fill (`flow_resample`) — the
    * irregular→regular transform every charting/feature layer needs:
    * per event_type, the COMPLETE hourly bucket grid from the series'
    * first to last observation, the last-by-event_id value in each
    * observed bucket, and gaps forward-filled from the most recent
    * observation with an `is_gap` audit flag. Plan: one hash agg to the
    * observed (type, bucket) frame, a per-type 2-row min/max agg whose
    * `sequence` EXPLODES THE GRID (grid size = time span / bucket, data
    * independent), a left join back, and a per-type ordered
    * last(ignoreNulls) window — everything partitions by event_type,
    * nothing global. The fill carries the exact stored double (no
    * arithmetic), so both engines agree bit-for-bit. */
  private def resampleDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = Tables.events(spark, dir)
      .groupBy($"event_type", expr(s"ts_us div $HourUs").as("bucket"))
      .agg(max_by($"value", $"event_id").as("v_obs"))
    val grid = obs.groupBy($"event_type")
      .agg(min($"bucket").as("lo"), max($"bucket").as("hi"))
      .select($"event_type",
        explode(sequence($"lo", $"hi")).as("bucket"))
    val w = Window.partitionBy($"event_type").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("event_type", "bucket"), "left")
      .withColumn("value", last($"v_obs", ignoreNulls = true).over(w))
      .select($"event_type", $"bucket", $"value",
        $"v_obs".isNull.as("is_gap"))
  }

  private val resampleSql: String =
    s"""WITH obs AS (
       |  SELECT event_type, epoch_us(ts) // $HourUs AS bucket,
       |    arg_max(value, event_id) AS v_obs
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT event_type, unnest(range(lo, hi + 1)) AS bucket
       |  FROM (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
       |        FROM obs GROUP BY 1)),
       |j AS (SELECT g.event_type, g.bucket, o.v_obs
       |      FROM grid g LEFT JOIN obs o USING (event_type, bucket))
       |SELECT event_type, bucket,
       |  last_value(v_obs IGNORE NULLS) OVER (
       |    PARTITION BY event_type ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       |  v_obs IS NULL AS is_gap
       |FROM j""".stripMargin

  /** Trailing time-RANGE window (`flow_range_window`) — the §2.6 frame
    * kind every other window here does NOT use: `RANGE BETWEEN 1 hour
    * PRECEDING` is VALUE-based, so the frame holds however many rows
    * fell in the trailing hour (irregular arrival-friendly — a ROWS
    * frame would silently change meaning with event rate). Per event:
    * the trailing-hour event count and the trailing mean per type.
    * Partitioned by event_type like every keyed window; the range key
    * is the integer ts_us so both engines bound the frame identically.
    * The mean goes through EXACT integer cents (`value` has 2-decimal
    * provenance): a round-6 of a windowed double avg flipped its last
    * digit at sf0.1 when one frame's sum landed on a half-boundary and
    * the engines' summation trees differed by an ulp — an
    * order-independent integer sum divided by the count is the same
    * double bit-for-bit on both engines, no quantization boundary at
    * all. */
  private def rangeWindowDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"ts_us")
      .rangeBetween(-(HourUs - 1), 0)
    Tables.events(spark, dir)
      .select($"event_id", $"event_type", $"ts_us",
        round($"value" * 100).cast("long").as("cents"))
      .withColumn("n_trail_1h", count(lit(1)).over(w))
      .withColumn("mean_trail_1h",
        sum($"cents").over(w) / $"n_trail_1h" / 100.0)
      .select($"event_id", $"event_type", $"n_trail_1h", $"mean_trail_1h")
  }

  private val rangeWindowSql: String =
    s"""SELECT event_id, event_type,
       |  count(*) OVER w AS n_trail_1h,
       |  sum(cents) OVER w / (count(*) OVER w) / 100.0 AS mean_trail_1h
       |FROM (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
       |        round(value * 100)::BIGINT AS cents
       |      FROM events) e
       |WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
       |             RANGE BETWEEN ${HourUs - 1} PRECEDING AND CURRENT ROW)
       |""".stripMargin

  /** VPIN volume-bucket size and rolling window (Easley, López de Prado
    * & O'Hara 2012): ~100 buckets at sf0.01 so the estimate has support
    * at the verification SFs; bucket COUNT scales linearly with volume
    * while each bucket's work stays fixed. */
  val VpinBucketVol = 5000L
  val VpinWindow = 50

  /** VPIN — Volume-synchronized Probability of INformed trading
    * (`flow_vpin`): the flow-toxicity estimator that upgrades
    * [[deltaDf]]'s clock-time buckets to volume-time. Trades partition
    * into consecutive equal-VOLUME buckets (trade-indivisible variant: a
    * trade lands wholly in the bucket its starting cumulative volume
    * falls in); each bucket's order imbalance |buy − sell| averages over
    * the trailing [[VpinWindow]] buckets against the bucket volume.
    *
    * Plan: the global cumulative volume uses the proven TWO-LEVEL prefix
    * sum (pipeline_pack's machinery — running sum within bounded hour
    * granules, hour totals exclusive-prefix-summed on a tiny frame and
    * broadcast back), so no single-partition window ever sees the tick
    * stream; the per-bucket aggregation is one hash shuffle on the
    * bucket id and the VPIN window runs over the bounded bucket DOMAIN.
    * Everything before the final division is exact integers, so the
    * single-window oracle matches bitwise. The open (last, partial)
    * bucket ships like every bars_* open frame — a live monitor would
    * hold it back until the volume clock fills it. */
  /** The volume clock itself — each trade with its exact starting
    * cumulative volume, via the two-level prefix sum. Memoized: the
    * VPIN point estimate and the bucket-size curve both read it. */
  private def cumVolDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DfMemo.cached(spark, s"vpin_cum:$dir") {
      val e = Tables.eventsWithSide(spark, dir)
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .withColumn("hr", expr(s"ts_us div $HourUs"))
        .select($"event_id", $"ts_us", $"hr", $"is_buy", $"k")
      val wIn = Window.partitionBy($"hr").orderBy($"ts_us", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wBase = Window.orderBy($"hr")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bases = e.groupBy($"hr").agg(sum($"k").as("ht"))
        .withColumn("hbase", coalesce(sum($"ht").over(wBase), lit(0L)))
        .select($"hr", $"hbase")
      e.withColumn("cin", coalesce(sum($"k").over(wIn), lit(0L)))
        .join(broadcast(bases), Seq("hr"))
        .select($"event_id", $"is_buy", $"k",
          ($"hbase" + $"cin").as("cum_before"))
    }
  }

  private[operators] def vpinDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wV = Window.orderBy($"vb").rowsBetween(-(VpinWindow - 1), 0)
    cumVolDf(spark, dir)
      .withColumn("vb", expr(s"cum_before div $VpinBucketVol"))
      .groupBy($"vb")
      .agg(
        sum(when($"is_buy", $"k").otherwise(0L)).as("buy_vol"),
        sum(when(!$"is_buy", $"k").otherwise(0L)).as("sell_vol"),
        count(lit(1)).as("n_trades"))
      .withColumn("oi", abs($"buy_vol" - $"sell_vol"))
      .withColumn("vpin",
        sum($"oi").over(wV)
          / (count(lit(1)).over(wV) * lit(VpinBucketVol)))
      .select("vb", "buy_vol", "sell_vol", "n_trades", "oi", "vpin")
  }

  private[operators] val vpinSql: String =
    s"""WITH e AS (
       |  SELECT event_id, epoch_us(ts) AS ts_us,
       |    json_extract_string(props, '$$.k')::BIGINT AS k,
       |    ($BuySql) AS is_buy
       |  FROM events),
       |c AS (
       |  SELECT *,
       |    coalesce(sum(k) OVER (ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cb
       |  FROM e),
       |b AS (
       |  SELECT cb // $VpinBucketVol AS vb,
       |    sum(CASE WHEN is_buy THEN k ELSE 0 END)::BIGINT AS buy_vol,
       |    sum(CASE WHEN is_buy THEN 0 ELSE k END)::BIGINT AS sell_vol,
       |    count(*) AS n_trades
       |  FROM c GROUP BY 1),
       |o AS (SELECT *, abs(buy_vol - sell_vol) AS oi FROM b)
       |SELECT vb, buy_vol, sell_vol, n_trades, oi,
       |  (sum(oi) OVER wv)::BIGINT
       |    / ((count(*) OVER wv)::BIGINT * $VpinBucketVol) AS vpin
       |FROM o
       |WINDOW wv AS (ORDER BY vb
       |              ROWS BETWEEN ${VpinWindow - 1} PRECEDING AND CURRENT ROW)""".stripMargin

  /** The bucket-volume dial (halving/doubling around the shipped
    * [[VpinBucketVol]]); doubling NESTS the buckets (floor(c/2V)
    * merges floor(c/V) pairs), which is what makes the curve's
    * monotonicity provable, not just observed. */
  val VpinCurveVols: Seq[Long] = Seq(2500L, 5000L, 10000L)

  /** The VPIN dial priced (`flow_vpin_curve`): the whole-history
    * toxicity census at each bucket volume, every row derived from the
    * SAME memoized volume-clock frame ([[cumVolDf]]) — one prefix-sum
    * pass however many dial points. Coarser buckets can only cancel
    * imbalance (|Σa+Σb| ≤ |Σa|+|Σb| and the doubled buckets nest), so
    * `total_oi` and `toxicity_bps` are provably non-increasing in
    * bucket volume — the spec asserts it, and the shipped 5000-point's
    * census row reconciles with `flow_vpin`'s per-bucket frame. */
  private[operators] def vpinCurveDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cum = cumVolDf(spark, dir)
    VpinCurveVols.map { v =>
      cum.withColumn("vb", expr(s"cum_before div $v"))
        .groupBy($"vb")
        .agg(
          sum(when($"is_buy", $"k").otherwise(0L)).as("buy_vol"),
          sum(when(!$"is_buy", $"k").otherwise(0L)).as("sell_vol"))
        .select(abs($"buy_vol" - $"sell_vol").as("oi"))
        .agg(count(lit(1)).as("n_buckets"), sum($"oi").as("total_oi"),
          max($"oi").as("max_oi"))
        .select(lit(v).as("bucket_vol"), $"n_buckets", $"total_oi",
          $"max_oi")
    }.reduce(_.unionAll(_))
      .withColumn("toxicity_bps",
        expr("(total_oi * 10000) div (n_buckets * bucket_vol)"))
  }

  private[operators] val vpinCurveSql: String = {
    val cumCte =
      s"""e AS (
         |  SELECT event_id, epoch_us(ts) AS ts_us,
         |    json_extract_string(props, '$$.k')::BIGINT AS k,
         |    ($BuySql) AS is_buy
         |  FROM events),
         |c AS (
         |  SELECT *,
         |    coalesce(sum(k) OVER (ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS cum_before
         |  FROM e)""".stripMargin
    val perV = VpinCurveVols.map { v =>
      s"""SELECT $v::BIGINT AS bucket_vol, count(*) AS n_buckets,
         |  sum(oi)::BIGINT AS total_oi, max(oi) AS max_oi
         |FROM (
         |  SELECT abs(sum(CASE WHEN is_buy THEN k ELSE 0 END)
         |            - sum(CASE WHEN is_buy THEN 0 ELSE k END))::BIGINT AS oi
         |  FROM c GROUP BY cum_before // $v) b$v""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $cumCte
       |SELECT bucket_vol, n_buckets, total_oi, max_oi,
       |  (total_oi * 10000) // (n_buckets * bucket_vol) AS toxicity_bps
       |FROM ($perV) u""".stripMargin
  }

  /** Kyle's lambda (`flow_kyle_lambda`, Kyle 1985) — the price-impact
    * slope a flow engine exists to estimate: per 10-minute bucket, the
    * signed volume q = buy − sell (the `k` sizes, like VPIN) and the
    * price move Δp = close − open in exact cents (the OHLC arg-min/max
    * tie-break), then λ = cov(q, Δp)/var(q) with the regression R² —
    * both from ONE aggregation of exact integer sufficient statistics
    * (n, Σq, Σd, Σq², Σd², Σqd), the `events_cuped` determinism
    * pattern: every double derives from the same exact longs with one
    * textual op sequence, so the slope is engine-stable despite the
    * cancellation inside the moments. Plan: one hash aggregation into
    * buckets (map-side combined), then a 1-row frame. λ > 0 on real
    * flow (buying pressure moves price up); the spec recomputes the
    * moments independently and checks the sign story on the fixture. */
  private[operators] def kyleDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = Tables.eventsWithSide(spark, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .withColumn("cents", round($"value" * 100).cast("long"))
      .groupBy(expr(s"ts_us div $DeltaBucketUs").as("bucket"))
      .agg(
        (sum(when($"is_buy", $"k").otherwise(0L)) -
          sum(when(!$"is_buy", $"k").otherwise(0L))).as("q"),
        (max_by($"cents", $"event_id") - min_by($"cents", $"event_id"))
          .as("d"))
    b.agg(count(lit(1)).as("n"), sum($"q").as("sq"), sum($"d").as("sd"),
        sum($"q" * $"q").as("sqq"), sum($"d" * $"d").as("sdd"),
        sum($"q" * $"d").as("sqd"))
      .withColumn("covn2",
        $"n".cast("double") * $"sqd" - $"sq".cast("double") * $"sd")
      .withColumn("varqn2",
        $"n".cast("double") * $"sqq" - $"sq".cast("double") * $"sq")
      .withColumn("vardn2",
        $"n".cast("double") * $"sdd" - $"sd".cast("double") * $"sd")
      .select($"n".as("n_buckets"),
        ($"covn2" / $"varqn2").as("lambda_cents_per_k"),
        when($"vardn2" > 0,
          $"covn2" * $"covn2" / ($"varqn2" * $"vardn2")).as("r2"))
  }

  private[operators] val kyleSql: String =
    s"""WITH b AS (
       |  SELECT epoch_us(ts) // $DeltaBucketUs AS bucket,
       |    (sum(CASE WHEN $BuySql
       |              THEN json_extract_string(props, '$$.k')::BIGINT
       |              ELSE 0 END)
       |     - sum(CASE WHEN $BuySql THEN 0
       |               ELSE json_extract_string(props, '$$.k')::BIGINT
       |               END))::BIGINT AS q,
       |    (arg_max(round(value * 100)::BIGINT, event_id)
       |     - arg_min(round(value * 100)::BIGINT, event_id))::BIGINT AS d
       |  FROM events GROUP BY 1),
       |s AS (
       |  SELECT count(*) AS n, sum(q)::BIGINT AS sq, sum(d)::BIGINT AS sd,
       |    sum(q * q)::BIGINT AS sqq, sum(d * d)::BIGINT AS sdd,
       |    sum(q * d)::BIGINT AS sqd
       |  FROM b),
       |c AS (
       |  SELECT n,
       |    n::DOUBLE * sqd - sq::DOUBLE * sd AS covn2,
       |    n::DOUBLE * sqq - sq::DOUBLE * sq AS varqn2,
       |    n::DOUBLE * sdd - sd::DOUBLE * sd AS vardn2
       |  FROM s)
       |SELECT n AS n_buckets, covn2 / varqn2 AS lambda_cents_per_k,
       |  CASE WHEN vardn2 > 0
       |       THEN covn2 * covn2 / (varqn2 * vardn2) END AS r2
       |FROM c""".stripMargin

  /** Roll implied spread (`flow_roll_spread`, Roll 1984) — the classic
    * effective-spread estimator s = 2·√(−cov(Δp_t, Δp_{t−1})): bid-ask
    * bounce makes successive trade-price changes negatively serially
    * correlated, and the covariance magnitude recovers the half-spread.
    * Δp pairs form INSIDE each 10-minute bucket (a partitioned window —
    * never the single-partition all-ticks sort), ordered by
    * (ts_us, event_id) on both engines so the lag is deterministic; the
    * serial covariance then pools across buckets from exact integer
    * sufficient statistics (n, Σx, Σy, Σxy over cents longs), and the
    * one double expression `2·√(−covn2)/n` is textually identical in the
    * oracle, so the estimate is bit-stable. cov ≥ 0 (trending fixture)
    * reports NULL, the estimator's documented undefined case. */
  private[operators] def rollDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"bucket").orderBy($"ts_us", $"event_id")
    val d = Tables.events(spark, dir)
      .withColumn("cents", round($"value" * 100).cast("long"))
      .withColumn("bucket", expr(s"ts_us div $DeltaBucketUs"))
      .select($"bucket", $"ts_us", $"event_id", $"cents")
      .withColumn("dp", $"cents" - lag($"cents", 1).over(w))
    val p = d.withColumn("dp1", lag($"dp", 1).over(w))
      .where($"dp".isNotNull && $"dp1".isNotNull)
    p.agg(count(lit(1)).as("n"), sum($"dp").as("sx"), sum($"dp1").as("sy"),
        sum($"dp" * $"dp1").as("sxy"))
      .withColumn("covn2",
        $"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy")
      .select($"n".as("n_pairs"),
        when($"covn2" < 0, lit(2.0) * sqrt(-$"covn2") / $"n")
          .as("roll_spread_cents"))
  }

  private[operators] val rollSql: String =
    s"""WITH t AS (
       |  SELECT epoch_us(ts) // $DeltaBucketUs AS bucket,
       |    epoch_us(ts) AS ts_us, event_id,
       |    round(value * 100)::BIGINT AS cents
       |  FROM events),
       |d AS (
       |  SELECT bucket, ts_us, event_id, cents - lag(cents)
       |    OVER (PARTITION BY bucket ORDER BY ts_us, event_id) AS dp
       |  FROM t),
       |p AS (
       |  SELECT dp, lag(dp)
       |    OVER (PARTITION BY bucket ORDER BY ts_us, event_id) AS dp1
       |  FROM d),
       |s AS (
       |  SELECT count(*) AS n, sum(dp)::BIGINT AS sx, sum(dp1)::BIGINT AS sy,
       |    sum(dp * dp1)::BIGINT AS sxy
       |  FROM p WHERE dp IS NOT NULL AND dp1 IS NOT NULL),
       |c AS (
       |  SELECT n, n::DOUBLE * sxy - sx::DOUBLE * sy AS covn2 FROM s)
       |SELECT n AS n_pairs,
       |  CASE WHEN covn2 < 0 THEN 2.0 * sqrt(-covn2) / n END
       |    AS roll_spread_cents
       |FROM c""".stripMargin

  /** Tick-rule trade classification audit (`flow_tick_rule`): the
    * Lee-Ready tick test (Lee & Ready 1991) — classify each trade as
    * buyer-initiated on an uptick, seller-initiated on a downtick, and
    * carry the LAST nonzero direction through zero-ticks — evaluated
    * against the feed's true aggressor flag per 10-minute bucket. A
    * venue that loses the aggressor flag (many historical tapes do)
    * must reconstruct it; this query measures exactly how much signal
    * that reconstruction recovers on this tape. Windows partition by
    * bucket (the roll_spread shape — never a global tick sort); every
    * count is an exact integer and accuracy divides two longs. The
    * bucket's first tick and zero-tick runs before any direction exists
    * stay unclassified and drop from the audit on both engines. */
  private[operators] def tickRuleDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"bucket").orderBy($"ts_us", $"event_id")
    val wRun = Window.partitionBy($"bucket").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsWithSide(spark, dir)
      .withColumn("cents", round($"value" * 100).cast("long"))
      .withColumn("bucket", expr(s"ts_us div $DeltaBucketUs"))
      .select($"bucket", $"ts_us", $"event_id", $"cents",
        when($"is_buy", 1L).otherwise(0L).as("actual"))
      .withColumn("dp", $"cents" - lag($"cents", 1).over(w))
      .withColumn("sgn",
        when($"dp" > 0, 1L).when($"dp" < 0, 0L))
      .withColumn("cls", last($"sgn", ignoreNulls = true).over(wRun))
      .filter($"cls".isNotNull)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_classified"),
        sum(when($"cls" === $"actual", 1L).otherwise(0L)).as("n_match"))
      .withColumn("accuracy",
        $"n_match".cast("double") / $"n_classified")
  }

  private[operators] val tickRuleSql: String =
    s"""WITH t AS (
       |  SELECT epoch_us(ts) // $DeltaBucketUs AS bucket,
       |    epoch_us(ts) AS ts_us, event_id,
       |    round(value * 100)::BIGINT AS cents,
       |    CASE WHEN ${Tables.BuySql} THEN 1 ELSE 0 END AS actual
       |  FROM events),
       |d AS (
       |  SELECT *, cents - lag(cents)
       |    OVER (PARTITION BY bucket ORDER BY ts_us, event_id) AS dp
       |  FROM t),
       |s AS (
       |  SELECT *, CASE WHEN dp > 0 THEN 1 WHEN dp < 0 THEN 0 END AS sgn
       |  FROM d),
       |c AS (
       |  SELECT bucket, actual, last_value(sgn IGNORE NULLS)
       |    OVER (PARTITION BY bucket ORDER BY ts_us, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cls
       |  FROM s)
       |SELECT bucket, count(*) AS n_classified,
       |  sum(CASE WHEN cls = actual THEN 1 ELSE 0 END)::BIGINT AS n_match,
       |  sum(CASE WHEN cls = actual THEN 1 ELSE 0 END)::BIGINT::DOUBLE
       |    / count(*) AS accuracy
       |FROM c WHERE cls IS NOT NULL GROUP BY 1""".stripMargin

  /** Amihud illiquidity (`flow_amihud`, Amihud 2002) — |price move| per
    * unit traded volume, the workhorse low-frequency liquidity proxy:
    * per 10-minute bucket, the absolute open→close move in cents (the
    * same event_id arg-min/max convention as Kyle's λ) over the bucket's
    * summed `k` volume, floored to integer basis points so no
    * engine-private double ever forms per bucket; the board-level mean
    * is then one exact BIGINT sum with a single final division. Plan:
    * one map-side-combined hash aggregation into buckets, then a 1-row
    * reduce — no window, no sort. */
  private[operators] def amihudDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = Tables.events(spark, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .withColumn("cents", round($"value" * 100).cast("long"))
      .groupBy(expr(s"ts_us div $DeltaBucketUs").as("bucket"))
      .agg(abs(max_by($"cents", $"event_id") - min_by($"cents", $"event_id"))
          .as("dabs"),
        sum($"k").as("vol"))
      .where($"vol" > 0)
      .withColumn("illiq_bps", expr("(dabs * 10000) div vol"))
    b.agg(count(lit(1)).as("n_buckets"), sum($"illiq_bps").as("sum_bps"),
        max($"illiq_bps").as("max_bps"))
      .withColumn("amihud_bps",
        $"sum_bps".cast("double") / $"n_buckets".cast("double"))
  }

  private[operators] val amihudSql: String =
    s"""WITH b AS (
       |  SELECT epoch_us(ts) // $DeltaBucketUs AS bucket,
       |    abs(arg_max(round(value * 100)::BIGINT, event_id)
       |      - arg_min(round(value * 100)::BIGINT, event_id))::BIGINT AS dabs,
       |    sum(json_extract_string(props, '$$.k')::BIGINT)::BIGINT AS vol
       |  FROM events GROUP BY 1),
       |i AS (
       |  SELECT ((dabs * 10000) // vol)::BIGINT AS illiq_bps
       |  FROM b WHERE vol > 0),
       |s AS (
       |  SELECT count(*) AS n_buckets, sum(illiq_bps)::BIGINT AS sum_bps,
       |    max(illiq_bps) AS max_bps
       |  FROM i)
       |SELECT n_buckets, sum_bps, max_bps,
       |  sum_bps::DOUBLE / n_buckets::DOUBLE AS amihud_bps
       |FROM s""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "flow_kyle_lambda" -> (kyleDf(_, _)),
    "flow_roll_spread" -> (rollDf(_, _)),
    "flow_amihud" -> (amihudDf(_, _)),
    "flow_range_window" -> (rangeWindowDf(_, _)),
    "flow_delta" -> (deltaDf(_, _).drop("dc")),
    "flow_zscore" -> (zscoreDf(_, _)),
    "flow_cvd" -> (cvdDf(_, _)),
    "flow_lv" -> (lvDf(_, _)),
    "flow_volrate" -> (volRateDf(_, _)),
    "flow_resample" -> (resampleDf(_, _)),
    "flow_vpin" -> (vpinDf(_, _)),
    "flow_vpin_curve" -> (vpinCurveDf(_, _)),
    "flow_tick_rule" -> (tickRuleDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "flow_delta" -> deltaSql,
    "flow_zscore" -> zscoreSql,
    "flow_cvd" -> cvdSql,
    "flow_lv" -> lvSql,
    "flow_volrate" -> volRateSql,
    "flow_resample" -> resampleSql,
    "flow_range_window" -> rangeWindowSql,
    "flow_vpin" -> vpinSql,
    "flow_vpin_curve" -> vpinCurveSql,
    "flow_kyle_lambda" -> kyleSql,
    "flow_roll_spread" -> rollSql,
    "flow_amihud" -> amihudSql,
    "flow_tick_rule" -> tickRuleSql
  )
}
