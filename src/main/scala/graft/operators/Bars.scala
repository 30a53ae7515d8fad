package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.OpModule

/** Bar/candle analytics re-expressing the reference's resample + volatility
  * estimators (SURVEY.md §2.5) over the `events` table, hourly buckets:
  *
  *  - OHLC resample       (data_manager.py:788-801, aether_oracle.py:205-217)
  *  - ATR% with <N-bar realized-vol fallback (data_manager.py:774-833)
  *  - realized volatility (data_manager.py:747-772)
  *  - EMA span=20, adjust=False, bounded 3*span lookback
  *    (data_manager.py:721-745)
  *
  * The reference recomputes each estimator by rescanning a Python deque per
  * tick; here each is one declarative pass: a hash aggregation (partial
  * map-side combine for free) into per-bucket bars, then ordered window
  * frames over the bar table. The bar table is ~len(stream)/3600 rows, so
  * the `Window.orderBy` single-partition stage is tiny even at 100 TB of
  * raw events; multi-symbol data would `partitionBy(symbol)` every window.
  *
  * EMA is the one frame Spark lacks natively (SURVEY §2.6): we fold
  * `ema = a*x + (1-a)*ema` over an ordered `collect_list` frame with
  * `aggregate`, seeded with the frame's first element — the exact
  * `ewm(adjust=False)` recursion, bounded to the reference's 3*span-tick
  * lookback so state stays O(span) at any scale. The DuckDB oracle uses
  * `list_reduce` over the identical frame: both engines fold left in frame
  * order with the same double constants, so results match bitwise.
  */
object Bars extends OpModule {
  import Flow.HourUs

  val Span = 20
  val Lookback: Int = 3 * Span // reference: last 3*span ticks
  val AtrN = 10                // reference ATR window (config.py:82)
  val RvN = 30
  // Annualize-to-bucket factor; the reference scales realized vol by
  // sqrt(ticks_per_min) (data_manager.py:768) — fixed equivalent constant.
  val RvScale = "sqrt(60.0)"

  /** Memoized: the hourly OHLC frame is the root of the entire
    * bars/trend/long-memory family (20 call sites), and several
    * consumers reference it more than once per plan (lm_bos self-joins
    * it twice per timeframe; lm_autocorr reads it four times) — each
    * un-checkpointed reference re-ran the events scan + aggregation.
    * The frame is time-bucket-DOMAIN sized (rows = span/hour), so the
    * checkpoint is metadata-scale at any SF. */
  private[graft] def ohlcDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"ohlc:$dir") {
      import spark.implicits._
      Tables
        .events(spark, dir)
        .groupBy(expr(s"ts_us div $HourUs").as("bucket"))
        .agg(
          min_by($"value", $"event_id").as("open"),
          max($"value").as("high"),
          min($"value").as("low"),
          max_by($"value", $"event_id").as("close"),
          sum($"value").as("volume"),
          count(lit(1)).as("n_ticks"))
    }

  private[operators] val ohlcSql: String =
    s"""SELECT epoch_us(ts) // $HourUs AS bucket,
       |  arg_min(value, event_id) AS open, max(value) AS high,
       |  min(value) AS low, arg_max(value, event_id) AS close,
       |  sum(value) AS volume, count(*) AS n_ticks
       |FROM events GROUP BY 1""".stripMargin

  /** Micros per day, for the anchored-VWAP session boundary. */
  val DayUs: Long = 24L * HourUs

  /** Hourly + day-anchored VWAP (`bars_vwap`): the volume-weighted
    * average price per bar, and the session-anchored running VWAP every
    * execution desk charts (anchor = UTC day open). Size comes from the
    * payload's `k` field (the same extraction as `json_extract_agg`).
    * Determinism is the exact-cents canon: per-tick price·size
    * accumulates as `round(value*100)::BIGINT * k` — an
    * order-independent integer sum on both engines — and only the final
    * division produces a double, from identical operands. The anchored
    * window is a per-day running integer sum: one shuffle keyed by day,
    * no global ordering. */
  private def vwapDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"day").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .withColumn("pv_cents", round($"value" * 100).cast("long") * $"k")
      .groupBy(expr(s"ts_us div $HourUs").as("bucket"))
      .agg(sum($"pv_cents").as("pv"), sum($"k").as("sz"),
        count(lit(1)).as("n_ticks"))
      .withColumn("day", expr(s"bucket div ${DayUs / HourUs}"))
      .withColumn("vwap",
        when($"sz" > 0, $"pv" / $"sz" / 100.0))
      .withColumn("avwap",
        when(sum($"sz").over(w) > 0,
          sum($"pv").over(w) / sum($"sz").over(w) / 100.0))
      .select($"bucket", $"n_ticks", $"sz".as("size_sum"),
        $"vwap", $"avwap")
  }

  private val vwapSql: String =
    s"""WITH t AS (
       |  SELECT epoch_us(ts) // $HourUs AS bucket,
       |    round(value * 100)::BIGINT *
       |      json_extract_string(props, '$$.k')::BIGINT AS pv_cents,
       |    json_extract_string(props, '$$.k')::BIGINT AS k
       |  FROM events),
       |b AS (
       |  SELECT bucket, sum(pv_cents)::BIGINT AS pv, sum(k)::BIGINT AS sz,
       |    count(*) AS n_ticks, bucket // ${DayUs / HourUs} AS day
       |  FROM t GROUP BY 1)
       |SELECT bucket, n_ticks, sz AS size_sum,
       |  CASE WHEN sz > 0 THEN pv / sz / 100.0 END AS vwap,
       |  CASE WHEN (sum(sz) OVER w)::BIGINT > 0
       |       THEN (sum(pv) OVER w)::BIGINT / (sum(sz) OVER w)::BIGINT / 100.0
       |  END AS avwap
       |FROM b
       |WINDOW w AS (PARTITION BY day ORDER BY bucket
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** True range + prev-close lag inputs shared by ATR and realized vol.
    * tr is explicitly NULL on the first bar (no prev close) — both engines'
    * `greatest` skip NULLs, so we guard rather than rely on that. */
  private def withTr(df: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"bucket")
    df.withColumn("pc", lag($"close", 1).over(w))
      .withColumn(
        "tr",
        when(
          $"pc".isNotNull,
          greatest($"high" - $"low", abs($"high" - $"pc"), abs($"low" - $"pc"))))
      .withColumn(
        "ret",
        when($"pc".isNotNull && $"pc" =!= 0.0, ($"close" - $"pc") / $"pc"))
  }

  private val trSql: String =
    s"""WITH ohlc AS ($ohlcSql),
       |b AS (SELECT *, lag(close) OVER (ORDER BY bucket) AS pc FROM ohlc),
       |t AS (SELECT *,
       |  CASE WHEN pc IS NOT NULL
       |       THEN greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr,
       |  CASE WHEN pc IS NOT NULL AND pc <> 0.0
       |       THEN (close - pc) / pc END AS ret
       |  FROM b)""".stripMargin

  private def barsDf(spark: SparkSession, dir: String): DataFrame =
    ohlcDf(spark, dir)
      .select("bucket", "open", "high", "low", "close", "volume", "n_ticks")

  private val barsSql: String =
    s"""WITH ohlc AS ($ohlcSql)
       |SELECT bucket, open, high, low, close, volume, n_ticks FROM ohlc""".stripMargin

  /** ATR% = mean(last 10 TRs)/close once 10 TRs exist; before that, the
    * reference falls back to realized vol (data_manager.py:798-799,833). */
  private[operators] def atrDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wAtr = Window.orderBy($"bucket").rowsBetween(-(AtrN - 1), 0)
    val wRv = Window.orderBy($"bucket").rowsBetween(-(RvN - 1), 0)
    withTr(ohlcDf(spark, dir), spark)
      .withColumn("n_tr", count($"tr").over(wAtr))
      .withColumn("rv", stddev_pop($"ret").over(wRv) * expr(RvScale))
      .withColumn(
        "atr_pct",
        when($"n_tr" >= AtrN, avg($"tr").over(wAtr) / $"close").otherwise($"rv"))
      .select("bucket", "close", "tr", "atr_pct")
  }

  private[operators] val atrSql: String =
    s"""$trSql
       |SELECT bucket, close, tr,
       |  CASE WHEN count(tr) OVER wa >= $AtrN
       |       THEN (avg(tr) OVER wa) / close
       |       ELSE stddev_pop(ret) OVER wr * $RvScale END AS atr_pct
       |FROM t
       |WINDOW wa AS (ORDER BY bucket ROWS BETWEEN ${AtrN - 1} PRECEDING AND CURRENT ROW),
       |       wr AS (ORDER BY bucket ROWS BETWEEN ${RvN - 1} PRECEDING AND CURRENT ROW)""".stripMargin

  /** Rolling realized volatility of close-to-close returns. */
  private def rvDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"bucket").rowsBetween(-(RvN - 1), 0)
    withTr(ohlcDf(spark, dir), spark)
      .withColumn("rv", stddev_pop($"ret").over(w) * expr(RvScale))
      .select("bucket", "close", "ret", "rv")
  }

  private val rvSql: String =
    s"""$trSql
       |SELECT bucket, close, ret,
       |  stddev_pop(ret) OVER wr * $RvScale AS rv
       |FROM t
       |WINDOW wr AS (ORDER BY bucket ROWS BETWEEN ${RvN - 1} PRECEDING AND CURRENT ROW)""".stripMargin

  // alpha/one-minus-alpha written as the same double expressions on both
  // sides so the IEEE ops (one division, one subtraction) agree bitwise.
  private val alpha: Double = 2.0 / (Span + 1.0)
  private val omAlpha: Double = 1.0 - 2.0 / (Span + 1.0)

  /** EMA(span=20, adjust=False) over closes, bounded to the trailing
    * 3*span bars: fold seeded with the frame's first element. */
  private[operators] def emaDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wf = Window.orderBy($"bucket").rowsBetween(-(Lookback - 1), 0)
    ohlcDf(spark, dir)
      .withColumn("arr", collect_list($"close").over(wf))
      .withColumn(
        "ema",
        aggregate(
          slice($"arr", 2, Lookback - 1),
          element_at($"arr", 1),
          (acc, x) => lit(alpha) * x + lit(omAlpha) * acc))
      .select("bucket", "close", "ema")
  }

  private[operators] val emaSql: String =
    s"""WITH ohlc AS ($ohlcSql)
       |SELECT bucket, close,
       |  list_reduce(list(close) OVER wf,
       |              (acc, x) -> (2.0 / ${Span + 1}.0) * x + (1.0 - 2.0 / ${Span + 1}.0) * acc) AS ema
       |FROM ohlc
       |WINDOW wf AS (ORDER BY bucket ROWS BETWEEN ${Lookback - 1} PRECEDING AND CURRENT ROW)""".stripMargin

  // Holt smoothing constants as EXACT binary fractions (0.25 = 2^-2,
  // 0.125 = 2^-3) so the literals parse to identical doubles everywhere
  // and 1-alpha / 1-beta are exact too.
  val HoltAlpha = 0.25
  val HoltBeta = 0.125

  /** Holt linear-trend double smoothing (`bars_holt`, Holt 1957) — the
    * forecasting rung above [[emaDf]]: a coupled (level, trend) fold
    * `l' = a*x + (1-a)*(l+b); b' = beta*(l'-l) + (1-beta)*b` with the
    * 1-step-ahead forecast `l+b` shipped per bar. Same bounded-frame fold
    * machinery as the EMA (ordered `collect_list` + `aggregate` over the
    * trailing [[Lookback]] bars, seeded [first, 0]); the accumulator is a
    * 2-element array because the recursion carries two coupled states.
    * The DuckDB oracle folds `list_reduce` over `[x, 0]` pairs — the
    * 2-arg reduce's first element IS the same seed — with the level
    * expression textually duplicated inside the trend update so both
    * engines execute the identical IEEE op sequence and match bitwise,
    * like the EMA. */
  private[operators] def holtDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wf = Window.orderBy($"bucket").rowsBetween(-(Lookback - 1), 0)
    ohlcDf(spark, dir)
      .withColumn("arr", collect_list($"close").over(wf))
      .withColumn("lb",
        aggregate(
          slice($"arr", 2, Lookback - 1),
          array(element_at($"arr", 1), lit(0.0)),
          (acc, x) => {
            val l = element_at(acc, 1)
            val b = element_at(acc, 2)
            val l2 = lit(HoltAlpha) * x + lit(1.0 - HoltAlpha) * (l + b)
            array(l2, lit(HoltBeta) * (l2 - l) + lit(1.0 - HoltBeta) * b)
          }))
      .select($"bucket", $"close",
        element_at($"lb", 1).as("level"),
        element_at($"lb", 2).as("trend"),
        (element_at($"lb", 1) + element_at($"lb", 2)).as("forecast_next"))
  }

  private[operators] val holtSql: String = {
    val l2 = "0.25 * e[1] + 0.75 * (acc[1] + acc[2])"
    s"""WITH ohlc AS ($ohlcSql),
       |f AS (
       |  SELECT bucket, close,
       |    list_reduce(
       |      list_transform(list(close) OVER wf, x -> [x, 0.0::DOUBLE]),
       |      (acc, e) -> [$l2,
       |                   0.125 * (($l2) - acc[1]) + 0.875 * acc[2]]) AS lb
       |  FROM ohlc
       |  WINDOW wf AS (ORDER BY bucket
       |                ROWS BETWEEN ${Lookback - 1} PRECEDING AND CURRENT ROW))
       |SELECT bucket, close, lb[1] AS level, lb[2] AS trend,
       |  lb[1] + lb[2] AS forecast_next
       |FROM f""".stripMargin
  }

  /** Underwater curve + running peak (`bars_drawdown`): drawdown from the
    * all-time-high close, the risk statistic every equity-curve monitor
    * (reference: daily P&L summaries, main.py telemetry) reads first.
    * Pure prefix-max window over the bar table — like every bars_* frame
    * the single-partition stage is over the bounded bucket DOMAIN, not the
    * tick stream (multi-symbol would partitionBy(symbol)). Exact integer
    * cents for the prefix max; the drawdown ratio ships as floor'd basis
    * points so both engines compute the identical (a*b)/c double pair and
    * truncate the same way — no round-boundary lottery on a ratio. */
  private def drawdownDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"bucket").rowsBetween(Window.unboundedPreceding, 0)
    ohlcDf(spark, dir)
      .select($"bucket", round($"close" * 100).cast("long").as("close_cents"))
      .withColumn("peak_cents", max($"close_cents").over(w))
      .withColumn("dd_bps",
        floor(($"peak_cents" - $"close_cents") * lit(10000.0) / $"peak_cents"))
      .select($"bucket", $"close_cents", $"peak_cents", $"dd_bps")
  }

  private val drawdownSql: String =
    s"""WITH ohlc AS ($ohlcSql),
       |c AS (SELECT bucket, round(close * 100)::BIGINT AS close_cents FROM ohlc)
       |SELECT bucket, close_cents,
       |  max(close_cents) OVER w AS peak_cents,
       |  floor((max(close_cents) OVER w - close_cents) * 10000.0 /
       |        (max(close_cents) OVER w))::BIGINT AS dd_bps
       |FROM c
       |WINDOW w AS (ORDER BY bucket
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Wilder RSI period (Wilder 1978, "New Concepts in Technical Trading
    * Systems"); the smoothing is an adjust=False EMA with alpha=1/14. */
  val RsiN = 14
  private val rsiA: Double = 1.0 / RsiN
  private val rsiOmA: Double = 1.0 - 1.0 / RsiN

  /** Wilder RSI(14) over hourly closes (`bars_rsi`) — the momentum
    * oscillator the reference's TA stack conspicuously lacks next to its
    * EMA/ATR (data_manager.py:721-833); any user of a TA engine expects
    * it beside them. Gains/losses split from the close diff with explicit
    * sign guards (never `greatest(-d, 0)`, whose -0.0 tie-break is
    * engine-dependent); both averages are the same bounded-lookback
    * adjust=False fold as [[emaDf]], seeded with the frame's first
    * element, so state is O(span) at any scale and the DuckDB
    * `list_reduce` twin matches bitwise. RSI=50 is the empty-information
    * seed (no moves yet), 100 the all-gains edge. */
  private[operators] def rsiDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.orderBy($"bucket")
    val wf = Window.orderBy($"bucket").rowsBetween(-(Lookback - 1), 0)
    ohlcDf(spark, dir)
      .withColumn("pc", lag($"close", 1).over(wOrd))
      .withColumn("d",
        when($"pc".isNotNull, $"close" - $"pc").otherwise(lit(0.0)))
      .withColumn("g", when($"d" > 0, $"d").otherwise(lit(0.0)))
      .withColumn("l", when($"d" < 0, -$"d").otherwise(lit(0.0)))
      .withColumn("garr", collect_list($"g").over(wf))
      .withColumn("larr", collect_list($"l").over(wf))
      .withColumn("ag",
        aggregate(slice($"garr", 2, Lookback - 1), element_at($"garr", 1),
          (acc, x) => lit(rsiA) * x + lit(rsiOmA) * acc))
      .withColumn("al",
        aggregate(slice($"larr", 2, Lookback - 1), element_at($"larr", 1),
          (acc, x) => lit(rsiA) * x + lit(rsiOmA) * acc))
      .withColumn("rsi",
        when($"al" > 0, lit(100.0) - lit(100.0) / (lit(1.0) + $"ag" / $"al"))
          .when($"ag" > 0, lit(100.0))
          .otherwise(lit(50.0)))
      .select("bucket", "close", "rsi")
  }

  private[operators] val rsiSql: String =
    s"""WITH ohlc AS ($ohlcSql),
       |b AS (SELECT bucket, close,
       |        lag(close) OVER (ORDER BY bucket) AS pc FROM ohlc),
       |d AS (SELECT bucket, close,
       |        CASE WHEN pc IS NOT NULL THEN close - pc ELSE 0.0 END AS dd
       |      FROM b),
       |g AS (SELECT bucket, close,
       |        CASE WHEN dd > 0 THEN dd ELSE 0.0 END AS g,
       |        CASE WHEN dd < 0 THEN -dd ELSE 0.0 END AS l
       |      FROM d),
       |f AS (SELECT bucket, close,
       |  list_reduce(list(g) OVER wf,
       |    (acc, x) -> (1.0 / $RsiN.0) * x + (1.0 - 1.0 / $RsiN.0) * acc) AS ag,
       |  list_reduce(list(l) OVER wf,
       |    (acc, x) -> (1.0 / $RsiN.0) * x + (1.0 - 1.0 / $RsiN.0) * acc) AS al
       |  FROM g
       |  WINDOW wf AS (ORDER BY bucket
       |                ROWS BETWEEN ${Lookback - 1} PRECEDING AND CURRENT ROW))
       |SELECT bucket, close,
       |  CASE WHEN al > 0 THEN 100.0 - 100.0 / (1.0 + ag / al)
       |       WHEN ag > 0 THEN 100.0 ELSE 50.0 END AS rsi
       |FROM f""".stripMargin

  // MACD spans (Appel's 12/26/9 convention); 0.2/0.8 for the signal EMA
  // are exact binary-representable literals like the Holt constants.
  val MacdFast = 12
  val MacdSlow = 26
  val MacdSignal = 9
  private val macdAF: Double = 2.0 / (MacdFast + 1.0)
  private val macdOmF: Double = 1.0 - 2.0 / (MacdFast + 1.0)
  private val macdAS: Double = 2.0 / (MacdSlow + 1.0)
  private val macdOmS: Double = 1.0 - 2.0 / (MacdSlow + 1.0)
  private val macdAG: Double = 0.2
  private val macdOmG: Double = 0.8
  val SignalLookback: Int = 3 * MacdSignal

  /** MACD(12,26,9) over hourly closes (`bars_macd`) — convergence/
    * divergence of two adjust=False EMAs plus the 9-span signal line and
    * histogram. The fast/slow folds share ONE collected frame; the
    * signal line is a second bounded fold over the derived macd column
    * (EMA-of-EMA has no closed form, so the oracle replays the identical
    * two-level `list_reduce`). Same O(span) state story as [[emaDf]]. */
  private[operators] def macdDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wf = Window.orderBy($"bucket").rowsBetween(-(Lookback - 1), 0)
    val wfs = Window.orderBy($"bucket").rowsBetween(-(SignalLookback - 1), 0)
    ohlcDf(spark, dir)
      .withColumn("arr", collect_list($"close").over(wf))
      .withColumn("e12",
        aggregate(slice($"arr", 2, Lookback - 1), element_at($"arr", 1),
          (acc, x) => lit(macdAF) * x + lit(macdOmF) * acc))
      .withColumn("e26",
        aggregate(slice($"arr", 2, Lookback - 1), element_at($"arr", 1),
          (acc, x) => lit(macdAS) * x + lit(macdOmS) * acc))
      .withColumn("macd", $"e12" - $"e26")
      .withColumn("marr", collect_list($"macd").over(wfs))
      .withColumn("signal",
        aggregate(slice($"marr", 2, SignalLookback - 1),
          element_at($"marr", 1),
          (acc, x) => lit(macdAG) * x + lit(macdOmG) * acc))
      .withColumn("hist", $"macd" - $"signal")
      .select("bucket", "close", "macd", "signal", "hist")
  }

  private[operators] val macdSql: String =
    s"""WITH ohlc AS ($ohlcSql),
       |m AS (
       |  SELECT bucket, close,
       |    list_reduce(list(close) OVER wf,
       |      (acc, x) -> (2.0 / ${MacdFast + 1}.0) * x
       |                  + (1.0 - 2.0 / ${MacdFast + 1}.0) * acc)
       |    - list_reduce(list(close) OVER wf,
       |      (acc, x) -> (2.0 / ${MacdSlow + 1}.0) * x
       |                  + (1.0 - 2.0 / ${MacdSlow + 1}.0) * acc) AS macd
       |  FROM ohlc
       |  WINDOW wf AS (ORDER BY bucket
       |                ROWS BETWEEN ${Lookback - 1} PRECEDING AND CURRENT ROW)),
       |s AS (
       |  SELECT bucket, close, macd,
       |    list_reduce(list(macd) OVER wfs,
       |      (acc, x) -> 0.2 * x + 0.8 * acc) AS signal
       |  FROM m
       |  WINDOW wfs AS (ORDER BY bucket
       |                 ROWS BETWEEN ${SignalLookback - 1} PRECEDING AND CURRENT ROW))
       |SELECT bucket, close, macd, signal, macd - signal AS hist
       |FROM s""".stripMargin

  /** Bollinger window (Bollinger's 20-bar, 2-sigma convention). */
  val BollN = 20

  /** Bollinger bands (`bars_bollinger`): 20-bar rolling mean ± 2σ with
    * %B. Determinism is the exact-integer-cents canon: the window keeps
    * BIGINT sums of cents and squared cents (order-independent), and
    * every double (mid, sd, bands, %B) derives from those exact integers
    * with the textually identical op sequence on both engines — even the
    * catastrophic cancellation inside the variance is bit-identical
    * because its operands are. Window is over the bounded bucket domain
    * like every bars_* frame. */
  private[operators] def bollDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"bucket").rowsBetween(-(BollN - 1), 0)
    ohlcDf(spark, dir)
      .select($"bucket", round($"close" * 100).cast("long").as("close_cents"))
      .withColumn("s", sum($"close_cents").over(w))
      .withColumn("q", sum($"close_cents" * $"close_cents").over(w))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("mid", $"s" / $"n" / lit(100.0))
      .withColumn("sd",
        sqrt(greatest($"q" / $"n" - ($"s" / $"n") * ($"s" / $"n"), lit(0.0)))
          / lit(100.0))
      .withColumn("upper", $"mid" + lit(2.0) * $"sd")
      .withColumn("lower", $"mid" - lit(2.0) * $"sd")
      .withColumn("pct_b",
        when($"upper" > $"lower",
          ($"close_cents" / lit(100.0) - $"lower") / ($"upper" - $"lower")))
      .select("bucket", "close_cents", "mid", "lower", "upper", "pct_b")
  }

  private[operators] val bollSql: String =
    s"""WITH ohlc AS ($ohlcSql),
       |c AS (SELECT bucket, round(close * 100)::BIGINT AS close_cents FROM ohlc),
       |w AS (
       |  SELECT bucket, close_cents,
       |    (sum(close_cents) OVER wb)::BIGINT AS s,
       |    (sum(close_cents * close_cents) OVER wb)::BIGINT AS q,
       |    (count(*) OVER wb)::BIGINT AS n
       |  FROM c
       |  WINDOW wb AS (ORDER BY bucket
       |                ROWS BETWEEN ${BollN - 1} PRECEDING AND CURRENT ROW)),
       |d AS (
       |  SELECT bucket, close_cents,
       |    s / n / 100.0 AS mid,
       |    sqrt(greatest(q / n - (s / n) * (s / n), 0.0)) / 100.0 AS sd
       |  FROM w)
       |SELECT bucket, close_cents, mid,
       |  mid - 2.0 * sd AS lower, mid + 2.0 * sd AS upper,
       |  CASE WHEN mid + 2.0 * sd > mid - 2.0 * sd
       |       THEN (close_cents / 100.0 - (mid - 2.0 * sd))
       |            / ((mid + 2.0 * sd) - (mid - 2.0 * sd)) END AS pct_b
       |FROM d""".stripMargin

  /** Stochastic oscillator windows (Lane's 14/3 convention). */
  val StochN = 14
  val StochD = 3

  /** Stochastic %K/%D (`bars_stochastic`): where the close sits inside
    * the trailing 14-bar high-low range, plus the 3-bar smoothed %D.
    * %K derives from exact integer cents with one textual op sequence,
    * so it is bit-identical; %D deliberately averages the FLOORED
    * micro-%K integers (sum of exact longs / (n·1e6)) instead of raw
    * doubles — a windowed double avg sums in engine-private tree order
    * (DuckDB's segment tree vs Spark's fold), which is exactly the
    * half-boundary lottery the exact-integer canon exists to avoid.
    * Flat 14-bar ranges withhold %K (NULL) and drop out of %D's count
    * on both engines. */
  private[operators] def stochDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w14 = Window.orderBy($"bucket").rowsBetween(-(StochN - 1), 0)
    val w3 = Window.orderBy($"bucket").rowsBetween(-(StochD - 1), 0)
    ohlcDf(spark, dir)
      .select($"bucket",
        round($"close" * 100).cast("long").as("cc"),
        round($"high" * 100).cast("long").as("hc"),
        round($"low" * 100).cast("long").as("lc"))
      .withColumn("lo14", min($"lc").over(w14))
      .withColumn("hi14", max($"hc").over(w14))
      .withColumn("pct_k",
        when($"hi14" > $"lo14",
          ($"cc" - $"lo14") * lit(100.0) / ($"hi14" - $"lo14")))
      .withColumn("k_micro", floor($"pct_k" * lit(1000000.0)))
      .withColumn("pct_d",
        sum($"k_micro").over(w3) /
          (count($"k_micro").over(w3) * lit(1000000.0)))
      .select($"bucket", $"cc".as("close_cents"), $"pct_k", $"pct_d")
  }

  private[operators] val stochSql: String =
    s"""WITH ohlc AS ($ohlcSql),
       |c AS (SELECT bucket, round(close * 100)::BIGINT AS cc,
       |        round(high * 100)::BIGINT AS hc,
       |        round(low * 100)::BIGINT AS lc FROM ohlc),
       |k AS (SELECT bucket, cc,
       |        CASE WHEN max(hc) OVER w14 > min(lc) OVER w14
       |             THEN (cc - min(lc) OVER w14) * 100.0
       |                  / (max(hc) OVER w14 - min(lc) OVER w14) END AS pct_k
       |      FROM c
       |      WINDOW w14 AS (ORDER BY bucket
       |                     ROWS BETWEEN ${StochN - 1} PRECEDING AND CURRENT ROW)),
       |m AS (SELECT bucket, cc, pct_k,
       |        floor(pct_k * 1000000.0)::BIGINT AS k_micro FROM k)
       |SELECT bucket, cc AS close_cents, pct_k,
       |  (sum(k_micro) OVER w3)::BIGINT
       |    / ((count(k_micro) OVER w3)::BIGINT * 1000000.0) AS pct_d
       |FROM m
       |WINDOW w3 AS (ORDER BY bucket
       |              ROWS BETWEEN ${StochD - 1} PRECEDING AND CURRENT ROW)""".stripMargin

  /** Number of hourly bars per UTC day, the range-vol grouping key. */
  private val BarsPerDay: Long = DayUs / HourUs

  // Double literals written out so both engines use the identical
  // constant (ln() of a literal would differ at the ulp across libm):
  // 4*ln(2) and 2*ln(2)-1.
  private val FourLn2 = "2.772588722239781"
  private val TwoLn2M1 = "0.3862943611198906"

  // Final-stage formulas shared verbatim between the Spark selectExpr and
  // the DuckDB oracle, so every double op after the exact integer sums
  // has the same textual (hence IEEE) sequence on both engines.
  private val rangeVolFinal: Seq[String] = Seq(
    "day",
    "n_bars",
    s"sqrt(greatest(cast(pk_sum as double) / n_bars / 1e6 / $FourLn2, 0.0)) as vol_parkinson",
    "sqrt(greatest(cast(gk_sum as double) / n_bars / 1e6, 0.0)) as vol_gk",
    "sqrt(greatest(cast(rs_sum as double) / n_bars / 1e6, 0.0)) as vol_rs")

  /** Range-based volatility estimator triple (`bars_range_vol`): per-UTC-day
    * Parkinson, Garman–Klass and Rogers–Satchell estimates over the hourly
    * OHLC bars (the classical OHLC counterparts of the reference's
    * close-to-close realized vol, data_manager.py:747-772 — range
    * estimators are 5-8x more efficient per bar, Parkinson 1980 / Garman &
    * Klass 1980 / Rogers & Satchell 1991).
    *
    * Scale shape: one hash aggregation events→bars (map-side combined),
    * then a second tiny aggregation bars→days; nothing is windowed and no
    * global sort exists, so the plan is two shuffles over ever-shrinking
    * frames at any SF. Determinism is the exact-integer canon: each
    * per-bar log term is floored to 1e-6 units (ln() ulps across engines
    * live inside the flooring, the TF-IDF precedent), per-day sums are
    * order-independent BIGINT adds, and the final sqrt/divisions run the
    * shared textual op sequence on identical operands. GK terms can be
    * negative per bar (and pathologically per day), hence the
    * `greatest(_, 0)` guard on both sides. */
  private[operators] def rangeVolDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lhl = log($"high" / $"low")
    val lco = log($"close" / $"open")
    ohlcDf(spark, dir)
      // log-range terms are undefined on non-positive prices; low > 0
      // bounds every OHLC field away from zero (low <= open,close <= high)
      .filter($"low" > 0.0)
      .select(
        expr(s"bucket div $BarsPerDay").as("day"),
        floor(lhl * lhl * lit(1e6)).cast("long").as("pk_i"),
        floor((lit(0.5) * (lhl * lhl) - expr(TwoLn2M1) * (lco * lco)) * lit(1e6))
          .cast("long").as("gk_i"),
        floor((log($"high" / $"close") * log($"high" / $"open") +
          log($"low" / $"close") * log($"low" / $"open")) * lit(1e6))
          .cast("long").as("rs_i"))
      .groupBy($"day")
      .agg(
        count(lit(1)).as("n_bars"),
        sum($"pk_i").as("pk_sum"),
        sum($"gk_i").as("gk_sum"),
        sum($"rs_i").as("rs_sum"))
      .selectExpr(rangeVolFinal: _*)
  }

  private[operators] val rangeVolSql: String =
    s"""WITH ohlc AS ($ohlcSql),
       |t AS (SELECT bucket // $BarsPerDay AS day,
       |  floor(ln(high / low) * ln(high / low) * 1e6)::BIGINT AS pk_i,
       |  floor((0.5 * (ln(high / low) * ln(high / low)) -
       |         $TwoLn2M1 * (ln(close / open) * ln(close / open))) * 1e6)::BIGINT AS gk_i,
       |  floor((ln(high / close) * ln(high / open) +
       |         ln(low / close) * ln(low / open)) * 1e6)::BIGINT AS rs_i
       |  FROM ohlc WHERE low > 0),
       |d AS (SELECT day, count(*) AS n_bars, sum(pk_i)::BIGINT AS pk_sum,
       |        sum(gk_i)::BIGINT AS gk_sum, sum(rs_i)::BIGINT AS rs_sum
       |      FROM t GROUP BY 1)
       |SELECT ${rangeVolFinal.mkString(", ")} FROM d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bars_ohlc" -> (barsDf(_, _)),
    "bars_vwap" -> (vwapDf(_, _)),
    "bars_atr" -> (atrDf(_, _)),
    "bars_rv" -> (rvDf(_, _)),
    "bars_ema" -> (emaDf(_, _)),
    "bars_drawdown" -> (drawdownDf(_, _)),
    "bars_holt" -> (holtDf(_, _)),
    "bars_rsi" -> (rsiDf(_, _)),
    "bars_macd" -> (macdDf(_, _)),
    "bars_bollinger" -> (bollDf(_, _)),
    "bars_stochastic" -> (stochDf(_, _)),
    "bars_range_vol" -> (rangeVolDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "bars_ohlc" -> barsSql,
    "bars_vwap" -> vwapSql,
    "bars_atr" -> atrSql,
    "bars_rv" -> rvSql,
    "bars_ema" -> emaSql,
    "bars_drawdown" -> drawdownSql,
    "bars_holt" -> holtSql,
    "bars_rsi" -> rsiSql,
    "bars_macd" -> macdSql,
    "bars_bollinger" -> bollSql,
    "bars_stochastic" -> stochSql,
    "bars_range_vol" -> rangeVolSql
  )
}
