package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.RollingZ
import graft.sources.Tables
import graft.state.Fsm
import graft.state.Fsm.FsmIn
import graft.OpModule

/** Multi-symbol end-to-end proof (the scale claim every ordered-window
  * scaladoc makes, demonstrated and hash-checked): a 4-symbol view of the
  * events table (symbol = 'S' || user_id % 4 — deterministic on both
  * engines) runs the FULL fused scoring cascade and the position FSM
  * keyed by symbol.
  *
  *  - `fused_multi`: per-(symbol, hour) bars -> per-symbol windowed
  *    signals (ATR% with rv fallback, rolling population z, CVD, the
  *    bar-grain LV analog the live fold uses) -> [[Scores.scored]] — the
  *    SAME Column cascade the single-symbol `fusion_scores` runs (and the
  *    same SQL text via [[Scores.cascadeSql]]); the symbol column simply
  *    rides along. Book / long-memory families are NULL here (the events
  *    table has no book feed), exercising the cascade's None-skipping
  *    weight renormalization per symbol.
  *  - `fsm_position_events_keyed`: the position FSM over that frame via
  *    `flatMapSortedGroups(_.symbol)` — N symbols fold as N independent
  *    state entries in parallel — hash-checked against the per-symbol
  *    recursive-CTE oracle ([[Stateful.fsmCteSql]]: seed row per symbol,
  *    `PARTITION BY symbol` rank, keyed recursive join).
  *
  * Scale shape: ONE shuffle of raw events onto (symbol, bucket); every
  * window frame partitions by symbol (no global ordering anywhere); the
  * FSM fold streams each symbol's history through the shuffle's sort.
  * This is exactly the plan a 1000-symbol, 100 TB corpus runs — the 4
  * symbols here are the checkable miniature.
  */
object MultiSym extends OpModule {
  import Flow.HourUs
  import Tables.BuySql

  val NSym = 4

  /** Per-(symbol, hour) OHLC + taker-flow bars; tie-breaks on event_id
    * like [[Bars.ohlcDf]] so both engines pick identical open/close. */
  private def kbarsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.eventsWithSide(spark, dir)
      .withColumn("symbol", concat(lit("S"), col("user_id") % NSym))
      .groupBy($"symbol", expr(s"ts_us div $HourUs").as("bucket"))
      .agg(
        min_by($"value", $"event_id").as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max_by($"value", $"event_id").as("close"),
        sum($"value").as("volume"),
        sum(when($"is_buy", $"value").otherwise(0.0)).as("buy_vol"),
        sum(when(!$"is_buy", $"value").otherwise(0.0)).as("sell_vol"),
        Flow.DeltaCents.as("dc"))
  }

  /** The keyed signal frame: every window partitions by symbol. Formula
    * sources: ATR/rv = [[Bars.atrDf]]; z = [[RollingZ]] per symbol over
    * the hour's delta in cents (the kernel behind [[Flow.zscoreDf]]);
    * CVD = [[Flow]]'s clamp; lv = the bar-grain analog
    * volume/(high-low+eps) ([[graft.state.Fusion.step]]). */
  private def sigDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wS = Window.partitionBy($"symbol").orderBy($"bucket")
    val wAtr = wS.rowsBetween(-(Bars.AtrN - 1), 0)
    val wRv = wS.rowsBetween(-(Bars.RvN - 1), 0)
    kbarsDf(spark, dir)
      .withColumn("pc", lag($"close", 1).over(wS))
      .withColumn("tr",
        when($"pc".isNotNull,
          greatest($"high" - $"low", abs($"high" - $"pc"), abs($"low" - $"pc"))))
      .withColumn("ret",
        when($"pc".isNotNull && $"pc" =!= 0.0, ($"close" - $"pc") / $"pc"))
      .withColumn("n_tr", count($"tr").over(wAtr))
      .withColumn("rv", stddev_pop($"ret").over(wRv) * expr(Bars.RvScale))
      .withColumn("atr_pct",
        when($"n_tr" >= Bars.AtrN, avg($"tr").over(wAtr) / $"close")
          .otherwise($"rv"))
      .withColumn("delta", $"buy_vol" - $"sell_vol")
      .withColumn("z", RollingZ.z($"dc", $"bucket", Some($"symbol")))
      .withColumn("cvd",
        coalesce(
          least(greatest($"delta" /
            when($"buy_vol" + $"sell_vol" =!= 0.0, $"buy_vol" + $"sell_vol"),
            lit(-1.0)), lit(1.0)),
          lit(0.0)))
      .withColumn("lv_1h", $"volume" / ($"high" - $"low" + 1e-6))
      .withColumn("imbalance", lit(null).cast("double"))
      .withColumn("bid_wall", lit(null).cast("double"))
      .withColumn("ask_wall", lit(null).cast("double"))
      .withColumn("bid_touch_ok", lit(null).cast("boolean"))
      .withColumn("ask_touch_ok", lit(null).cast("boolean"))
      .withColumn("bos", lit(null).cast("double"))
      .withColumn("hurst", lit(null).cast("double"))
  }

  /** Cascade over the keyed frame, memoized: feeds both queries. */
  private def scoredShared(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"multisym:$dir")(
      Scores.scored(sigDf(spark, dir), spark))

  private val outCols = Seq("symbol", "bucket", "close", "z", "cvd",
    "lv_1h", "atr_pct", "regime", "core_long", "core_short", "fused_long",
    "fused_short", "kelly_long", "kelly_short", "winprob_long",
    "winprob_short", "total_long", "total_short", "side")

  private def fusedMultiDf(spark: SparkSession, dir: String): DataFrame =
    scoredShared(spark, dir).select(outCols.map(col): _*)

  private def fsmKeyedDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scoredShared(spark, dir)
      .select($"bucket", $"close", $"high", $"low", $"side",
        $"total_long", $"total_short",
        ($"regime" === "HIGH").as("trail_arm"), $"symbol")
      .as[FsmIn]
      .groupByKey(_.symbol)
      .flatMapSortedGroups(col("bucket"))((_: String, it: Iterator[FsmIn]) =>
        Fsm.run(it))
      .toDF()
  }

  // ---- SQL twins ----

  private val ksigSql: String =
    s"""kb AS (
       |  SELECT 'S' || (user_id % $NSym) AS symbol,
       |    epoch_us(ts) // $HourUs AS bucket,
       |    arg_min(value, event_id) AS open, max(value) AS high,
       |    min(value) AS low, arg_max(value, event_id) AS close,
       |    sum(value) AS volume,
       |    sum(CASE WHEN $BuySql THEN value ELSE 0.0 END) AS buy_vol,
       |    sum(CASE WHEN $BuySql THEN 0.0 ELSE value END) AS sell_vol
       |  FROM events GROUP BY 1, 2),
       |kt AS (
       |  SELECT *, lag(close) OVER (PARTITION BY symbol ORDER BY bucket) AS pc
       |  FROM kb),
       |kt2 AS (
       |  SELECT *,
       |    CASE WHEN pc IS NOT NULL
       |         THEN greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr,
       |    CASE WHEN pc IS NOT NULL AND pc <> 0.0
       |         THEN (close - pc) / pc END AS ret,
       |    buy_vol - sell_vol AS delta
       |  FROM kt),
       |ksig AS (
       |  SELECT symbol, bucket, close, high, low,
       |    CASE WHEN count(tr) OVER wa >= ${Bars.AtrN}
       |         THEN (avg(tr) OVER wa) / close
       |         ELSE stddev_pop(ret) OVER wr * ${Bars.RvScale} END AS atr_pct,
       |    CASE WHEN count(*) OVER wz >= 30 AND stddev_pop(delta) OVER wz > 0
       |         THEN round((delta - avg(delta) OVER wz)
       |                      / stddev_pop(delta) OVER wz, 6) END AS z,
       |    coalesce(least(greatest(delta / nullif(buy_vol + sell_vol, 0.0),
       |      -1.0), 1.0), 0.0) AS cvd,
       |    volume / (high - low + 1e-6) AS lv_1h,
       |    CAST(NULL AS DOUBLE) AS imbalance, CAST(NULL AS DOUBLE) AS bid_wall,
       |    CAST(NULL AS DOUBLE) AS ask_wall,
       |    CAST(NULL AS BOOLEAN) AS bid_touch_ok,
       |    CAST(NULL AS BOOLEAN) AS ask_touch_ok,
       |    CAST(NULL AS DOUBLE) AS bos, CAST(NULL AS DOUBLE) AS hurst
       |  FROM kt2
       |  WINDOW
       |    wa AS (PARTITION BY symbol ORDER BY bucket
       |           ROWS BETWEEN ${Bars.AtrN - 1} PRECEDING AND CURRENT ROW),
       |    wr AS (PARTITION BY symbol ORDER BY bucket
       |           ROWS BETWEEN ${Bars.RvN - 1} PRECEDING AND CURRENT ROW),
       |    wz AS (PARTITION BY symbol ORDER BY bucket
       |           ROWS BETWEEN 2999 PRECEDING AND CURRENT ROW))""".stripMargin

  /** The keyed signals + the SAME cascade text as `fusion_scores`. */
  private val scoredKSql: String =
    s"""WITH $ksigSql,
       |${Scores.cascadeSql("ksig")}""".stripMargin

  private val fusedMultiSql: String =
    s"""SELECT ${outCols.mkString(", ")} FROM ($scoredKSql) q""".stripMargin

  private val fsmKeyedSql: String = Stateful.fsmCteSql(
    s"""SELECT symbol, bucket, close, high, low, side,
       |  total_long, total_short, regime = 'HIGH' AS trail_arm
       |FROM ($scoredKSql) q""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fused_multi" -> (fusedMultiDf(_, _)),
    "fsm_position_events_keyed" -> (fsmKeyedDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "fused_multi" -> fusedMultiSql,
    "fsm_position_events_keyed" -> fsmKeyedSql
  )
}
