package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Scores
import graft.state.{Fsm, Fusion}
import graft.state.Fsm.{FsmEvent, FsmIn, PosState, TrendIn, TrendOut, TrendState}

/** Structured Streaming pipeline pieces (SURVEY.md §2.9): the live-mode
  * twins of the batch operators, built so the two modes share semantics:
  *
  *  - event-time windowed aggregations with watermarks: the reference's
  *    deque-with-time-cutoff buffers map 1:1 to
  *    `withWatermark(ts, grace)` + `window(ts, len)` — the watermark
  *    *is* the eviction policy (data_manager.py:627-671), and state is
  *    bounded per (symbol, window) at any scale.
  *  - incremental EMA via `flatMapGroupsWithState`: the reference rescans
  *    its window per tick (O(window)); the streaming fold carries one
  *    (value) state per symbol — O(1) per event, the SURVEY §4
  *    "improved" plan.
  *  - the position FSM and trend hysteresis as `flatMapGroupsWithState`
  *    over the SAME pure `Fsm.step`/`Fsm.trendStep` used by batch replay
  *    — SURVEY §7.4(3): the FSM is a function of (state, ordered events),
  *    so batch and streaming cannot drift apart.
  *
  * Sinks: `writeStream.format("parquet")` append for the Trades /
  * Parameters tables; the Daily Summary upsert and alert throttle are
  * `foreachBatch` concerns (demonstrated in the spec).
  *
  * State-lifetime policy (the "why NoTimeout" ledger):
  *  - PER-SYMBOL operators (alert throttle, log forwarder, z-score,
  *    EMA, position FSM, trend hysteresis, diff, LV ring, fusion) key
  *    by the trading-symbol universe — an operator-curated, bounded
  *    key space — and hold O(1)-or-bounded-ring state per key, so
  *    total state is bounded by construction and `NoTimeout` is
  *    correct forever; a TTL would only add restart-from-cold
  *    semantics the reference does not have.
  *  - CONTENT-KEYED monitors ([[lshMonitor]], [[phashMonitor]],
  *    [[docIngest]]) key by content-derived hashes whose domain grows
  *    with distinct corpus; each takes a `retention` dial (state TTL /
  *    dedup horizon) for unbounded streams, defaulting to full-history
  *    semantics for bounded-corpus replays. [[kmvMonitor]] /
  *    [[histMonitor]] / [[cmsMonitor]] carry sketch- or grid-bounded
  *    state (documented per site).
  *  - INDEX-KEYED monitors ([[layoutMonitor]], [[vecMonitor]]) key by
  *    the standing index's granule/cell ids — a bounded, index-sized
  *    key space with O(1) state per key, the first bullet's argument.
  *  - ENTITY-KEYED monitors ([[funnelMonitor]]) key by user — bounded
  *    per key but population-unbounded, so they take the same
  *    `retention` dial as the content-keyed family.
  */
object Streams {

  /** The retention dial's one deployment footgun, surfaced at build
    * time instead of as a silent CPU burn: ProcessingTimeTimeout under
    * the default ASAP trigger makes the engine spin no-data
    * micro-batches polling for expiry (and test harnesses calling
    * processAllAvailable never return). */
  private def warnAsapRetention(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
        .forall(_ == "true"))
      org.slf4j.LoggerFactory.getLogger("graft.streaming.Streams").warn(
        "monitor retention with no-data micro-batches enabled: pair with " +
          "Trigger.ProcessingTime or set " +
          "spark.sql.streaming.noDataMicroBatches.enabled=false, or the " +
          "default ASAP trigger spins empty batches polling state expiry")

  /** Event-time-sort ONLY the trigger's slice, in place. In a
    * `flatMapGroupsWithState` body the iterator holds this micro-batch's
    * rows for the key — never the group's history (that lives in the
    * state store) — so the buffer is bounded by rows-per-trigger-per-key
    * regardless of how long the stream has run. The in-place sort avoids
    * the extra copy a `sortBy` would allocate per trigger. */
  private def sortedSlice[T](it: Iterator[T])(key: T => Long)(
      implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val rows = it.toArray
    rows.sortInPlaceBy(key)
    rows
  }

  /** Trade wire schema (SURVEY §1.1 #1). */
  case class Trade(symbol: String, ts: Timestamp, price: Double, qty: Double,
      isBuyerMaker: Boolean)

  /** Watermarked per-10s taker delta (streaming twin of flow_delta;
    * strategy.py:1000-1021). Append mode emits a window only once the
    * watermark passes — late rows within the grace update it, later rows
    * are dropped, exactly the reference's retention slack. */
  def takerDelta(trades: Dataset[Trade], watermark: String = "2 minutes"): DataFrame = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", "10 seconds"), $"symbol")
      .agg(
        sum(when(!$"isBuyerMaker", $"qty").otherwise(0.0)).as("buy_vol"),
        sum(when($"isBuyerMaker", $"qty").otherwise(0.0)).as("sell_vol"))
      .withColumn("delta", $"buy_vol" - $"sell_vol")
      .select($"window.start".as("win_start"), $"symbol", $"buy_vol",
        $"sell_vol", $"delta")
  }

  /** Tumbling 1-minute OHLC bars from the trade stream (streaming twin of
    * bars_ohlc; data_manager.py:788-801). */
  def ohlcBars(trades: Dataset[Trade], watermark: String = "2 minutes"): DataFrame = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", "1 minute"), $"symbol")
      .agg(
        // tie-break on (ts, price), not ts alone: Trade has no sequence
        // field, and a ts-only min_by is nondeterministic across replays
        // when two trades share a millisecond (the batch twin tie-breaks
        // on event_id; this is the documented streaming equivalent)
        min_by($"price", struct($"ts", $"price")).as("open"),
        max($"price").as("high"),
        min($"price").as("low"),
        max_by($"price", struct($"ts", $"price")).as("close"),
        sum($"qty").as("volume"))
      .select($"window.start".as("bar_start"), $"symbol", $"open", $"high",
        $"low", $"close", $"volume")
  }

  /** Sliding-window CVD (SURVEY §2.9 "sliding windows"): a 60-second
    * window sliding every 10 seconds — each event contributes to six
    * overlapping windows, all maintained incrementally in the state
    * store (aether_oracle.py:123-153's "last N seconds" rescan,
    * declaratively). */
  def slidingCvd(trades: Dataset[Trade], watermark: String = "2 minutes"): DataFrame = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", "60 seconds", "10 seconds"), $"symbol")
      .agg(
        sum(when(!$"isBuyerMaker", $"qty").otherwise(0.0)).as("buy_vol"),
        sum(when($"isBuyerMaker", $"qty").otherwise(0.0)).as("sell_vol"))
      .withColumn("cvd",
        coalesce(
          least(greatest(($"buy_vol" - $"sell_vol") /
            when($"buy_vol" + $"sell_vol" =!= 0.0, $"buy_vol" + $"sell_vol"),
            lit(-1.0)), lit(1.0)),
          lit(0.0)))
      .select($"window.start".as("win_start"), $"symbol", $"buy_vol",
        $"sell_vol", $"cvd")
  }

  case class Alert(symbol: String, ts: Timestamp, message: String)
  case class ThrottleState(lastEmitMs: Long)

  /** Throttled alert sink feed (telegram_notifier.py:87-103: >= WARNING
    * with a global 5 s throttle): keyed state holds only the last emit
    * time; alerts inside the throttle window drop. Sink-side rate
    * limiting expressed as a streaming operator so the decision is
    * replayable and testable. */
  def throttledAlerts(alerts: Dataset[Alert],
      throttleMs: Long = 5000L): Dataset[Alert] = {
    val spark = alerts.sparkSession
    import spark.implicits._
    alerts
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, // bounded per-symbol key space:
        GroupStateTimeout.NoTimeout)( // see the state-lifetime ledger above
        (_: String, it: Iterator[Alert], state: GroupState[ThrottleState]) => {
          // Option, not a Long.MinValue sentinel: ts - MinValue overflows
          var last: Option[Long] = state.getOption.map(_.lastEmitMs)
          val out = sortedSlice(it)(_.ts.getTime).flatMap { a =>
            if (last.forall(l => a.ts.getTime - l >= throttleMs)) {
              last = Some(a.ts.getTime)
              Some(a)
            } else None
          }
          last.foreach(l => state.update(ThrottleState(l)))
          out.iterator
        })
  }

  case class LogRecord(source: String, ts: Timestamp, level: String,
      message: String)

  val LevelRank: Map[String, Int] = Map("DEBUG" -> 0, "INFO" -> 1,
    "WARNING" -> 2, "ERROR" -> 3, "CRITICAL" -> 4)

  /** Throttled log-forwarding sink feed (telegram_notifier.py:84-102's
    * log handler: only records at or above WARNING forward, under ONE
    * GLOBAL 5 s throttle across all loggers — the handler keeps a single
    * last-sent time, not one per source, so the default here keys the
    * state on a constant). The severity filter runs BEFORE the throttle,
    * so DEBUG/INFO floods never consume throttle slots — exactly the
    * handler's level check ordering. Unknown levels are dropped (rank
    * below every threshold).
    *
    * `perSource = true` is the documented scale deviation: one throttle
    * state per source parallelizes across the cluster, at the cost of
    * forwarding up to one record per source per window instead of one
    * total. The global default matches the reference; a real fleet-wide
    * deployment would flip it. */
  def forwardedLogs(logs: Dataset[LogRecord], minLevel: String = "WARNING",
      throttleMs: Long = 5000L, perSource: Boolean = false): Dataset[LogRecord] = {
    val spark = logs.sparkSession
    import spark.implicits._
    val min = LevelRank(minLevel)
    logs
      .filter(r => LevelRank.getOrElse(r.level, -1) >= min)
      .groupByKey(r => if (perSource) r.source else "GLOBAL")
      .flatMapGroupsWithState(OutputMode.Append, // bounded per-symbol key space:
        GroupStateTimeout.NoTimeout)( // see the state-lifetime ledger above
        (_: String, it: Iterator[LogRecord],
            state: GroupState[ThrottleState]) => {
          var last: Option[Long] = state.getOption.map(_.lastEmitMs)
          val out = sortedSlice(it)(_.ts.getTime).flatMap { r =>
            if (last.forall(l => r.ts.getTime - l >= throttleMs)) {
              last = Some(r.ts.getTime)
              Some(r)
            } else None
          }
          last.foreach(l => state.update(ThrottleState(l)))
          out.iterator
        })
  }

  case class DeltaRow(symbol: String, win_start: Timestamp, delta: Double)
  case class ZState(ring: Seq[Double])
  case class ZOut(symbol: String, win_start: Timestamp, delta: Double,
      z: Option[Double], signal: String)

  /** Rolling z-score with the batch estimator's exact semantics: keyed
    * state holds the trailing-3000 delta ring (~24 KB/symbol, the
    * reference's population deque), so the live population is the same
    * trailing 3000 rows as the batch kernel [[graft.functions.RollingZ]]
    * (ddof=0, min 30; there exact integer-cent prefix sums differenced
    * 3000 rows back) — not a growing-window approximation that drifts
    * from the replay. Moments are recomputed over the ring per finalized
    * window — O(3000) doubles once per 10 s per symbol, deliberately chosen
    * over a Welford add-remove running form: exact, drift-free, and
    * negligible at window cadence (this is NOT a per-tick cost). Rows
    * within a trigger fold in event-time order. */
  def zscoreStream(deltas: Dataset[DeltaRow]): Dataset[ZOut] = {
    val spark = deltas.sparkSession
    import spark.implicits._
    deltas
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, // bounded per-symbol key space:
        GroupStateTimeout.NoTimeout)( // see the state-lifetime ledger above
        (symbol: String, it: Iterator[DeltaRow], state: GroupState[ZState]) => {
          var ring = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty)
          val out = sortedSlice(it)(_.win_start.getTime).map { d =>
            val (next, z) = Fusion.zPush(ring, d.delta)
            ring = next
            val signal = z match {
              case Some(v) if v >= Scores.ZGate => "LONG"
              case Some(v) if v <= -Scores.ZGate => "SHORT"
              case _ => "NONE"
            }
            ZOut(symbol, d.win_start, d.delta, z, signal)
          }
          state.update(ZState(ring))
          out.iterator
        })
  }

  case class EmaState(ema: Double)
  case class EmaOut(symbol: String, ts: Timestamp, price: Double, ema: Double)

  /** Incremental EMA: one double of state per symbol, exact
    * `ewm(adjust=False)` recursion (data_manager.py:721-745) — O(1) per
    * event instead of the reference's per-tick window rescan. Rows within
    * a trigger batch fold in event-time order. */
  def emaStream(trades: Dataset[Trade], span: Int = 20): Dataset[EmaOut] = {
    val spark = trades.sparkSession
    import spark.implicits._
    val alpha = 2.0 / (span + 1.0)
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, // bounded per-symbol key space:
        GroupStateTimeout.NoTimeout)( // see the state-lifetime ledger above
        (symbol: String, it: Iterator[Trade], state: GroupState[EmaState]) => {
          var ema = state.getOption.map(_.ema)
          val out = sortedSlice(it)(_.ts.getTime).map { t =>
            val next = ema match {
              case Some(e) => alpha * t.price + (1.0 - alpha) * e
              case None => t.price
            }
            ema = Some(next)
            EmaOut(symbol, t.ts, t.price, next)
          }
          state.update(EmaState(ema.getOrElse(0.0)))
          out.iterator
        })
  }

  /** Position FSM over a keyed signal stream: the same `Fsm.step` as the
    * batch replay, with keyed state in the state store — keyed by the
    * DATA's symbol, so N symbols fold as N independent state entries in
    * parallel tasks (the reference is single-symbol by config, so its
    * rows default to one key). In live mode the 10-bucket time stop would
    * add a ProcessingTimeTimeout; the pure transition already handles it
    * from event time. */
  def positionEvents(signals: Dataset[FsmIn]): Dataset[FsmEvent] = {
    val spark = signals.sparkSession
    import spark.implicits._
    signals
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, // bounded per-symbol key space:
        GroupStateTimeout.NoTimeout)( // see the state-lifetime ledger above
        (_: String, it: Iterator[FsmIn], state: GroupState[PosState]) => {
          var st = state.getOption.getOrElse(Fsm.initState)
          val evs = sortedSlice(it)(_.bucket).flatMap { i =>
            val (st2, ev) = Fsm.step(st, i)
            st = st2
            ev
          }
          state.update(st)
          evs.iterator
        })
  }

  /** Trend hysteresis over a keyed raw-trend stream (data_manager.py:
    * 1047-1067) — `Fsm.trendStep` with keyed state. */
  def trendStream(raw: Dataset[TrendIn]): Dataset[TrendOut] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, // bounded per-symbol key space:
        GroupStateTimeout.NoTimeout)( // see the state-lifetime ledger above
        (_: String, it: Iterator[TrendIn], state: GroupState[TrendState]) => {
          var st = state.getOption.getOrElse(Fsm.trendInit)
          val out = sortedSlice(it)(_.bucket).map { i =>
            st = Fsm.trendStep(st, i.raw)
            TrendOut(i.bucket, i.raw, st.confirmed, i.symbol)
          }
          state.update(st)
          out.iterator
        })
  }

  // ---- exact streaming twins of flow_lv / flow_volrate ----

  case class TradeDp(symbol: String, ts: Timestamp, qty: Double, dp: Double)
  case class PrevPx(tsMs: Long, price: Double)

  /** Per-trade |ΔP| via ONE (ts, price) pair of keyed state — the lag the
    * batch `flow_lv` computes with a partitioned window. Each
    * consecutive-pair |ΔP| belongs to the LATER trade (Flow.lvDf's
    * documented convention), so any downstream windowed sum of `dp` rolls
    * up exactly — including across bar boundaries, with no special
    * boundary handling. The first trade of a symbol contributes dp = 0
    * (the batch side's coalesced NULL lag).
    *
    * A trade older than the state's watermark-of-one (the last processed
    * ts) is SKIPPED entirely: the downstream windowed aggregation's
    * watermark would drop its row anyway, and letting it mutate the
    * prev-price state would permanently skew every subsequent on-time
    * trade's dp — late data must not corrupt what it cannot change. */
  def diffStream(trades: Dataset[Trade]): Dataset[TradeDp] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, // bounded per-symbol key space:
        GroupStateTimeout.NoTimeout)( // see the state-lifetime ledger above
        (symbol: String, it: Iterator[Trade], state: GroupState[PrevPx]) => {
          var prev: Option[PrevPx] = state.getOption
          val out = sortedSlice(it)(_.ts.getTime).flatMap { t =>
            if (prev.exists(_.tsMs > t.ts.getTime)) None // late: see above
            else {
              val dp = prev.map(p => math.abs(t.price - p.price)).getOrElse(0.0)
              prev = Some(PrevPx(t.ts.getTime, t.price))
              Some(TradeDp(symbol, t.ts, t.qty, dp))
            }
          }
          prev.foreach(state.update)
          out.iterator
        })
  }

  case class LvBarIn(symbol: String, win_start: Timestamp, qty: Double,
      dp: Double)

  /** Tumbling per-bar (Σqty, Σdp) over the diffed trade stream — the q15
    * rollup of the batch flow_lv plan at the stream's bar grain. */
  def lvWindows(diffs: Dataset[TradeDp], barLen: String = "1 minute",
      watermark: String = "2 minutes"): Dataset[LvBarIn] = {
    val spark = diffs.sparkSession
    import spark.implicits._
    diffs
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", barLen), $"symbol")
      .agg(sum($"qty").as("qty"), sum($"dp").as("dp"))
      .select($"symbol", $"window.start".as("win_start"), $"qty", $"dp")
      .as[LvBarIn]
  }

  case class LvOut(symbol: String, win_start: Timestamp, qty: Double,
      dp: Double, lv_1m: Double, lv_5m: Double, lv_15m: Double,
      micro_trap: Boolean, vol_factor: Double)
  case class LvState(ring: Seq[(Double, Double)], volRing: Seq[Double])

  /** EXACT multi-TF liquidity velocity + volume-rate ratio over the bar
    * stream (aether_oracle.py:77-121, data_manager.py:1005-1035), one
    * keyed fold over [[graft.state.Fusion.lvStep]] — the SAME kernel the
    * fused pipeline uses, so the standalone lv table and the fused
    * stream's lv_* columns cannot drift: rings of the trailing
    * (qty, dp) pairs and qtys; LV_n = Σqty(n)/(Σdp(n)+1e-6) (the batch
    * `flow_lv` sum-over-sum rollup, never an average of per-bar ratios);
    * micro_trap = lv_1 > 1.5·lv_5; vol_factor = clamp(bar qty /
    * trailing-24-bar mean, 0.5, 2.0) — `flow_volrate`'s formula with the
    * /sec normalization cancelled at one grain. StreamingSpec asserts
    * equivalence against the batch frames on the same input, including
    * across trigger boundaries. */
  def lvStream(bars: Dataset[LvBarIn]): Dataset[LvOut] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, // bounded per-symbol key space:
        GroupStateTimeout.NoTimeout)( // see the state-lifetime ledger above
        (symbol: String, it: Iterator[LvBarIn], state: GroupState[LvState]) => {
          var ring = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty)
          var volRing = state.getOption.map(_.volRing.toVector)
            .getOrElse(Vector.empty)
          val out = sortedSlice(it)(_.win_start.getTime).map { b =>
            val lv = Fusion.lvStep(ring, volRing, b.qty, b.dp)
            ring = lv.ring
            volRing = lv.volRing
            LvOut(symbol, b.win_start, b.qty, b.dp, lv.lv1, lv.lv5, lv.lv15,
              lv.microTrap, lv.volFactor)
          }
          state.update(LvState(ring, volRing))
          out.iterator
        })
  }

  /** One order-book level update (SURVEY §1.1 #3's stream form): side,
    * level quantity, and a monotone per-symbol sequence for
    * deterministic tie-breaks (the reference's book updates arrive
    * sequenced, data_manager.py:484-485). */
  case class BookLevel(symbol: String, ts: Timestamp, is_bid: Boolean,
      qty: Double, seq: Long)

  /** Watermarked STREAM-STREAM interval join (SURVEY §2.4's
    * book⋈trade correlation in live mode): each trade pairs with its
    * symbol's book-level updates from the `lookback` window ending at
    * the trade — "what did the book do just before this print", the
    * correlation the batch `join_interval`/as-of family answers over
    * history, here answered while both sides are still streams.
    *
    * Scale shape: Spark co-partitions both streams on the symbol
    * equi-key and runs a symmetric hash join whose state store holds
    * only rows still joinable under the watermark + range bound —
    * per-symbol state is bounded by (watermark + lookback) of traffic,
    * evicted as the watermark advances, at any stream length. The
    * range predicate rides IN the join condition (both `b_ts >= t_ts -
    * lookback` and `b_ts <= t_ts`), which is what lets the engine
    * derive each side's state retention instead of keeping history
    * forever. StreamingSpec replays a fixture through micro-batches
    * and proves the emitted pairs are exactly the batch join of the
    * same rows. */
  def tradeBookJoin(trades: Dataset[Trade], books: Dataset[BookLevel],
      lookback: String = "30 seconds",
      watermark: String = "2 minutes"): DataFrame = {
    val spark = trades.sparkSession
    import spark.implicits._
    val t = trades.withWatermark("ts", watermark)
      .select($"symbol", $"ts".as("t_ts"), $"price", $"qty".as("t_qty"),
        $"isBuyerMaker")
    val b = books.withWatermark("ts", watermark)
      .select($"symbol".as("b_symbol"), $"ts".as("b_ts"), $"is_bid",
        $"qty".as("b_qty"), $"seq")
    t.join(b,
      $"symbol" === $"b_symbol" &&
        $"b_ts" >= $"t_ts" - expr(s"INTERVAL $lookback") &&
        $"b_ts" <= $"t_ts")
      .select($"symbol", $"t_ts", $"price", $"t_qty", $"isBuyerMaker",
        $"b_ts", $"is_bid", $"b_qty", $"seq",
        ($"t_ts".cast("double") - $"b_ts".cast("double")).as("quote_age_s"))
  }

  /** Book pressure at the print — the stream-stream join chained into a
    * SECOND stateful operator: per (symbol, 1-minute window of trade
    * time), how many prints landed, how much bid-vs-ask book mass their
    * lookback windows saw, and the mean quote age. This is the chained-
    * stateful shape (join → windowed agg, both watermarked) that turns
    * the raw pair stream into an operator a dashboard actually reads;
    * the spec proves the chain end-to-end equal to the batch pipeline
    * over the same rows. State stays bounded on both rungs: the join
    * retains (watermark + lookback) per symbol, the aggregation one row
    * per open (window, symbol). */
  def bookPressure(trades: Dataset[Trade], books: Dataset[BookLevel],
      lookback: String = "30 seconds",
      watermark: String = "2 minutes"): DataFrame = {
    val spark = trades.sparkSession
    import spark.implicits._
    tradeBookJoin(trades, books, lookback, watermark)
      .groupBy(window($"t_ts", "1 minute"), $"symbol")
      .agg(
        // row count, not countDistinct: distinct aggregates are not
        // streamable (unbounded per-group state); pair count is exact
        // on both paths
        count(lit(1)).as("n_pairs"),
        sum(when($"is_bid", $"b_qty").otherwise(-$"b_qty")).as("book_bias"),
        avg($"quote_age_s").as("mean_quote_age_s"))
      .select($"window.start".as("win_start"), $"symbol", $"n_pairs",
        $"book_bias", $"mean_quote_age_s")
  }

  /** The book AT the print — the STREAMING as-of join: for each trade,
    * the latest book update of its symbol at or before the trade
    * (within `lookback`), while both sides are still streams. Batch
    * as-of (`join_asof`) sorts history; live mode composes the
    * watermarked interval join with a per-trade `max_by` — the trade's
    * group closes when the joint watermark passes its timestamp, so
    * every emitted row has seen ALL its in-bound quotes exactly once.
    * Inner semantics match the batch twin: a trade with no quote in its
    * lookback does not emit (the reference's hot path reads "last book
    * state", which does not exist yet for such a print). `n_quotes`
    * rides along so an operator can see how much book context each
    * print actually had. */
  def bookAtPrint(trades: Dataset[Trade], books: Dataset[BookLevel],
      lookback: String = "30 seconds",
      watermark: String = "2 minutes"): DataFrame = {
    val spark = trades.sparkSession
    import spark.implicits._
    tradeBookJoin(trades, books, lookback, watermark)
      .groupBy($"symbol", $"t_ts", $"price", $"t_qty", $"isBuyerMaker")
      .agg(
        // deterministic as-of pick: latest (b_ts, seq) wins — seq breaks
        // same-millisecond update ties, mirroring the batch side's
        // sequenced book feed
        max_by(struct($"b_ts", $"seq", $"is_bid", $"b_qty"),
          struct($"b_ts", $"seq")).as("bk"),
        count(lit(1)).as("n_quotes"))
      .select($"symbol", $"t_ts", $"price", $"t_qty", $"isBuyerMaker",
        $"bk.b_ts".as("book_ts"), $"bk.seq".as("book_seq"),
        $"bk.is_bid".as("book_is_bid"), $"bk.b_qty".as("book_qty"),
        $"n_quotes")
  }

  /** Trades and book updates unified into one wire row, so ONE windowed
    * aggregation (one shuffle on the (window, symbol) key) produces
    * every per-bar signal input — including the book arrays — instead
    * of a stream-stream join of two windowed aggregates on the window
    * key. */
  case class MarketEvent(symbol: String, ts: Timestamp, price: Double,
      qty: Double, isBuyerMaker: Boolean, is_trade: Boolean,
      is_bid: Boolean, seq: Long)

  def asMarketEvents(trades: Dataset[Trade]): Dataset[MarketEvent] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades.map(t => MarketEvent(t.symbol, t.ts, t.price, t.qty,
      t.isBuyerMaker, is_trade = true, is_bid = false, seq = 0L))
  }

  def asMarketEvents(books: Dataset[BookLevel])(
      implicit d: DummyImplicit): Dataset[MarketEvent] = {
    val spark = books.sparkSession
    import spark.implicits._
    books.map(b => MarketEvent(b.symbol, b.ts, 0.0, b.qty,
      isBuyerMaker = false, is_trade = false, is_bid = b.is_bid, b.seq))
  }

  /** One windowed aggregation produces EVERY per-bar signal input (OHLC +
    * taker flow + the depth-capped book level arrays) — the signal
    * families fuse by sharing the (window, symbol) group instead of
    * re-joining N windowed streams on the window key, so the whole
    * fusion costs one shuffle of per-bar aggregates. Bars with no trades
    * (book-only windows) are dropped: the reference decides on trade
    * ticks, a book snapshot alone opens no bar. Works on a streaming OR
    * static Dataset: the batch twin uses the identical aggregation
    * (watermark is a no-op on static data). */
  def signalBarsOf(events: Dataset[MarketEvent],
      watermark: String = "2 minutes"): Dataset[graft.state.Fusion.SigBar] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.Column
    // trade-only measures: the when(...) guards make book rows invisible
    // to them (sum/max/min skip nulls; min_by/max_by skip null orderings)
    def tp = when($"is_trade", $"price")
    def tOrd = when($"is_trade", struct($"ts", $"price"))
    // book side arrays: qty desc, seq asc (the deterministic tie-break),
    // capped at the top Book.Depth levels — the same rank the batch
    // Book.levels window computes
    def cmp(l: Column, r: Column): Column =
      when(l.getField("qty") > r.getField("qty"), -1)
        .when(l.getField("qty") < r.getField("qty"), 1)
        .otherwise(
          when(l.getField("seq") < r.getField("seq"), -1)
            .when(l.getField("seq") > r.getField("seq"), 1)
            .otherwise(0))
    def sideArr(col: Column): Column = transform(
      slice(array_sort(col, cmp _), 1, graft.operators.Book.Depth),
      x => x.getField("qty"))
    // within-bar price-path length Σ|ΔP| over the bar's (ts, price)-sorted
    // trades (the LV denominator, aether_oracle.py:89): a left fold with a
    // NaN "no previous trade yet" sentinel — the cross-bar boundary pair is
    // recovered by the fusion fold from its prevClose state, so the multi-TF
    // LV sums stay exact without any second pass over raw events
    def dpOf(c: Column): Column = {
      val sorted = array_sort(c)
      aggregate(
        sorted,
        struct(lit(Double.NaN).as("prev"), lit(0.0).as("acc")),
        (st, x) => struct(
          x.getField("price").as("prev"),
          (st.getField("acc") + when(isnan(st.getField("prev")), 0.0)
            .otherwise(abs(x.getField("price") - st.getField("prev"))))
            .as("acc")),
        st => st.getField("acc"))
    }
    val agged = (if (events.isStreaming) events.withWatermark("ts", watermark)
                 else events)
      .groupBy(window($"ts", "1 minute"), $"symbol")
      .agg(
        min_by(tp, tOrd).as("open"),
        max(tp).as("high"),
        min(tp).as("low"),
        max_by(tp, tOrd).as("close"),
        sum(when($"is_trade", $"qty").otherwise(0.0)).as("volume"),
        sum(when($"is_trade" && !$"isBuyerMaker", $"qty").otherwise(0.0))
          .as("buy_vol"),
        sum(when($"is_trade" && $"isBuyerMaker", $"qty").otherwise(0.0))
          .as("sell_vol"),
        collect_list(when(!$"is_trade" && $"is_bid",
          struct($"qty", $"seq"))).as("bid_levels"),
        collect_list(when(!$"is_trade" && !$"is_bid",
          struct($"qty", $"seq"))).as("ask_levels"),
        collect_list(when($"is_trade", struct($"ts", $"price")))
          .as("trade_path"))
      .filter($"open".isNotNull)
      .select($"window.start".as("win_start"), $"symbol", $"open", $"high",
        $"low", $"close", $"volume", $"buy_vol", $"sell_vol",
        sideArr($"bid_levels").as("bids"), sideArr($"ask_levels").as("asks"),
        dpOf($"trade_path").as("dp"))
    agged.as[graft.state.Fusion.SigBar]
  }

  /** Trade-only signal bars (no book feed: empty level arrays, the
    * book signal trio reads None/false downstream). */
  def signalBars(trades: Dataset[Trade],
      watermark: String = "2 minutes"): Dataset[graft.state.Fusion.SigBar] =
    signalBarsOf(asMarketEvents(trades), watermark)

  /** Trades + book updates into one bar stream: the union shuffles ONCE
    * on the shared (window, symbol) key — the "union-into-one-groupBy"
    * plan, not a stream-stream join. */
  def signalBarsWithBook(trades: Dataset[Trade], books: Dataset[BookLevel],
      watermark: String = "2 minutes"): Dataset[graft.state.Fusion.SigBar] =
    signalBarsOf(asMarketEvents(trades).union(asMarketEvents(books)),
      watermark)

  /** Fully incremental streaming fusion (EP1, strategy.py:334-443): the
    * finalized signal bars fold through the pure [[graft.state.Fusion]]
    * transition — z + CVD + EMA + trend + LV + fused score + entry side +
    * position FSM, one O(ring)-state pass per symbol. Every signal the
    * batch `fusion_scores`/`entry_signals` family computes per bucket is
    * kept incrementally here; StreamingSpec asserts the e2e equivalence
    * against `fusedBatch` on the same trades. */
  def fusedStream(bars: Dataset[graft.state.Fusion.SigBar])
      : Dataset[graft.state.Fusion.FusedOut] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, // bounded per-symbol key space:
        GroupStateTimeout.NoTimeout)( // see the state-lifetime ledger above
        (_: String, it: Iterator[Fusion.SigBar],
            state: GroupState[Fusion.FusionState]) => {
          var st = state.getOption.getOrElse(Fusion.init)
          val out = sortedSlice(it)(_.win_start.getTime).map { b =>
            val (st2, o) = Fusion.step(st, b)
            st = st2
            o
          }
          state.update(st)
          out.iterator
        })
  }

  /** Batch replay of the fused pipeline — same aggregation, same pure
    * fold, a sorted-group fold instead of keyed state: the shuffle's
    * spill-capable sort orders each symbol's bars, so the replay streams
    * through the fold without ever materializing a symbol's history. */
  def fusedBatch(bars: Dataset[graft.state.Fusion.SigBar])
      : Dataset[graft.state.Fusion.FusedOut] = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars
      .groupByKey(_.symbol)
      .flatMapSortedGroups($"win_start")(
        (_: String, it: Iterator[Fusion.SigBar]) => Fusion.run(it))
  }

  /** Backfill-then-stream (SURVEY §2.8, EP2): Spark cannot union a static
    * and a streaming Dataset, and does not need to — a file streaming
    * source reads the already-present history files as its first batches
    * and then tails new arrivals, which is exactly the reference's
    * REST-warmup-then-live-socket sequence (data_manager.py:191-197).
    * Rows appearing in both the backfill and the live overlap dedupe on
    * (symbol, ts) within the watermark. */
  def backfillThenStream(spark: SparkSession, dir: String,
      watermark: String = "2 minutes"): DataFrame = {
    import spark.implicits._
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Trade].schema)
      .parquet(dir)
      .withWatermark("ts", watermark)
      .dropDuplicates("symbol", "ts")
      .select($"symbol", $"ts", $"price")
  }

  /** A raw document row as a streaming ingest source (file stream or
    * MemoryStream in specs). */
  case class RawDoc(doc_id: Long, text: String, lang: String, source: String)

  /** Streaming corpus ingestion — the incremental twin of the batch
    * assembly gates: documents arrive as a stream, exact duplicates drop
    * on first-seen content hash ACROSS micro-batches (a late copy of an
    * already-ingested page never re-enters the corpus), and each
    * survivor carries the language/quality verdict built from the SAME
    * column expressions as the batch `text_quality`/`docs_quality_gate`
    * queries — batch ≡ streaming by construction, asserted in the spec.
    *
    * State: one content hash per distinct document — the minimal state
    * exact streaming dedup admits (Spark keeps the dropDuplicates set
    * in the state store, scaling with DISTINCT corpus size, not stream
    * length; at 100 TB that is the same cardinality the batch
    * `dedup_exact` shuffle carries, here amortized over the ingest
    * lifetime and spillable via RocksDB — exercised, not just claimed:
    * RocksDbStateSpec re-runs the dedup checkpoint-restart proof under
    * RocksDBStateStoreProvider). A deployment that only needs
    * within-horizon dedup passes `retention`: the stream then carries a
    * processing-time watermark and `dropDuplicatesWithinWatermark`, so
    * the dedup set holds only the horizon's content hashes — verdicts
    * for duplicates arriving WITHIN the horizon are identical to the
    * full-history mode (asserted in StreamingSpec); a copy arriving
    * after its original expired re-enters, which is the documented
    * trade a bounded dedup horizon makes. Near-dup semantics route
    * through the batch MinHash/SimHash path instead. */
  def docIngest(docs: DataFrame,
      retention: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = docs.withColumn("content_h", md5($"text"))
    val deduped = retention match {
      case Some(d) => hashed
        .withColumn("ingest_ts", current_timestamp())
        .withWatermark("ingest_ts", d)
        .dropDuplicatesWithinWatermark("content_h")
        .drop("ingest_ts")
      case None => hashed.dropDuplicates("content_h")
    }
    graft.operators.TextAnalysis.qualityColumns(
      deduped
        .withColumn("toks", graft.operators.TextAnalysis.tokensCol))
      .withColumn("lang_ok", $"lang" === "en")
      .withColumn("keep", $"lang_ok" && $"quality" >= 0.5)
      .select($"doc_id", $"source", $"content_h", $"n_tokens",
        $"quality", $"lang_ok", $"keep")
  }

  /** Streaming count-min frequency monitor over the document feed: the
    * live twin of [[graft.operators.TextAnalysis]]'s batch heavy-hitter
    * query. Per-doc gram hashing is pure map work; the only state is
    * the running d x w counter grid itself — a bounded (≤ d*w keys)
    * streaming aggregation that Spark folds incrementally per
    * micro-batch, which is the entire point of the sketch: frequency
    * monitoring over an unbounded corpus stream in O(d*w) memory. The
    * bucket family is [[graft.operators.TextAnalysis.cmsBucket]], so a
    * point-estimate probe against this grid returns exactly what the
    * batch query's grid returns over the same corpus (asserted in
    * StreamingSpec). Run with Complete output (the grid IS the result)
    * or dump deltas with Update. */
  /** Bounded KMV state: the k smallest DISTINCT gram hashes seen so
    * far for one source (sorted ascending). */
  case class KmvState(mins: Seq[Long])

  case class KmvEstimate(source: String, n_min: Int, kth: Long, est: Double)

  /** Streaming cardinality monitor — the live twin of the batch
    * `text_gram_kmv` sketch: per-source state is the k smallest
    * distinct gram hashes (k-minima merge is associative, so the
    * streamed sketch equals the batch sketch over the same corpus —
    * asserted in StreamingSpec), per-element work is O(log k) through
    * a bounded ordered set, and the emitted estimate uses the SAME
    * [[graft.operators.TextAnalysis.KmvU]] universe formula as the
    * batch query. The exact distinct count is NOT streamable in
    * bounded memory — that asymmetry is the sketch's reason to exist.
    *
    * NoTimeout is justified by a bounded key space: keys are SOURCES
    * (an operator-curated universe, not content-derived) and each
    * key's state is exactly k longs — total state is O(|sources| * k)
    * forever, no TTL needed. */
  def kmvMonitor(docs: DataFrame): Dataset[KmvEstimate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val T = graft.operators.TextAnalysis
    // hoisted primitives: the state closure must not capture the module
    val k = T.KmvK
    val u = T.KmvU.toDouble
    docs
      .select($"source", explode(T.gramHashWideArr(
        transform(T.tokensCol, t => graft.functions.ColFns.hex32(t)))).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[KmvState, KmvEstimate](GroupStateTimeout.NoTimeout) {
        (src, it, state) =>
          val set = scala.collection.mutable.TreeSet.empty[Long]
          set ++= state.getOption.map(_.mins).getOrElse(Nil)
          // iterator-bounded fold: O(log k) per element, never
          // materializing the group
          it.foreach { case (_, h) =>
            if (set.size < k) set += h
            else if (h < set.last && !set.contains(h)) { set += h; set -= set.last }
          }
          val mins = set.toSeq
          state.update(KmvState(mins))
          val est =
            if (mins.size < k) mins.size.toDouble
            else (k - 1).toDouble * u / mins.last
          KmvEstimate(src, mins.size, if (mins.nonEmpty) mins.last else 0L, est)
      }
  }

  /** Streaming length-histogram monitor — the live twin of the batch
    * `docs_length_hist` quantile sketch. The bin bounds `(lo, width)`
    * are calibration parameters: a min/max pre-pass is impossible over
    * an unbounded feed, so a deployment takes them from a prior batch
    * run (or a fixed operating envelope) — out-of-range lengths clamp
    * into the edge bins via the SHARED binning expression
    * [[graft.operators.Pipeline.histBinCol]], so no value is ever
    * dropped. Counts merge associatively, which makes the grid a
    * bounded (≤ langs × B cells) incremental streaming aggregation;
    * with the batch run's own (min, width) the streamed grid is
    * IDENTICAL to the batch (lang, bin) histogram and CDF-inversion
    * over it serves the batch query's exact quantile estimates
    * (asserted in StreamingSpec). Length is computed from the raw text
    * — the same quantity as the documents table's `n_chars` column. */
  def histMonitor(docs: DataFrame, lo: Long, width: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"lang", graft.operators.Pipeline.histBinCol(
        length($"text").cast("long"), lit(lo), lit(width)).as("bin"))
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("cnt"))
  }

  /** One banded-bucket member: a doc and its full MinHash signature
    * (kept so a later arrival can compute its Jaccard ESTIMATE against
    * every prior member without any lookup join). */
  case class LshMember(doc_id: Long, sig: Seq[Long])
  case class LshState(members: Seq[LshMember])

  /** A streamed near-dup candidate: the pair collided in `band`; `est`
    * is the MinHash Jaccard estimate (matching components / k) — the
    * same quantity the batch `dedup_minhash_est` metric computes. */
  case class NearDupHit(band: Int, doc_a: Long, doc_b: Long, est: Double)

  // public: Spark's generated row codec must construct it (an encoder
  // over a private class fails janino compilation)
  case class LshBandRow(band: Int, band_key: String, doc_id: Long,
      sig: Seq[Long])

  /** Streaming MinHash-LSH near-dup monitor — the live twin of the batch
    * `dedup_minhash_pairs` candidate generator, completing the streaming
    * ingest family (exact dedup: [[docIngest]]; near-dup: this). Each
    * arriving document computes its k=8 signature IN-ROW
    * ([[graft.operators.Dedup.sigArrCol]] — no shuffle, bitwise the
    * batch signatures) and lands in its 2 band buckets; per-bucket state
    * is the member list (doc_id, sig), so a new arrival emits one hit
    * per prior member it collides with — ACROSS micro-batches, which is
    * the semantics batch LSH cannot give an ingest pipeline without
    * re-running over all history. Emitted hits are exactly the batch
    * banded self-join's per-band pairs over the same corpus (asserted in
    * StreamingSpec), with the pair's Jaccard estimate attached from the
    * stored signatures.
    *
    * Scale shape: state per (band, band_key) bucket is its membership —
    * summed over buckets that is O(corpus x bands), the same cardinality
    * the batch band join's build side carries, amortized over the ingest
    * lifetime and spillable via RocksDB (cross-batch membership is
    * replayed under RocksDBStateStoreProvider in RocksDbStateSpec).
    * Per-arrival work is O(bucket
    * occupancy), which banding keeps small by construction (a bucket
    * only grows when its members are near-identical). A replayed doc_id
    * is ignored (at-least-once upstream stays exactly-once here). The
    * same pair can hit in both bands — by design (the band is in the
    * output); pair-level consumers dedup on (doc_a, doc_b).
    *
    * Degenerate-stream guard: a bucket stops admitting members past
    * [[LshBucketCap]] — a stream of near-identical docs would otherwise
    * make one bucket do O(n²) work and emit O(n²) hits with unbounded
    * state (the streaming twin of the batch [[graft.operators.Dedup
    * .HotShingleCap]] guard). Rows hitting a full bucket emit a single
    * sentinel hit (doc_b = -1, est = -1) so saturation is VISIBLE in
    * the output instead of silently dropped. */
  def lshMonitor(docs: DataFrame,
      retention: Option[String] = None): Dataset[NearDupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val D = graft.operators.Dedup
    val nBands = D.MinhashK / 4
    val k = D.MinhashK
    // retention = the state-TTL dial: the MinHash band-key domain is
    // unbounded (it grows with distinct content), so on an infinite
    // stream total state grows forever under NoTimeout even though
    // LshBucketCap bounds each bucket. With a retention horizon, a
    // bucket untouched for that long is dropped wholesale (its members
    // can no longer collide with anything "near" in ingest time) —
    // verdicts WITHIN the horizon are unchanged, proven in
    // StreamingSpec. None keeps the full-history semantics for
    // bounded-corpus replays (the batch-equivalence contract).
    // Deployment note: pair a retention with a PACED trigger
    // (Trigger.ProcessingTime) or set
    // spark.sql.streaming.noDataMicroBatches.enabled=false — under the
    // default ASAP trigger, ProcessingTimeTimeout makes the engine spin
    // no-data micro-batches continuously to poll for expiry (and
    // processAllAvailable never returns).
    retention.foreach(_ => warnAsapRetention(spark))
    val timeoutConf =
      if (retention.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    D.withSigArr(docs, $"text", "sig")
      .select($"doc_id", $"sig")
      .filter($"sig".isNotNull)
      .select($"doc_id", $"sig", explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"), D.bandKeyCol($"sig", b).as("band_key"))): _*))
        .as("bk"))
      .select($"bk.band", $"bk.band_key", $"doc_id", $"sig")
      .as[LshBandRow]
      .groupByKey(r => (r.band, r.band_key))
      .flatMapGroupsWithState[LshState, NearDupHit](
        OutputMode.Append(), timeoutConf) {
        case (_, it, state) =>
          if (state.hasTimedOut) {
            // horizon passed with no arrivals for this bucket: forget it
            state.remove()
            Iterator.empty
          } else {
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val seen = scala.collection.mutable.Set(members.map(_.doc_id): _*)
          // deterministic intra-trigger order (the slice is bounded by
          // this micro-batch's rows for the bucket, never history)
          val fresh = sortedSlice(it)(_.doc_id)
          val out = Seq.newBuilder[NearDupHit]
          fresh.foreach { r =>
            if (!seen(r.doc_id)) {
              if (members.length >= LshBucketCap) {
                // saturated bucket: admit nothing, compare nothing —
                // bounded state and O(cap) per-arrival work; the
                // sentinel row makes the saturation observable
                out += NearDupHit(r.band, r.doc_id, -1L, -1.0)
              } else {
                members.foreach { m =>
                  val matches = (0 until k).count(i => m.sig(i) == r.sig(i))
                  out += NearDupHit(r.band,
                    math.min(m.doc_id, r.doc_id), math.max(m.doc_id, r.doc_id),
                    matches.toDouble / k)
                }
                members = members :+ LshMember(r.doc_id, r.sig)
                seen += r.doc_id
              }
            }
          }
          state.update(LshState(members))
          retention.foreach(state.setTimeoutDuration)
          out.result().iterator
          }
      }
  }

  /** Per-bucket membership cap for [[lshMonitor]] — the streaming twin
    * of the batch hot-shingle guard ([[graft.operators.Dedup
    * .HotShingleCap]], same dial). A healthy LSH bucket holds a handful
    * of near-identical docs; one that reaches the cap is a degenerate
    * near-constant stream, and admitting more members would cost O(n²)
    * emissions and unbounded state. */
  val LshBucketCap = 64

  /** Input row of [[phashMonitor]]: an image arrival (the text/variant
    * pair addresses the synthesized payload, standing in for the bytes
    * a production ingest would carry). */
  case class PhashImg(img_id: Long, text: String, variant: Int)

  /** Synthesize+decode+dHash of one image (static so the streaming map
    * closure captures nothing — the module objects aren't
    * Serializable, and don't need to be). */
  private def dhashOf(text: String, variant: Int): Long = {
    val d = graft.operators.Multimodal.decode(
      graft.operators.Phash.synthesize(text, variant))
    graft.operators.Phash.dhash(d.data, d.width, d.height)._1
  }
  case class PhashMember(img_id: Long, phash: Long)
  case class PhashState(members: Seq[PhashMember])
  /** A streamed image near-dup: the pair collided in `band` with exact
    * Hamming distance attached (sentinel: img_b = -1, hamming = -1 on a
    * saturated bucket). */
  case class PhashHit(band: Int, img_a: Long, img_b: Long, hamming: Int)
  case class PhashBandRow(band: Int, band_key: Long, img_id: Long,
      phash: Long)

  /** Streaming perceptual-hash near-dup monitor — the IMAGE twin of
    * [[lshMonitor]], completing the ingest dedup family across
    * modalities (exact text: [[docIngest]]; near text: [[lshMonitor]];
    * near image: this). Each arriving image decodes and dHashes
    * partition-locally (`graft.operators.Phash.dhash` over the REAL
    * container — pixels never enter state), lands in its 7 byte-band
    * buckets, and emits one hit per prior member within Hamming <=
    * [[graft.operators.Phash.HamMax]] — cross-micro-batch, which batch
    * banding cannot serve an ingest pipeline without re-scanning
    * history. Pigeonhole recall carries over: a qualifying pair shares
    * a band, so the bucket walk cannot miss it. State per bucket is the
    * (id, hash) membership — two longs per image per band; the
    * [[LshBucketCap]] dial (same guard, same sentinel protocol) bounds
    * the degenerate identical-image stream. */
  def phashMonitor(imgs: DataFrame,
      retention: Option[String] = None): Dataset[PhashHit] = {
    val spark = imgs.sparkSession
    import spark.implicits._
    val P = graft.operators.Phash
    val hamMax = P.HamMax // primitive capture: the module object is not
    val cap = LshBucketCap // Serializable and must not enter the closure
    // TTL dial, same contract (and same paced-trigger deployment note)
    // as [[lshMonitor]]. Unlike the MinHash band keys, the phash key
    // domain IS bounded (Bands x 256 = 1792 buckets x cap members), so
    // NoTimeout state here is bounded by construction — but a
    // saturated bucket then refuses members forever; retention lets
    // buckets recycle so the monitor recovers from a historic
    // degenerate burst.
    retention.foreach(_ => warnAsapRetention(spark))
    val timeoutConf =
      if (retention.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    imgs.select($"img_id", $"text", $"variant")
      .as[(Long, String, Int)]
      .map(r => (r._1, Streams.dhashOf(r._2, r._3)))
      .toDF("img_id", "phash")
      .select($"img_id", $"phash",
        explode(array((0 until P.Bands).map(b =>
          struct(lit(b).as("band"),
            expr(s"(phash div shiftleft(cast(1 as bigint), ${b * 8})) % 256")
              .as("band_key"))): _*)).as("bk"))
      .select($"bk.band", $"bk.band_key", $"img_id", $"phash")
      .as[PhashBandRow]
      .groupByKey(r => (r.band, r.band_key))
      .flatMapGroupsWithState[PhashState, PhashHit](
        OutputMode.Append(), timeoutConf) {
        case (_, it, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val seen = scala.collection.mutable.Set(members.map(_.img_id): _*)
          val fresh = sortedSlice(it)(_.img_id)
          val out = Seq.newBuilder[PhashHit]
          fresh.foreach { r =>
            if (!seen(r.img_id)) {
              if (members.length >= cap) {
                out += PhashHit(r.band, r.img_id, -1L, -1)
              } else {
                members.foreach { m =>
                  val ham = java.lang.Long.bitCount(m.phash ^ r.phash)
                  if (ham <= hamMax)
                    out += PhashHit(r.band,
                      math.min(m.img_id, r.img_id),
                      math.max(m.img_id, r.img_id), ham)
                }
                members = members :+ PhashMember(r.img_id, r.phash)
                seen += r.img_id
              }
            }
          }
          state.update(PhashState(members))
          retention.foreach(state.setTimeoutDuration)
          out.result().iterator
          }
      }
  }

  case class GranuleAppendState(nNew: Long, nWiden: Long)
  case class GranuleAppend(granule: Long, n_new: Long, n_widen: Long,
    box_widened: Boolean)

  /** One standing-index entry the layout monitor routes against. */
  case class GranuleBox(granule: Long, zhi: Long, tsLo: Long, tsHi: Long,
    uidLo: Long, uidHi: Long)

  /** Streaming append audit — the live twin of batch
    * `layout_incremental`: delta events route into the STANDING Z-order
    * layout as they arrive, and per granule the monitor carries running
    * (n_new, n_widen) counts, emitting the updated audit row on every
    * batch that touches the granule. The standing index is FROZEN
    * metadata by the time deltas stream (granule zhi bounds + boxes +
    * the base min/max for the bucket transform), shipped to executors
    * as literals/closure — a real deployment broadcasts the same
    * ~file-count-sized frame. Routing = lower-bound binary search over
    * the nondecreasing zhi array (same verdict as the batch
    * `min(granule) where zhi >= z`, values past the end append to the
    * last granule). State is O(1) per granule and the KEY SPACE IS
    * BOUNDED by the standing index's granule count, so NoTimeout is
    * safe by the bounded-key-space ledger (§"State-lifetime policy").
    * StreamingSpec replays the delta batch and asserts the final rows
    * equal the batch audit exactly. */
  def layoutMonitor(events: DataFrame, tlo: Long, thi: Long,
      ulo: Long, uhi: Long, index: Seq[GranuleBox]): Dataset[GranuleAppend] = {
    require(index.nonEmpty,
      "layoutMonitor needs a standing index: routing is a binary " +
        "search over its granule bounds, so an empty index has no " +
        "target granule for any row")
    val spark = events.sparkSession
    import spark.implicits._
    val L = graft.operators.Layout
    val (cx, cy) = L.clampedBucketExprs(tlo, thi, ulo, uhi)
    // hoisted, sorted routing tables (the closure must stay small)
    val sorted = index.sortBy(_.granule).toArray
    val zhis = sorted.map(_.zhi)
    val boxes = sorted.map(b => (b.tsLo, b.tsHi, b.uidLo, b.uidHi))
    val granIds = sorted.map(_.granule)
    events
      .select($"event_id", $"ts_us", $"user_id")
      .withColumn("xb", expr(cx)).withColumn("yb", expr(cy))
      .withColumn("zval", expr(L.zFromBuckets))
      .select($"ts_us", $"user_id", $"zval")
      .as[(Long, Long, Long)]
      .map { case (ts, uid, z) =>
        // lower bound: first granule whose zhi covers z; past-the-end
        // appends to the last granule (the batch coalesce)
        var lo = 0; var hi = zhis.length - 1
        if (z > zhis(hi)) lo = hi
        else while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (zhis(mid) >= z) hi = mid else lo = mid + 1
        }
        val (tsLo, tsHi, uidLo, uidHi) = boxes(lo)
        val widen = ts < tsLo || ts > tsHi || uid < uidLo || uid > uidHi
        (granIds(lo), if (widen) 1L else 0L)
      }
      .groupByKey(_._1)
      .mapGroupsWithState[GranuleAppendState, GranuleAppend](
        GroupStateTimeout.NoTimeout) { (g, it, state) =>
        var n = state.getOption.map(_.nNew).getOrElse(0L)
        var w = state.getOption.map(_.nWiden).getOrElse(0L)
        it.foreach { case (_, widen) => n += 1; w += widen }
        state.update(GranuleAppendState(n, w))
        GranuleAppend(g, n, w, w > 0)
      }
  }

  case class MarkovState(lastType: String)
  case class MarkovStep(user_id: Long, prev: String, cur: String,
    ts_us: Long)

  /** Streaming transition extractor — the live twin of batch
    * `events_markov`: per user, state is ONE field (the last event
    * type), and each arrival emits its (prev → cur) step; downstream, a
    * running aggregation over the emitted steps serves the live
    * transition matrix. Within a batch, events replay in (ts, event_id
    * implicit input) order via the same sort the funnel monitor uses,
    * so the emitted step multiset equals the batch lag-window's exactly
    * (StreamingSpec asserts count-for-count equality). Entity-keyed
    * like [[funnelMonitor]]: same `retention` dial, same bounded-state
    * argument per key. */
  def markovMonitor(events: DataFrame,
      retention: Option[String] = None): Dataset[MarkovStep] = {
    val spark = events.sparkSession
    import spark.implicits._
    retention.foreach(_ => warnAsapRetention(spark))
    val timeoutConf =
      if (retention.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.select($"user_id", $"event_id", $"event_type", $"ts_us")
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[MarkovState, MarkovStep](
        OutputMode.Append(), timeoutConf) {
        case (uid, it, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var last = state.getOption.map(_.lastType).orNull
            val out = scala.collection.mutable.ArrayBuffer[MarkovStep]()
            it.toSeq.sortBy(e => (e._4, e._2)).foreach {
              case (_, _, et, ts) =>
                if (last != null) out += MarkovStep(uid, last, et, ts)
                last = et
            }
            state.update(MarkovState(last))
            retention.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  // `late` counts input rows dropped by the closed-bucket guard —
  // correct-but-silent drops are unacceptable at 100 TB (an upstream
  // replaying out of order would otherwise vanish); every emitted row
  // carries the key's cumulative count so the drop rate is observable
  // in the output stream itself, no side channel.
  case class ResampleState(openBucket: Long, openValue: Double,
    openId: Long, late: Long = 0L)
  case class ResampleRow(event_type: String, bucket: Long, value: Double,
    is_gap: Boolean, late_drops: Long = 0L)

  /** Streaming regular-grid resampler — the live twin of batch
    * `flow_resample`: per event_type the monitor carries the OPEN
    * hourly bucket (still accumulating; a bucket may straddle any
    * number of triggers) and its max-by-event_id value — the IDENTICAL
    * tie-break batch `flow_resample` uses (`max_by(value, event_id)`),
    * so the twins agree even on feeds where id order and ts order
    * diverge within a bucket; a
    * strictly later observation CLOSES the open bucket — emitting its
    * observed row plus one forward-filled `is_gap` row per silent
    * bucket in between — and opens the new one. Emit-on-close is what
    * Append output mode requires (an open bucket's value can still
    * change, and appended rows cannot be retracted), the same
    * bucket-finalization contract as any streaming bar builder; the
    * emitted stream is the complete grid short of the still-open last
    * bucket per key, which the batch query reports and the stream
    * closes on its next observation. State is O(1) per type under the
    * bounded event-type key space (ledger §"State-lifetime policy");
    * ordered ingest is assumed like every monitor here. StreamingSpec
    * replays the events table across trigger boundaries that SPLIT
    * buckets mid-accumulation and asserts row-set equality with
    * `flow_resample` minus each key's final (still-open) row. */
  def resampleMonitor(events: DataFrame): Dataset[ResampleRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val H = graft.operators.Flow.HourUs
    events.select($"event_type", $"event_id", $"ts_us", $"value")
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ResampleState, ResampleRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (etype, it, state) =>
          // max-by-event_id value per observed bucket — the SAME
          // tie-break as batch `max_by(value, event_id)`, deliberately
          // ignoring ts within a bucket (the monitor carries openId so
          // the rule also holds when one bucket straddles triggers)
          // (bestId, bestValue, rawRowCount) per observed bucket: the
          // count feeds the late-drop ledger when the bucket is stale
          val perBucket =
            scala.collection.mutable.Map[Long, (Long, Double, Long)]()
          it.foreach { case (_, id, ts, v) =>
            val b = ts / H
            perBucket(b) = perBucket.get(b) match {
              case Some((id0, v0, c0)) =>
                // STRICT: first-wins on equal event_id, matching the
                // cross-batch carried-state update (id > openId) so a
                // duplicate id picks the same value whether the two
                // rows share a micro-batch or straddle a trigger cut
                if (id > id0) (id, v, c0 + 1) else (id0, v0, c0 + 1)
              case None => (id, v, 1L)
            }
          }
          val out = scala.collection.mutable.ArrayBuffer[ResampleRow]()
          var st = state.getOption.orNull
          perBucket.toSeq.sortBy(_._1).foreach { case (b, (id, v, cnt)) =>
            if (st == null) st = ResampleState(b, v, id)
            else if (b == st.openBucket) {
              if (id > st.openId)
                st = st.copy(openValue = v, openId = id)
            } else if (b < st.openBucket) {
              // late rows for an already-CLOSED bucket: dropped (closed
              // rows are appended and cannot be retracted; regressing
              // openBucket would re-emit them — the in-order ledger
              // contract) but COUNTED: the next emitted row carries the
              // cumulative drop count, so the loss is observable
              st = st.copy(late = st.late + cnt)
            } else {
              // close the open bucket, fill the silence, open the new one
              out += ResampleRow(etype, st.openBucket, st.openValue,
                is_gap = false, late_drops = st.late)
              var g = st.openBucket + 1
              while (g < b) {
                out += ResampleRow(etype, g, st.openValue, is_gap = true,
                  late_drops = st.late)
                g += 1
              }
              st = ResampleState(b, v, id, st.late)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  case class CusumMonState(openBucket: Long, sum: Long, n: Long,
      hi: Long, lo: Long, late: Long = 0L)
  case class CusumMonRow(event_type: String, bucket: Long, x_centi: Long,
      s_hi: Long, s_lo: Long, alarm: Boolean, late_drops: Long = 0L)

  /** Streaming drift monitor — the live twin of batch `flow_cusum`: per
    * event_type the monitor accumulates the open hourly bucket's exact
    * integer (sum_cents, n), and when a later bucket arrives it CLOSES
    * the open one — computes the floored bucket mean, advances the
    * two-sided CUSUM fold (same integer step as
    * [[graft.state.Fsm.cusumRun]]), and emits the excursion row,
    * resetting both accumulators after an alarm. The baseline (mu, k, h)
    * per key is the batch-learned standing state
    * ([[graft.operators.Stateful.cusumBaseDf]]) shipped in the closure,
    * as a deployment would broadcast it. Emit-on-close like
    * [[resampleMonitor]]: each key's final, still-open bucket is
    * withheld, everything else equals the batch query row-for-row
    * (StreamingSpec replays triggers that split buckets mid-hour).
    * State is O(1) per key over the bounded event-type ledger. */
  def cusumMonitor(events: DataFrame,
      base: Map[String, (Long, Long, Long)]): Dataset[CusumMonRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val H = graft.operators.Flow.HourUs
    events.select($"event_type", $"ts_us", $"value")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumMonState, CusumMonRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (etype, it, state) =>
          val (mu, k, h) = base.getOrElse(etype, (0L, 0L, Long.MaxValue))
          // exact integer per-bucket sums; math.round is HALF_UP on the
          // non-negative values, matching batch round(value * 100)
          val acc = scala.collection.mutable.Map[Long, (Long, Long)]()
          it.foreach { case (_, ts, v) =>
            val b = ts / H
            val (s0, n0) = acc.getOrElse(b, (0L, 0L))
            acc(b) = (s0 + math.round(v * 100), n0 + 1L)
          }
          val out = scala.collection.mutable.ArrayBuffer[CusumMonRow]()
          var st = state.getOption.orNull
          acc.toSeq.sortBy(_._1).foreach { case (b, (s, n)) =>
            if (st == null) st = CusumMonState(b, s, n, 0L, 0L)
            else if (b == st.openBucket) {
              st = st.copy(sum = st.sum + s, n = st.n + n)
            } else if (b < st.openBucket) {
              // late rows for a closed bucket: dropped but COUNTED (see
              // resampleMonitor — closed rows cannot be retracted; the
              // cumulative count rides every emitted row)
              st = st.copy(late = st.late + n)
            } else {
              val x = math.floor((st.sum * 100).toDouble / st.n).toLong
              val nHi = math.max(0L, st.hi + x - mu - k)
              val nLo = math.max(0L, st.lo + mu - x - k)
              val alarm = nHi > h || nLo > h
              out += CusumMonRow(etype, st.openBucket, x, nHi, nLo, alarm,
                late_drops = st.late)
              st = CusumMonState(b, s, n,
                if (alarm) 0L else nHi, if (alarm) 0L else nLo, st.late)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  case class DrawMonState(openBucket: Long, bestId: Long, bestVal: Double,
      peak: Long, late: Long = 0L)
  case class DrawMonRow(bucket: Long, close_cents: Long, peak_cents: Long,
      dd_bps: Long, late_drops: Long = 0L)

  /** Streaming drawdown monitor — the live twin of batch
    * `bars_drawdown`: per bar the monitor carries the open bucket's
    * max-by-event_id close candidate (the OHLC close rule) plus the
    * running all-time-high in integer cents; closing a bucket emits the
    * underwater row with the same floor'd-basis-points arithmetic as
    * the batch window. Single-symbol stream keys on the constant symbol
    * (multi-symbol data would key on it); state is O(1). Emit-on-close:
    * the final open bar is withheld, everything else equals the batch
    * query row-for-row. */
  def drawdownMonitor(events: DataFrame): Dataset[DrawMonRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val H = graft.operators.Flow.HourUs
    events.select($"event_id", $"ts_us", $"value")
      .as[(Long, Long, Double)]
      .groupByKey(_ => "SYM")
      .flatMapGroupsWithState[DrawMonState, DrawMonRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, it, state) =>
          val perBucket =
            scala.collection.mutable.Map[Long, (Long, Double, Long)]()
          it.foreach { case (id, ts, v) =>
            val b = ts / H
            perBucket(b) = perBucket.get(b) match {
              case Some((id0, v0, c0)) =>
                // STRICT: first-wins on equal event_id, matching the
                // cross-batch carried-state update (id > openId) so a
                // duplicate id picks the same value whether the two
                // rows share a micro-batch or straddle a trigger cut
                if (id > id0) (id, v, c0 + 1) else (id0, v0, c0 + 1)
              case None => (id, v, 1L)
            }
          }
          val out = scala.collection.mutable.ArrayBuffer[DrawMonRow]()
          var st = state.getOption.orNull
          perBucket.toSeq.sortBy(_._1).foreach { case (b, (id, v, cnt)) =>
            if (st == null) st = DrawMonState(b, id, v, 0L)
            else if (b == st.openBucket) {
              if (id > st.bestId) st = st.copy(bestId = id, bestVal = v)
            } else if (b < st.openBucket) {
              // late rows for a closed bucket: dropped but COUNTED (see
              // resampleMonitor — closed rows cannot be retracted)
              st = st.copy(late = st.late + cnt)
            } else {
              val cc = math.round(st.bestVal * 100)
              val peak = math.max(st.peak, cc)
              out += DrawMonRow(st.openBucket, cc, peak,
                math.floor((peak - cc) * 10000.0 / peak).toLong,
                late_drops = st.late)
              st = DrawMonState(b, id, v, peak, st.late)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  case class AnomMonState(openBucket: Long, sum: Long, n: Long,
      late: Long = 0L)
  case class AnomMonRow(event_type: String, bucket: Long, x_centi: Long,
      resid: Long, late_drops: Long = 0L)

  /** Streaming seasonal-anomaly monitor — the live twin of batch
    * `events_anomaly`: per event_type the monitor closes hourly buckets
    * exactly like [[cusumMonitor]], subtracts the BROADCAST hour-of-day
    * expectation (`flow_seasonal`'s profile, batch-learned standing
    * state), and emits the bucket iff the residual clears the
    * all-integer 3σ cut `resid²·n² > 9·(n·Σr²−(Σr)²)` with (Σr, Σr²,
    * n) also batch-learned. Emits ONLY anomalies (the batch census
    * shape) and withholds each key's final open bucket. Not a single
    * double anywhere — closure state is three longs per key. */
  def anomalyMonitor(events: DataFrame,
      profile: Map[(String, Long), Long],
      stats: Map[String, (Long, Long, Long)]): Dataset[AnomMonRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val H = graft.operators.Flow.HourUs
    events.select($"event_type", $"ts_us", $"value")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomMonState, AnomMonRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (etype, it, state) =>
          val (m, q, n) = stats.getOrElse(etype, (0L, 0L, 0L))
          // BigInt mirrors the batch query's decimal128 comparison:
          // n·q reaches ~1e20 once a key holds ~1e4 trained buckets of
          // ~1e6-centi residuals — past int64
          val rhs = BigInt(9) * (BigInt(n) * q - BigInt(m) * m)
          val acc = scala.collection.mutable.Map[Long, (Long, Long)]()
          it.foreach { case (_, ts, v) =>
            val b = ts / H
            val (s0, n0) = acc.getOrElse(b, (0L, 0L))
            acc(b) = (s0 + math.round(v * 100), n0 + 1L)
          }
          val out = scala.collection.mutable.ArrayBuffer[AnomMonRow]()
          var st = state.getOption.orNull
          def close(): Unit = if (st != null) {
            val x = math.floor((st.sum * 100).toDouble / st.n).toLong
            val resid = x - profile.getOrElse((etype, st.openBucket % 24), x)
            if (BigInt(resid) * resid * n * n > rhs)
              out += AnomMonRow(etype, st.openBucket, x, resid,
                late_drops = st.late)
          }
          acc.toSeq.sortBy(_._1).foreach { case (b, (s, cnt)) =>
            if (st == null) st = AnomMonState(b, s, cnt)
            else if (b == st.openBucket) {
              st = st.copy(sum = st.sum + s, n = st.n + cnt)
            } else if (b < st.openBucket) {
              // late rows for a closed bucket: dropped but COUNTED (see
              // resampleMonitor — closed rows cannot be retracted)
              st = st.copy(late = st.late + cnt)
            } else {
              close()
              st = AnomMonState(b, s, cnt, st.late)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  case class CellOccState(nNew: Long, sumCos: Double)
  case class CellOcc(cell: Int, n_new: Long, mean_cos_new: Double)

  /** Streaming vector-index ingestion monitor — the live twin of batch
    * `ann_ivf_append`: vectors route into the STANDING IVF index as
    * they arrive (centroids trained on the base corpus, frozen and
    * shipped in the closure — a real deployment broadcasts the same
    * k x Dim doubles), and per cell the monitor carries running
    * (n_new, Σcos) occupancy state, emitting the updated audit row on
    * every batch that touches the cell. Assignment replicates the batch
    * ranking bit for bit: cosine against each centroid is rounded
    * HALF_UP to 6 decimals (the `round(_, 6)` the batch ranker applies
    * before its window) and ties break toward the smaller cell id, so
    * the streamed occupancy counts equal `ann_ivf_append`'s `n_new`
    * exactly (StreamingSpec replays the delta batch and asserts it).
    * State is O(1) per cell and the KEY SPACE IS BOUNDED by the index's
    * cell count, so NoTimeout is safe by the bounded-key-space ledger
    * (§"State-lifetime policy"). */
  def vecMonitor(vecs: DataFrame,
      centroids: Seq[(Int, Array[Double])]): Dataset[CellOcc] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents = centroids.sortBy(_._1).toArray
    val cnorms = cents.map { case (_, c) =>
      math.sqrt(c.map(x => x * x).sum) }
    vecs.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .map { case (_, emb) =>
        val vn = math.sqrt(emb.map(x => x.toDouble * x).sum)
        var best = -1
        var bestCos = Double.NegativeInfinity
        var k = 0
        while (k < cents.length) {
          val c = cents(k)._2
          var dt = 0.0
          var i = 0
          while (i < c.length) { dt += emb(i).toDouble * c(i); i += 1 }
          val cos = BigDecimal(dt / (vn * cnorms(k)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (cos > bestCos) { bestCos = cos; best = cents(k)._1 }
          k += 1
        }
        (best, bestCos)
      }
      .groupByKey(_._1)
      .mapGroupsWithState[CellOccState, CellOcc](
        GroupStateTimeout.NoTimeout) { (cell, it, state) =>
        var n = state.getOption.map(_.nNew).getOrElse(0L)
        var s = state.getOption.map(_.sumCos).getOrElse(0.0)
        it.foreach { case (_, cos) => n += 1; s += cos }
        state.update(CellOccState(n, s))
        CellOcc(cell, n, s / n)
      }
  }

  case class FunnelState(stage: Int, tLast: Long)
  case class FunnelProgress(user_id: Long, stage: Long, event_type: String,
    ts_us: Long)

  /** Streaming funnel monitor — the live twin of batch `events_funnel`:
    * per user, an FSM carrying (stage completed, first-completion time)
    * advances whenever the NEXT step's event type arrives inside the
    * completion window after the previous step, and each advance emits
    * a progress row — real-time conversion counting instead of the
    * batch cross-tab. Within a batch, events replay in (ts, event_type)
    * order, which reproduces the batch "min qualifying timestamp"
    * semantics exactly (the first qualifying arrival IS the min when
    * processed in time order); StreamingSpec replays the corpus across
    * a trigger boundary and asserts the per-step completion counts
    * equal `events_funnel`'s.
    *
    * State is TWO fields per user. The key space is the user
    * population — unbounded on an infinite stream — so the monitor
    * takes the same `retention` TTL dial as the ingest monitors: a
    * user idle past the horizon is dropped (their funnel could only
    * re-enter the window via a fresh signup anyway); None keeps
    * full-history semantics for bounded replays. */
  def funnelMonitor(events: DataFrame,
      retention: Option[String] = None): Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    val steps = graft.operators.Keyed.FunnelSteps
    val win = graft.operators.Keyed.FunnelWindowUs
    retention.foreach(_ => warnAsapRetention(spark))
    val timeoutConf =
      if (retention.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.select($"user_id", $"event_type", $"ts_us")
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), timeoutConf) {
        case (uid, it, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(0, 0L))
            val out = scala.collection.mutable.ArrayBuffer[FunnelProgress]()
            it.toSeq.sortBy(e => (e._3, e._2)).foreach { case (_, et, ts) =>
              if (st.stage < steps.length && et == steps(st.stage) &&
                (st.stage == 0 || (ts > st.tLast && ts <= st.tLast + win))) {
                st = FunnelState(st.stage + 1, ts)
                out += FunnelProgress(uid, st.stage.toLong, et, ts)
              }
            }
            state.update(st)
            retention.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  case class VpinState(cum: Long, openVb: Long, buy: Long, sell: Long,
      n: Long, ois: Seq[Long])
  case class VpinRow(vb: Long, buy_vol: Long, sell_vol: Long,
      n_trades: Long, oi: Long, vpin: Double)

  /** Streaming VPIN — the VOLUME-CLOCK rung of the monitor ladder (every
    * other monitor closes buckets on event time; this one closes them
    * when traded volume fills the bucket, the whole point of Easley et
    * al.'s estimator). Live twin of batch `flow_vpin`
    * ([[graft.operators.Flow]]): the carried state is the volume clock
    * itself (cumulative volume), the open bucket's integer
    * (buy, sell, n), and the trailing ≤[[graft.operators.Flow.VpinWindow]]-1
    * closed-bucket imbalances — O(window) longs, no per-trade memory.
    * A trade lands wholly in the bucket its STARTING cumulative volume
    * falls in (the batch trade-indivisible convention), so a bucket
    * closes exactly when a later trade's start crosses the boundary;
    * the closed row's vpin divides the same exact-integer operands as
    * the batch window, so rows match bitwise. The open bucket is
    * withheld until the volume clock fills it (emit-on-close). The
    * volume clock is the monitor's own fold — monotone by construction —
    * so no late-bucket guard is needed. Trades replay in (ts_us,
    * event_id) order within a trigger, like every ledger monitor. */
  def vpinMonitor(events: DataFrame,
      bucketVol: Long = graft.operators.Flow.VpinBucketVol): Dataset[VpinRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val win = graft.operators.Flow.VpinWindow
    val buyTypes = graft.sources.Tables.BuyTypes.toSet
    events
      .select($"event_id", $"ts_us", $"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_ => "CLOCK")
      .flatMapGroupsWithState[VpinState, VpinRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, it, state) =>
          var st = state.getOption.getOrElse(
            VpinState(0L, 0L, 0L, 0L, 0L, Nil))
          val out = scala.collection.mutable.ArrayBuffer[VpinRow]()
          it.toSeq.sortBy(e => (e._2, e._1)).foreach {
            case (_, _, etype, k) =>
              val vb = st.cum / bucketVol
              if (st.n > 0 && vb > st.openVb) {
                // close the open bucket: its oi joins the trailing
                // window and the row ships with the batch's exact
                // long/long -> double division
                val oi = math.abs(st.buy - st.sell)
                val w = (st.ois :+ oi).takeRight(win)
                out += VpinRow(st.openVb, st.buy, st.sell, st.n, oi,
                  w.sum.toDouble / (w.size.toLong * bucketVol).toDouble)
                st = VpinState(st.cum, vb, 0L, 0L, 0L,
                  (st.ois :+ oi).takeRight(win - 1))
              } else if (st.n == 0) st = st.copy(openVb = vb)
              val buy = if (buyTypes(etype)) k else 0L
              st = st.copy(cum = st.cum + k, buy = st.buy + buy,
                sell = st.sell + (k - buy), n = st.n + 1)
          }
          state.update(st)
          out.iterator
      }
  }

  case class TimedDoc(doc_id: Long, text: String, ts: Timestamp)
  case class HhGrid(cells: Array[Long])

  /** Streaming heavy-hitter ALERT monitor — the missing rung between
    * [[cmsMonitor]] (the live count-min grid) and [[throttledAlerts]]
    * (the telegram_notifier.py:87-103 throttle): per document, every
    * gram folds into the carried d×w count-min grid, and a gram whose
    * post-increment estimate (min over its d cells) reaches `threshold`
    * emits an [[Alert]] keyed by the gram — the reference's alert
    * producers (strategy.py:701-712, 921-930) raise on a condition and
    * leave rate limiting to the notifier, so re-alerts on later
    * occurrences are CORRECT here and [[hhAlerts]] pipes them through
    * the 5 s throttle, completing the producer→throttle→sink chain.
    *
    * State is the grid alone — O(d·w) longs, the same bounded footprint
    * the batch `text_heavy_hitters` query calls "the only state a
    * streaming frequency monitor would keep" — NOT per-gram memory: an
    * unbounded gram ledger is exactly what the sketch exists to avoid,
    * which is why crossing is re-detected per occurrence (throttling is
    * the dedup, as in the reference). Keyed on a constant like
    * [[drawdownMonitor]]; a sharded deployment would key the grid's d
    * rows separately (a gram alerts when ALL d row-cells clear the
    * threshold — min ≥ T ⟺ every cell ≥ T) at the cost of a per-gram
    * d-way rendezvous. Docs replay in (ts, doc_id) order within a
    * trigger; at most one alert per (gram, document). */
  def hhAlertMonitor(docs: DataFrame, threshold: Long): Dataset[Alert] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val T = graft.operators.TextAnalysis
    val d = T.CmsD
    val w = T.CmsW
    // primitive copies so the state closure serializes without
    // capturing the operator module
    val (as, bs, p) = T.cmsParamsJvm
    docs
      .select($"doc_id", $"ts", T.gramHashArr(T.tokensCol).as("ghs"))
      .as[(Long, Timestamp, Seq[Long])]
      .groupByKey(_ => "GRID")
      .flatMapGroupsWithState[HhGrid, Alert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, it, state) =>
          val cells = state.getOption.map(_.cells)
            .getOrElse(Array.fill(d * w)(0L))
          val out = scala.collection.mutable.ArrayBuffer[Alert]()
          it.toSeq.sortBy(e => (e._2.getTime, e._1)).foreach {
            case (_, ts, ghs) =>
              val alerted = scala.collection.mutable.Set[Long]()
              ghs.foreach { gh =>
                var est = Long.MaxValue
                var j = 0
                while (j < d) {
                  val c = j * w + (((as(j) * gh + bs(j)) % p) % w).toInt
                  cells(c) += 1
                  if (cells(c) < est) est = cells(c)
                  j += 1
                }
                if (est >= threshold && alerted.add(gh))
                  out += Alert(gh.toString, ts,
                    s"heavy hitter: gram $gh est=$est")
              }
          }
          state.update(HhGrid(cells))
          out.iterator
      }
  }

  /** The end-to-end alerting chain: heavy-hitter detection feeding the
    * throttled alert sink — one alert per gram per `throttleMs` window,
    * however often the condition re-fires (the notifier's contract). */
  def hhAlerts(docs: DataFrame, threshold: Long,
      throttleMs: Long = 5000L): Dataset[Alert] =
    throttledAlerts(hhAlertMonitor(docs, threshold), throttleMs)

  def cmsMonitor(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val T = graft.operators.TextAnalysis
    docs
      .select(explode(T.gramHashArr(T.tokensCol)).as("gh"))
      .select(explode(array((0 until T.CmsD).map(j => struct(
        lit(j).as("row_id"),
        T.cmsBucket(j, $"gh").as("bucket"))): _*)).as("p"))
      .select($"p.row_id", $"p.bucket")
      .groupBy($"row_id", $"bucket")
      .agg(count(lit(1)).as("cell"))
  }

  /** Streaming model-quality monitor: the serve-side of the
    * `ml_logreg` lifecycle. Weights train offline (one `ml_logreg`
    * batch run) and ship as LITERALS into the live scorer — the
    * fastText-serving pattern (`text_classifier_score`): zero shuffles
    * to score, and the monitor's only state is the running confusion
    * census (a global streaming aggregation in Complete mode, five
    * counters of state total). The score expression is
    * [[graft.operators.Regress.lrPExpr]] — the IDENTICAL textual op
    * sequence the trainer and evaluator use — so a served prediction
    * can never disagree with the batch evaluation on the same row
    * (spec-proven: random trigger cuts end at `ml_logreg_eval`'s exact
    * confusion). At 100 TB the same graph monitors live model drift:
    * the census is per-trigger-incremental and the scorer is
    * stateless per row. */
  def modelMonitor(lines: DataFrame, b0: Double, bq: Double, bd: Double): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines
      .selectExpr(graft.operators.Regress.lrBase: _*)
      .withColumn("b0", lit(b0))
      .withColumn("bq", lit(bq))
      .withColumn("bd", lit(bd))
      .selectExpr("y", graft.operators.Regress.lrPExpr)
      .groupBy()
      .agg(
        count(lit(1)).as("n"),
        sum(expr("case when p >= 0.5 and y = 1.0 then 1 else 0 end")).as("tp"),
        sum(expr("case when p >= 0.5 and y = 0.0 then 1 else 0 end")).as("fp"),
        sum(expr("case when p < 0.5 and y = 1.0 then 1 else 0 end")).as("fn"),
        sum(expr("case when p < 0.5 and y = 0.0 then 1 else 0 end")).as("tn"))
      .selectExpr("n", "tp", "fp", "fn", "tn",
        "cast(tp + tn as double) / n as accuracy")
  }
}
