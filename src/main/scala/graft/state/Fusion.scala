package graft.state

import java.sql.Timestamp

/** The EP1 hot path as a pure fold: per finalized signal bar, EVERY
  * signal family of the batch cascade — rolling z, normalized CVD,
  * incremental EMA + trend hysteresis, EXACT multi-TF liquidity velocity
  * (Σqty/Σ|ΔP| rollups over 1/5/15-bar rings with the micro-trap flag)
  * plus the volume-rate ratio,
  * the order-book trio (imbalance / wall / touch over the bar's top-k
  * level arrays, strategy.py:939-998,1046-1068), ATR% regime, and the
  * aether components (trailing-ring Hurst, bar-ring BOS, closed-form
  * MC / Bayes / RL, aether_oracle.py:155-341) — then the FULL fused
  * scoring cascade ([[Scoring.score]] ≡ `Scores.scored`, asserted by
  * ScoringSpec), Kelly + win-prob, the entry side, and the position
  * FSM, in ONE `(state, bar) => (state, out)` transition (reference
  * per-tick loop: strategy.py:334-443).
  *
  * Pure like [[Fsm]], and for the same reason: the streaming path
  * (`Streams.fusedStream`, `flatMapGroupsWithState`) and the batch replay
  * (`Streams.fusedBatch`, `flatMapGroups`) share this single transition,
  * so live and replay CANNOT drift — the equivalence is asserted
  * end-to-end in StreamingSpec.
  *
  * Scale shape: inputs are already-aggregated per-(symbol, window) bars
  * — the shuffle carries one row per bar (the book levels arrive
  * depth-capped at [[graft.operators.Book.Depth]] per side), and the
  * state is O(ring) per symbol (~25 KB: 3000 deltas + the small ATR /
  * Hurst / BOS rings), exactly the `flatMapGroupsWithState` budget the
  * rest of the engine uses.
  *
  * Deliberate live-vs-batch grain deviations (documented, spec'd):
  * Hurst folds over a TRAILING 20-bar ring (the reference's per-tick
  * rescan) where the batch `lm_hurst` evaluates tumbling 20-bar groups;
  * BOS is single-TF at the stream's bar grain where batch `lm_bos`
  * averages three timeframes; LV/vol-factor use the stream's bar as
  * their unit TF where the batch queries use 15m/1h/4h buckets — the
  * FORMULAS (sum/sum rollups, ratio clamp) are the batch ones exactly,
  * asserted in StreamingSpec; z is unquantized (batch rounds to 6
  * decimals purely for the cross-engine oracle compare).
  */
object Fusion {

  /** One finalized per-(symbol, window) signal bar: OHLC + taker flow +
    * the bar's within-window price-path length `dp` (Σ|ΔP| over the
    * bar's (ts, price)-ordered trades — the liquidity-velocity
    * denominator, aether_oracle.py:89) + the bar's
    * top-[[graft.operators.Book.Depth]] book level quantities per side,
    * qty-desc sorted (empty when no book feed exists). */
  case class SigBar(symbol: String, win_start: Timestamp, open: Double,
      high: Double, low: Double, close: Double, volume: Double,
      buy_vol: Double, sell_vol: Double,
      bids: Seq[Double] = Nil, asks: Seq[Double] = Nil, dp: Double = 0.0)

  case class FusionState(ring: Vector[Double], ema: Option[Double],
      trend: Fsm.TrendState, closes: Vector[Double],
      prevClose: Option[Double], trs: Vector[Double], rets: Vector[Double],
      bars: Vector[(Double, Double)], pos: Fsm.PosState,
      lvRing: Vector[(Double, Double)] = Vector.empty,
      volRing: Vector[Double] = Vector.empty)

  /** The fused frame row + the FSM event it produced (if any), flattened
    * so one append-mode stream carries the whole decision: the component
    * inputs (z..atr_pct), the cascade outputs (regime..total_short), the
    * entry side, and the FSM columns. */
  case class FusedOut(symbol: String, win_start: Timestamp, close: Double,
      delta: Double, z: Option[Double], cvd: Double, ema: Double,
      trend: String, lv_1m: Double, lv_5m: Double, lv_15m: Double,
      micro_trap: Boolean, vol_factor: Double, imbalance: Option[Double],
      bid_wall: Option[Double], ask_wall: Option[Double],
      bid_touch_ok: Boolean, ask_touch_ok: Boolean, bos: Option[Double],
      hurst: Option[Double], atr_pct: Option[Double], regime: String,
      core_long: Double, core_short: Double, fused_long: Double,
      fused_short: Double, kelly_long: Double, kelly_short: Double,
      winprob_long: Double, winprob_short: Double, total_long: Double,
      total_short: Double, side: String, action: Option[String],
      pnl: Option[Double], reason: Option[String])

  val Span = 20         // EMA span (data_manager.py:721-745)
  val ZPop = 3000       // population ring (strategy.py:58)
  val ZMin = 30         // minimum population (strategy.py:1024)
  val LvMid = 5         // LV middle TF in bars (reference 300 s / 60 s)
  val LvLong = 15       // LV long TF in bars (reference 900 s / 60 s)
  val VolBase = 24      // volume-rate baseline bars (flow_volrate's 24 h)

  def init: FusionState =
    FusionState(Vector.empty, None, Fsm.trendInit, Vector.empty, None,
      Vector.empty, Vector.empty, Vector.empty, Fsm.initState)

  private def clamp(x: Double, lo: Double, hi: Double): Double =
    math.max(lo, math.min(hi, x))

  /** One multi-TF LV + volume-rate step over the trailing rings — THE
    * single implementation of the liquidity-velocity/vol-factor formulas
    * (sum-over-sum rollups, micro-trap, ratio clamp), shared by the fused
    * fold below and the standalone `Streams.lvStream` so the two live
    * surfaces cannot drift. */
  case class LvTick(lv1: Double, lv5: Double, lv15: Double,
      microTrap: Boolean, volFactor: Double,
      ring: Vector[(Double, Double)], volRing: Vector[Double])

  def lvStep(ring0: Vector[(Double, Double)], volRing0: Vector[Double],
      qty: Double, dp: Double): LvTick = {
    val ring = (ring0 :+ ((qty, dp))).takeRight(LvLong)
    def lvOver(n: Int): Double = {
      val w = ring.takeRight(n)
      w.map(_._1).sum / (w.map(_._2).sum + 1e-6)
    }
    val lv1 = lvOver(1)
    val lv5 = lvOver(LvMid)
    val volRing = (volRing0 :+ qty).takeRight(VolBase)
    LvTick(lv1, lv5, lvOver(LvLong), lv1 > 1.5 * lv5,
      clamp(qty / (volRing.sum / volRing.length), 0.5, 2.0), ring, volRing)
  }

  /** Preallocated circular taker-delta ring — the per-event service's
    * z-ring twin ([[hotStep]]). Walks OLDEST -> NEWEST, the exact
    * left-to-right order [[step]]'s Vector folds use, so the two paths'
    * FP summation trees are identical addition-for-addition (the replay
    * specs pin stream ≡ batch bit-for-bit); the only difference is zero
    * allocation per event (no boxed Vector append / takeRight churn —
    * the GC-pause source behind ReflexBench's pre-r14 2.4 ms p99.9). */
  final class ZRing(cap: Int = ZPop) {
    private val a = new Array[Double](cap)
    private var head = 0 // index of the oldest element
    private var n = 0
    def length: Int = n
    def push(x: Double): Unit =
      if (n < cap) { a((head + n) % cap) = x; n += 1 }
      else { a(head) = x; head = (head + 1) % cap }
    /** (mu, sigma) over the ring — same two-fold walk as [[step]]. */
    def stats: (Double, Double) = {
      var s1 = 0.0; var i = 0
      while (i < n) { s1 += a((head + i) % cap); i += 1 }
      val mu = s1 / n
      var s2 = 0.0; i = 0
      while (i < n) { val d = a((head + i) % cap) - mu; s2 += d * d; i += 1 }
      (mu, math.sqrt(s2 / n))
    }
  }

  /** Push `delta` onto the trailing [[ZPop]] ring and score it against
    * the ring's population mean/σ (ddof=0; None below [[ZMin]] or at
    * zero spread) — the rolling z of [[step]] and `Streams.zscoreStream`
    * (strategy.py:1022-1044). Two explicit left-to-right folds, NOT
    * ring.sum / ring.map(..).sum: same addition order bit-for-bit (the
    * replay specs pin stream ≡ batch), but no boxed intermediate vector.
    * The O(ZPop) walk is kept deliberately (a subtract-on-evict running
    * sum would change the FP summation tree and break bit-parity with
    * the batch twin); the per-event service avoids the append/evict
    * allocation instead ([[hotStep]] over [[ZRing]], same walk order). */
  def zPush(ring0: Vector[Double], delta: Double): (Vector[Double], Option[Double]) = {
    val ring = (ring0 :+ delta).takeRight(ZPop)
    val n = ring.length
    var s1 = 0.0
    ring.foreach(s1 += _)
    val mu = s1 / n
    var s2 = 0.0
    ring.foreach { x => val d = x - mu; s2 += d * d }
    val sigma = math.sqrt(s2 / n)
    (ring, if (n >= ZMin && sigma > 0) Some((delta - mu) / sigma) else None)
  }

  def step(st: FusionState, b: SigBar): (FusionState, FusedOut) = {
    val delta = b.buy_vol - b.sell_vol
    val (ring, z) = zPush(st.ring, delta)
    val (st2, out) = stepCore(st, b, delta, z)
    (st2.copy(ring = ring), out)
  }

  /** [[step]] with the z-ring externalized into a mutable [[ZRing]]:
    * the per-event deployment's transition (EP1, PLANS.md §"Round-12
    * EP1 latency"). Identical outputs bit-for-bit (FusionHotSpec folds
    * both paths over the same bar stream past ring saturation); the
    * returned state's `ring` field stays EMPTY — the ZRing owns that
    * state, so keep the pair (zr, st) together per symbol. */
  def hotStep(zr: ZRing, st: FusionState, b: SigBar): (FusionState, FusedOut) = {
    val delta = b.buy_vol - b.sell_vol
    zr.push(delta)
    val n = zr.length
    val (mu, sigma) = zr.stats
    val z =
      if (n >= ZMin && sigma > 0) Some((delta - mu) / sigma) else None
    stepCore(st, b, delta, z)
  }

  /** Everything after the z-ring — the single body both [[step]] and
    * [[hotStep]] run, so the batch/streaming path and the per-event
    * path cannot drift. Returns the state with `ring` UNTOUCHED (the
    * caller owns the ring representation). */
  private def stepCore(st: FusionState, b: SigBar, delta: Double,
      z: Option[Double]): (FusionState, FusedOut) = {
    // normalized CVD (aether_oracle.py:123-153)
    val tot = b.buy_vol + b.sell_vol
    val cvd = if (tot == 0.0) 0.0 else clamp(delta / tot, -1.0, 1.0)
    // incremental EMA + trend hysteresis (data_manager.py:721-745,1047-1067)
    val alpha = 2.0 / (Span + 1.0)
    val ema = st.ema match {
      case Some(e) => alpha * b.close + (1.0 - alpha) * e
      case None => b.close
    }
    val raw =
      if (b.close > ema * 1.02) "UPTREND"
      else if (b.close < ema * 0.98) "DOWNTREND"
      else "RANGEBOUND"
    val trend = Fsm.trendStep(st.trend, raw)
    // EXACT multi-TF liquidity velocity (aether_oracle.py:77-121, the
    // batch flow_lv semantics at the stream's bar grain): the bar's dp is
    // its within-window price-path length; the boundary pair between this
    // bar's first trade and the previous bar's last lands HERE (the bucket
    // of the later event — the same convention Flow.lvDf documents), so
    // the multi-TF sums are exact rollups: LV_n = Σvol(n) / (Σdp(n) + ε).
    // micro_trap fires when the shortest TF runs hot vs the middle one
    // (lv_1m > 1.5·lv_5m, aether_oracle.py:116-119).
    val dpB = b.dp + st.prevClose.map(pc => math.abs(b.open - pc)).getOrElse(0.0)
    // volume-rate ratio at bar grain (data_manager.py:1005-1035): current
    // bar volume vs the trailing-24-bar mean, clamped [0.5, 2.0] — the
    // flow_volrate twin (the /sec normalization cancels at one grain)
    val lv = lvStep(st.lvRing, st.volRing, b.volume, dpB)
    // ATR% regime inputs: TR + return vs the previous close
    val (tr, ret) = st.prevClose match {
      case Some(pc) =>
        (Some(math.max(b.high - b.low,
          math.max(math.abs(b.high - pc), math.abs(b.low - pc)))),
          if (pc != 0.0) Some((b.close - pc) / pc) else None)
      case None => (None, None)
    }
    val trs = (st.trs ++ tr).takeRight(graft.operators.Bars.AtrN)
    val rets = (st.rets ++ ret).takeRight(graft.operators.Bars.RvN)
    val atrPct = Scoring.atrPct(trs, rets, b.close)
    // aether long-memory components over their trailing rings
    val closes = (st.closes :+ b.close)
      .takeRight(graft.operators.LongMemory.HurstN)
    val hurst = Scoring.hurst(closes)
    val bos = Scoring.bos(st.bars, b.close)
    val bars = (st.bars :+ ((b.high, b.low)))
      .takeRight(graft.operators.LongMemory.BosBars)
    // the book trio over the bar's depth-capped level arrays
    val bk = Scoring.bookSignals(b.bids, b.asks, b.close)
    // the full cascade — exactly Scores.scored's formulas (ScoringSpec);
    // the LV input is the long-TF reading (the batch cascade consumes the
    // hour-grain lv_1h; lv_15m is the stream's longest TF)
    val sc = Scoring.score(Scoring.SignalIn(b.close, atrPct, z, cvd,
      bk.imbalance, bk.bidWall, bk.askWall, bk.bidTouchOk, bk.askTouchOk,
      Some(lv.lv15), bos, hurst))
    // position FSM; the trailing stop arms in the HIGH-vol regime, the
    // same trail_arm the batch FSM input derives (Stateful.fsmInput)
    val bucket = b.win_start.getTime / 60000L
    val (pos2, ev) = Fsm.step(st.pos,
      Fsm.FsmIn(bucket, b.close, b.high, b.low, sc.side,
        sc.totalLong, sc.totalShort, trail_arm = sc.regime == "HIGH",
        symbol = b.symbol))
    val out = FusedOut(b.symbol, b.win_start, b.close, delta, z, cvd, ema,
      trend.confirmed, lv.lv1, lv.lv5, lv.lv15, lv.microTrap, lv.volFactor,
      bk.imbalance, bk.bidWall, bk.askWall,
      bk.bidTouchOk, bk.askTouchOk, bos, hurst, atrPct, sc.regime,
      sc.coreLong, sc.coreShort, sc.fusedLong, sc.fusedShort,
      sc.kellyLong, sc.kellyShort, sc.winprobLong, sc.winprobShort,
      sc.totalLong, sc.totalShort, sc.side,
      ev.map(_.action), ev.flatMap(_.pnl), ev.flatMap(_.reason))
    (FusionState(st.ring, Some(ema), trend, closes, Some(b.close), trs, rets,
      bars, pos2, lv.ring, lv.volRing), out)
  }

  /** Fold a win_start-sorted iterator of bars into the fused stream. */
  def run(rows: Iterator[SigBar]): Iterator[FusedOut] = {
    var st = init
    rows.map { b =>
      val (st2, out) = step(st, b)
      st = st2
      out
    }
  }
}
