package graft

import graft.operators.{Bars, Flow}

/** Hand-computed semantics for the flow and bar operators over a tiny
  * events fixture (SURVEY §5.1): conditional-sum delta, OHLC
  * open/high/low/close by arrival order, and the EMA adjust=False
  * recursion.
  */
class FlowBarsSpec extends SparkSpec {

  // Two hours of events; ts in nanos. Hour bucket h0 and h0+1.
  private val h0 = 473000L
  private def ns(hour: Long, sec: Long): Long =
    (hour * 3600L * 1000000L + sec * 1000000L) * 1000L

  private lazy val dir = writeEventsFixture(Seq(
    // (event_id, ts_ns, user_id, event_type, value)
    (1L, ns(h0, 0), 1L, "click", 10.0),     // buy
    (2L, ns(h0, 60), 2L, "error", 20.0),    // sell
    (3L, ns(h0, 120), 3L, "view", 30.0),    // buy
    (4L, ns(h0 + 1, 10), 1L, "signup", 5.0), // sell
    (5L, ns(h0 + 1, 70), 2L, "purchase", 15.0))) // buy

  test("taker delta: conditional sums per 10-minute bucket") {
    val d = rowsOf(Flow.queries("flow_delta")(spark, dir))
      .map(m => m("bucket") -> m).toMap
    val b0 = h0 * 6 // 10-minute buckets per hour
    assert(d(b0)("buy_vol") == 40.0)
    assert(d(b0)("sell_vol") == 20.0)
    assert(d(b0)("delta") == 20.0)
    val b1 = (h0 + 1) * 6
    assert(d(b1)("delta") == 15.0 - 5.0)
  }

  test("cvd: clamped normalized delta") {
    val c = rowsOf(Flow.queries("flow_cvd")(spark, dir))
      .map(m => m("bucket") -> m("cvd")).toMap
    assert(c(h0 * 6) == (40.0 - 20.0) / 60.0)
    assert(c((h0 + 1) * 6) == 10.0 / 20.0)
  }

  test("OHLC: first/last by arrival, extremes by value") {
    val o = rowsOf(Bars.queries("bars_ohlc")(spark, dir))
      .map(m => m("bucket") -> m).toMap
    val bar = o(h0)
    assert(bar("open") == 10.0 && bar("close") == 30.0)
    assert(bar("high") == 30.0 && bar("low") == 10.0)
    assert(bar("volume") == 60.0 && bar("n_ticks") == 3L)
    assert(o(h0 + 1)("open") == 5.0 && o(h0 + 1)("close") == 15.0)
  }

  test("VWAP: per-bar and day-anchored values match the hand computation") {
    // fixture props carry k = 1, so sizes are unit: vwap(h0) = mean
    // (10,20,30) = 20; vwap(h0+1) = mean(5,15) = 10; the day-anchored
    // running vwap at h0+1 blends both bars: (60+20)/(3+2) = 16
    val v = rowsOf(Bars.queries("bars_vwap")(spark, dir))
      .map(m => m("bucket") -> m).toMap
    assert(v(h0)("vwap") == 20.0 && v(h0)("avwap") == 20.0)
    assert(v(h0)("size_sum") == 3L && v(h0 + 1)("size_sum") == 2L)
    assert(v(h0 + 1)("vwap") == 10.0)
    assert(v(h0 + 1)("avwap") == 16.0)
    // corpus invariant: a weighted mean stays inside the bar's range
    val sf = rowsOf(Bars.queries("bars_vwap")(spark, sfDir()))
    val ohlc = rowsOf(Bars.queries("bars_ohlc")(spark, sfDir()))
      .map(m => m("bucket") -> m).toMap
    assert(sf.nonEmpty)
    sf.filter(_("vwap") != null).foreach { m =>
      val b = ohlc(m("bucket"))
      val (lo, hi) = (b("low").asInstanceOf[Double],
        b("high").asInstanceOf[Double])
      val w = m("vwap").asInstanceOf[Double]
      assert(w >= lo - 0.01 && w <= hi + 0.01, s"vwap outside bar range: $m")
    }
  }

  test("EMA matches the adjust=False recursion computed by hand") {
    val e = rowsOf(Bars.queries("bars_ema")(spark, dir))
      .sortBy(_("bucket").asInstanceOf[Long])
    val closes = Seq(30.0, 15.0)
    val alpha = 2.0 / 21.0
    val expected = closes.tail.scanLeft(closes.head)((acc, x) =>
      alpha * x + (1 - alpha) * acc)
    e.map(_("ema").asInstanceOf[Double]).zip(expected).foreach {
      case (got, exp) => assert(math.abs(got - exp) < 1e-12)
    }
  }

  test("z-score withholds until the population minimum") {
    // fewer than 30 delta buckets -> z must be null everywhere here
    val z = rowsOf(Flow.queries("flow_zscore")(spark, dir))
    assert(z.nonEmpty && z.forall(_("z") == null))
    assert(z.forall(_("signal") == "NONE"))
  }

  test("z-score on real data: population stats kick in after 30 buckets") {
    val z = rowsOf(Flow.queries("flow_zscore")(spark, sfDir()))
      .sortBy(_("bucket").asInstanceOf[Long])
    assert(z.take(29).forall(_("z") == null))
    assert(z.drop(30).exists(_("z") != null))
    // z is shift-invariant around its own mean: |z| stays bounded in sane data
    val zs = z.flatMap(m => Option(m("z")).map(_.asInstanceOf[Double]))
    assert(zs.forall(v => math.abs(v) < 50))
  }

  test("ATR falls back to realized vol below 10 true ranges") {
    val a = rowsOf(Bars.queries("bars_atr")(spark, sfDir()))
      .sortBy(_("bucket").asInstanceOf[Long])
    // bucket 0 has no prev close -> tr null; first 10 rows use the fallback
    assert(a.head("tr") == null)
    assert(a.size > 20)
    // from row 11 onward atr_pct must be defined
    assert(a.drop(11).forall(_("atr_pct") != null))
  }

  test("flow_lv plan: the raw-event lag is partitioned by the finest bucket") {
    // the lv_q15 memo frame's build plan (the first cached relation in
    // flow_lv). The only window touching raw events must carry the b15
    // partition key — an UNpartitioned lag over events pulls the whole
    // table through one task, the scale killer this formulation exists
    // to avoid
    val plan = memoBuildPlan(Flow.queries("flow_lv")(spark, sfDir()))
    assert(plan.contains("windowspecdefinition(b15"),
      s"expected b15-partitioned lag:\n$plan")
    assert(!plan.contains("windowspecdefinition(event_id"),
      s"unpartitioned raw-event window found:\n$plan")
  }

  test("drawdown: running peak monotone, bps match the hand computation") {
    import spark.implicits._
    val rows = rowsOf(Bars.queries("bars_drawdown")(spark, dir))
      .sortBy(_("bucket").asInstanceOf[Long])
    // fixture closes: h0 -> 30.0 (last by arrival), h0+1 -> 15.0
    assert(rows.map(_("close_cents")) == Seq(3000L, 1500L))
    assert(rows.map(_("peak_cents")) == Seq(3000L, 3000L))
    assert(rows.map(_("dd_bps")) == Seq(0L, 5000L))
    // property on real data: peak never decreases, dd in [0, 10000),
    // dd == 0 exactly where close == peak
    val real = rowsOf(Bars.queries("bars_drawdown")(spark, "/root/testdata/sf0.001"))
      .sortBy(_("bucket").asInstanceOf[Long])
    assert(real.nonEmpty)
    val peaks = real.map(_("peak_cents").asInstanceOf[Long])
    assert(peaks == peaks.scanLeft(Long.MinValue)(math.max).tail)
    real.foreach { m =>
      val dd = m("dd_bps").asInstanceOf[Long]
      assert(dd >= 0L && dd < 10000L)
      assert((dd == 0L) ==
        (m("close_cents") == m("peak_cents")) ||
        // floor can land on 0 for a sub-bp dip just off the peak
        (m("peak_cents").asInstanceOf[Long] -
          m("close_cents").asInstanceOf[Long]) * 10000L <
          m("peak_cents").asInstanceOf[Long])
    }
  }

  test("holt: coupled level/trend recursion matches the hand computation") {
    val rows = rowsOf(Bars.queries("bars_holt")(spark, dir))
      .sortBy(_("bucket").asInstanceOf[Long])
    // fixture closes: 30.0 then 15.0
    // bar 1: seed [30, 0] -> forecast 30
    assert(rows(0)("level") == 30.0 && rows(0)("trend") == 0.0)
    assert(rows(0)("forecast_next") == 30.0)
    // bar 2: l' = .25*15 + .75*30 = 26.25; b' = .125*(26.25-30) = -0.46875
    assert(rows(1)("level") == 26.25)
    assert(rows(1)("trend") == -0.46875)
    assert(rows(1)("forecast_next") == 25.78125)
    // real data: forecast = level + trend everywhere, and a constant
    // series would pin trend at 0 (checked via the fixture seed row)
    val real = rowsOf(Bars.queries("bars_holt")(spark, "/root/testdata/sf0.001"))
    assert(real.nonEmpty)
    real.foreach { m =>
      assert(m("forecast_next") ==
        m("level").asInstanceOf[Double] + m("trend").asInstanceOf[Double])
    }
  }

  test("flow_resample: complete per-type hourly grid, gaps filled from the last observation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = sfDir()
    val rs = Flow.queries("flow_resample")(spark, dir).cache()
    // grid completeness: per type, exactly (hi - lo + 1) buckets, each once
    val obs = graft.sources.Tables.events(spark, dir)
      .groupBy($"event_type", expr(s"ts_us div ${Flow.HourUs}").as("bucket"))
      .agg(max_by($"value", $"event_id").as("v"))
    val spans = obs.groupBy($"event_type")
      .agg((max($"bucket") - min($"bucket") + 1).as("span"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = rs.groupBy($"event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === spans)
    assert(rs.select($"event_type", $"bucket").distinct().count() === rs.count())
    // the fill never leaves a hole and gap rows carry the PRIOR value:
    // re-derive each gap's forward-filled expectation independently
    assert(rs.filter($"value".isNull).count() === 0L)
    assert(rs.filter($"is_gap").count() > 0L, "fixture should have gaps")
    val wrong = rs.as("g").filter($"g.is_gap")
      .join(obs.as("o"), $"g.event_type" === $"o.event_type" &&
        $"o.bucket" < $"g.bucket")
      .groupBy($"g.event_type", $"g.bucket", $"g.value")
      .agg(max_by($"o.v", $"o.bucket").as("expect"))
      .filter($"value" =!= $"expect")
    assert(wrong.count() === 0L, "a gap row was not filled from the last observation")
    // observed rows carry their own value
    val own = rs.filter(!$"is_gap").join(obs, Seq("event_type", "bucket"))
      .filter($"value" =!= $"v")
    assert(own.count() === 0L)
    rs.unpersist()
  }

  test("rsi: Wilder folds match the hand computation; bounded on real data") {
    val rows = rowsOf(Bars.queries("bars_rsi")(spark, dir))
      .sortBy(_("bucket").asInstanceOf[Long])
    // fixture closes 30 -> 15: bar 1 has no move (seed 0/0 -> neutral 50),
    // bar 2 is all loss (ag=0, al=15/14 -> rsi 0)
    assert(rows(0)("rsi") == 50.0)
    assert(rows(1)("rsi") == 0.0)
    val real = rowsOf(Bars.queries("bars_rsi")(spark, "/root/testdata/sf0.001"))
    assert(real.nonEmpty)
    real.foreach { m =>
      val r = m("rsi").asInstanceOf[Double]
      assert(r >= 0.0 && r <= 100.0)
    }
  }

  test("macd: two-level EMA folds match the hand computation") {
    val rows = rowsOf(Bars.queries("bars_macd")(spark, dir))
      .sortBy(_("bucket").asInstanceOf[Long])
    // bar 1: both EMAs seed at 30 -> macd 0, signal seeds at 0, hist 0
    assert(rows(0)("macd") == 0.0 && rows(0)("signal") == 0.0 &&
      rows(0)("hist") == 0.0)
    // bar 2: one fold step of each span over [30, 15]
    val e12 = (2.0 / 13.0) * 15.0 + (1.0 - 2.0 / 13.0) * 30.0
    val e26 = (2.0 / 27.0) * 15.0 + (1.0 - 2.0 / 27.0) * 30.0
    val macd2 = e12 - e26
    val signal2 = 0.2 * macd2 + 0.8 * 0.0
    assert(rows(1)("macd") == macd2)
    assert(rows(1)("signal") == signal2)
    assert(rows(1)("hist") == macd2 - signal2)
    // real data: hist is exactly macd - signal everywhere
    val real = rowsOf(Bars.queries("bars_macd")(spark, "/root/testdata/sf0.001"))
    assert(real.nonEmpty)
    real.foreach { m =>
      assert(m("hist") == m("macd").asInstanceOf[Double] -
        m("signal").asInstanceOf[Double])
    }
  }

  test("bollinger: integer-cents moments match the hand computation") {
    val rows = rowsOf(Bars.queries("bars_bollinger")(spark, dir))
      .sortBy(_("bucket").asInstanceOf[Long])
    // bar 1: single point -> sd 0, degenerate band, %B withheld
    assert(rows(0)("mid") == 30.0 && rows(0)("lower") == 30.0 &&
      rows(0)("upper") == 30.0 && rows(0)("pct_b") == null)
    // bar 2 over cents {3000, 1500}: mid 22.5, sd 7.5 -> band [7.5, 37.5],
    // close 15 sits a quarter of the way up
    assert(rows(1)("mid") == 22.5 && rows(1)("lower") == 7.5 &&
      rows(1)("upper") == 37.5 && rows(1)("pct_b") == 0.25)
    // real data: lower <= mid <= upper, %B consistent with the band
    val real = rowsOf(Bars.queries("bars_bollinger")(spark, "/root/testdata/sf0.001"))
    assert(real.nonEmpty)
    real.foreach { m =>
      val (lo, mid, up) = (m("lower").asInstanceOf[Double],
        m("mid").asInstanceOf[Double], m("upper").asInstanceOf[Double])
      assert(lo <= mid && mid <= up)
      if (m("pct_b") != null) {
        val b = (m("close_cents").asInstanceOf[Long] / 100.0 - lo) / (up - lo)
        assert(m("pct_b") == b)
      }
    }
  }

  test("stochastic: %K range position and integer-floored %D match the hand computation") {
    val rows = rowsOf(Bars.queries("bars_stochastic")(spark, dir))
      .sortBy(_("bucket").asInstanceOf[Long])
    // bar 1 range [1000, 3000] cents, close 3000 -> %K 100, %D 100
    assert(rows(0)("pct_k") == 100.0 && rows(0)("pct_d") == 100.0)
    // bar 2 widens the low to 500: %K = (1500-500)*100/2500 = 40,
    // %D = (100e6 + 40e6) / (2 * 1e6) = 70
    assert(rows(1)("pct_k") == 40.0 && rows(1)("pct_d") == 70.0)
    // real data: %K in [0, 100] whenever the range is non-flat, %D too
    val real = rowsOf(Bars.queries("bars_stochastic")(spark, "/root/testdata/sf0.001"))
    assert(real.nonEmpty)
    real.foreach { m =>
      if (m("pct_k") != null) {
        val k = m("pct_k").asInstanceOf[Double]
        assert(k >= 0.0 && k <= 100.0)
      }
      if (m("pct_d") != null) {
        val d = m("pct_d").asInstanceOf[Double]
        assert(d >= 0.0 && d <= 100.0)
      }
    }
  }

  test("kyle lambda: slope and R2 match an independent moment recompute") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = sfDir()
    val m = rowsOf(Flow.queries("flow_kyle_lambda")(spark, sf)).head
    // independent fold over the same per-bucket (q, d) frame
    val buckets = rowsOf(graft.sources.Tables.eventsWithSide(spark, sf)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .withColumn("cents", round($"value" * 100).cast("long"))
      .groupBy(expr(s"ts_us div ${Flow.DeltaBucketUs}").as("bucket"))
      .agg((sum(when($"is_buy", $"k").otherwise(0L)) -
        sum(when(!$"is_buy", $"k").otherwise(0L))).as("q"),
        (max_by($"cents", $"event_id") - min_by($"cents", $"event_id"))
          .as("d")))
      .map(r => (r("q").asInstanceOf[Long], r("d").asInstanceOf[Long]))
    val n = buckets.size.toLong
    val sq = buckets.map(_._1).sum; val sd = buckets.map(_._2).sum
    val sqq = buckets.map(t => t._1 * t._1).sum
    val sdd = buckets.map(t => t._2 * t._2).sum
    val sqd = buckets.map(t => t._1 * t._2).sum
    val covn2 = n.toDouble * sqd - sq.toDouble * sd
    val varqn2 = n.toDouble * sqq - sq.toDouble * sq
    val vardn2 = n.toDouble * sdd - sd.toDouble * sd
    assert(m("n_buckets") == n)
    assert(m("lambda_cents_per_k") == covn2 / varqn2)
    if (m("r2") != null) {
      val r2 = m("r2").asInstanceOf[Double]
      assert(r2 == covn2 * covn2 / (varqn2 * vardn2))
      assert(r2 >= 0.0 && r2 <= 1.0)
    }
  }

  test("roll spread: serial covariance matches an independent per-bucket lag walk") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = sfDir()
    val m = rowsOf(Flow.queries("flow_roll_spread")(spark, sf)).head
    // independent walk: per bucket, sort ticks, form (dp, lagged dp) pairs
    val ticks = rowsOf(graft.sources.Tables.events(spark, sf)
      .withColumn("cents", round($"value" * 100).cast("long"))
      .select(expr(s"ts_us div ${Flow.DeltaBucketUs}").as("bucket"),
        $"ts_us", $"event_id", $"cents"))
      .map(r => (r("bucket").asInstanceOf[Long], r("ts_us").asInstanceOf[Long],
        r("event_id").asInstanceOf[Long], r("cents").asInstanceOf[Long]))
    val pairs = ticks.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val dps = rows.sortBy(t => (t._2, t._3)).map(_._4)
        .sliding(2).collect { case Seq(a, b) => b - a }.toSeq
      dps.sliding(2).collect { case Seq(prev, cur) => (cur, prev) }.toSeq
    }
    val n = pairs.size.toLong
    val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
    val sxy = pairs.map(t => t._1 * t._2).sum
    val covn2 = n.toDouble * sxy - sx.toDouble * sy
    assert(m("n_pairs") == n)
    if (covn2 < 0)
      assert(m("roll_spread_cents") == 2.0 * math.sqrt(-covn2) / n)
    else assert(m("roll_spread_cents") == null)
  }

  test("amihud: floored per-bucket bps and the exact-sum mean match a recompute") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = sfDir()
    val m = rowsOf(Flow.queries("flow_amihud")(spark, sf)).head
    val buckets = rowsOf(graft.sources.Tables.events(spark, sf)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .withColumn("cents", round($"value" * 100).cast("long"))
      .groupBy(expr(s"ts_us div ${Flow.DeltaBucketUs}").as("bucket"))
      .agg(abs(max_by($"cents", $"event_id") - min_by($"cents", $"event_id"))
          .as("dabs"),
        sum($"k").as("vol")))
      .filter(r => r("vol").asInstanceOf[Long] > 0)
      .map { r =>
        val dabs = r("dabs").asInstanceOf[Long]
        val vol = r("vol").asInstanceOf[Long]
        Math.floorDiv(dabs * 10000L, vol)
      }
    val n = buckets.size.toLong
    assert(m("n_buckets") == n)
    assert(m("sum_bps") == buckets.sum)
    assert(m("max_bps") == buckets.max)
    assert(m("amihud_bps") == buckets.sum.toDouble / n.toDouble)
    // liquidity proxy sanity: non-negative, mean bounded by max
    assert(buckets.forall(_ >= 0L))
  }

  test("vpin curve: coarser buckets provably cancel imbalance; the shipped point reconciles") {
    val sf = sfDir()
    val curve = rowsOf(Flow.queries("flow_vpin_curve")(spark, sf))
      .sortBy(_("bucket_vol").asInstanceOf[Long])
    assert(curve.map(_("bucket_vol")) == Flow.VpinCurveVols)
    // doubling nests buckets, so |imbalance| mass is non-increasing
    val ois = curve.map(_("total_oi").asInstanceOf[Long])
    assert(ois == ois.sorted.reverse, s"total_oi not monotone: $ois")
    val nb = curve.map(_("n_buckets").asInstanceOf[Long])
    assert(nb == nb.sorted.reverse, "bucket count must shrink with volume")
    // the shipped 5000-volume row equals the per-bucket frame's census
    val point = rowsOf(Flow.queries("flow_vpin")(spark, sf))
    val mid = curve(1)
    assert(mid("n_buckets") == point.size.toLong)
    assert(mid("total_oi") ==
      point.map(_("oi").asInstanceOf[Long]).sum)
    assert(mid("max_oi") ==
      point.map(_("oi").asInstanceOf[Long]).max)
  }

  test("vpin: volume buckets and the rolling toxicity match an independent fold") {
    val sf = sfDir()
    val got = rowsOf(Flow.queries("flow_vpin")(spark, sf))
      .map(m => m("vb").asInstanceOf[Long] -> m).toMap
    // independent recompute: collect the raw trades, walk the volume
    // clock sequentially, rebuild every bucket and its trailing window
    val trades = graft.sources.Tables.eventsWithSide(spark, sf)
      .selectExpr("event_id", "ts_us", "is_buy",
        "cast(get_json_object(props, '$.k') as long) as k")
      .collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getBoolean(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    var cum = 0L
    val buckets = scala.collection.mutable.LinkedHashMap[Long, (Long, Long, Long)]()
    trades.foreach { case (_, _, isBuy, k) =>
      val vb = cum / Flow.VpinBucketVol
      val (b, s, n) = buckets.getOrElse(vb, (0L, 0L, 0L))
      buckets(vb) =
        (b + (if (isBuy) k else 0L), s + (if (isBuy) 0L else k), n + 1L)
      cum += k
    }
    assert(buckets.size == got.size)
    val ois = buckets.toSeq.sortBy(_._1).map { case (vb, (b, s, _)) =>
      vb -> math.abs(b - s) }
    ois.zipWithIndex.foreach { case ((vb, oi), i) =>
      val (b, s, n) = buckets(vb)
      val m = got(vb)
      assert(m("buy_vol") == b && m("sell_vol") == s &&
        m("n_trades") == n && m("oi") == oi)
      val w = ois.slice(math.max(0, i - (Flow.VpinWindow - 1)), i + 1).map(_._2)
      val vpin = w.sum.toDouble / (w.size.toLong * Flow.VpinBucketVol).toDouble
      assert(m("vpin") == vpin)
      // oi <= bucket volume, which overshoots V by at most one trade
      // (trade-indivisible buckets), so the bound is 1 + maxK/V
      assert(vpin >= 0.0 && vpin <= 1.0 + 100.0 / Flow.VpinBucketVol)
    }
  }

  test("tick rule classifies upticks and audits against the true side") {
    // fixture h0 prices 10,20,30 (buy,sell,buy): first tick unclassified,
    // two upticks classify buy -> actuals sell,buy -> 1 of 2 match;
    // h0+1 prices 5,15 (sell,buy): one uptick, actual buy -> 1 of 1
    val rs = rowsOf(Flow.queries("flow_tick_rule")(spark, dir))
      .map(r => r("bucket") -> r).toMap
    val b0 = h0 * 6
    assert(rs(b0)("n_classified") == 2L && rs(b0)("n_match") == 1L)
    assert(rs(b0)("accuracy") == 0.5)
    val b1 = (h0 + 1) * 6
    assert(rs(b1)("n_classified") == 1L && rs(b1)("n_match") == 1L)
    assert(rs(b1)("accuracy") == 1.0)
    // corpus sanity: accuracy is a proper rate everywhere
    val sf = rowsOf(Flow.queries("flow_tick_rule")(spark, sfDir()))
    assert(sf.nonEmpty)
    sf.foreach { m =>
      val a = m("accuracy").asInstanceOf[Double]
      assert(a >= 0.0 && a <= 1.0)
      assert(m("n_match").asInstanceOf[Long] <=
        m("n_classified").asInstanceOf[Long])
    }
  }

  test("range vol: Parkinson/GK from the floored log terms, RS zero when high=close") {
    // fixture bars: (o=10,h=30,l=10,c=30) and (o=5,h=15,l=5,c=15) — both
    // have h/l = c/o = 3 and h = c, l = o, so every log term is ln(3)-
    // derived and the Rogers–Satchell terms vanish exactly:
    // ln(h/c)*ln(h/o) + ln(l/c)*ln(l/o) = 0*ln3 + ln(1/3)*0 = 0.
    val rs = rowsOf(Bars.queries("bars_range_vol")(spark, dir))
    assert(rs.size == 1, "both bars fall in one UTC day")
    val m = rs.head
    assert(m("day") == h0 / 24)
    assert(m("n_bars") == 2L)
    val ln3 = math.log(3.0)
    val pkI = math.floor(ln3 * ln3 * 1e6).toLong // identical per bar
    val expPk = math.sqrt(pkI * 2 / 2L.toDouble / 1e6 / 2.772588722239781)
    assert(m("vol_parkinson") == expPk)
    val gkI = math.floor((0.5 * (ln3 * ln3) - 0.3862943611198906 * (ln3 * ln3)) * 1e6).toLong
    val expGk = math.sqrt(gkI * 2 / 2L.toDouble / 1e6)
    assert(m("vol_gk") == expGk)
    assert(m("vol_rs") == 0.0)
    // Parkinson caps GK here (GK subtracts the close-open term)
    assert(expPk > expGk && expGk > 0.0)
    // corpus sanity: every day non-negative on all three estimators
    val sf = rowsOf(Bars.queries("bars_range_vol")(spark, sfDir()))
    assert(sf.nonEmpty)
    sf.foreach { d =>
      assert(d("vol_parkinson").asInstanceOf[Double] >= 0.0)
      assert(d("vol_gk").asInstanceOf[Double] >= 0.0)
      assert(d("vol_rs").asInstanceOf[Double] >= 0.0)
    }
  }
}
