package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.state.Fsm
import graft.state.Fsm.{FsmIn, TrendIn}
import graft.streaming.Streams
import graft.streaming.Streams.Trade

/** End-to-end streaming semantics with MemoryStream (SURVEY §5.3): the
  * watermark drops too-late rows, append-mode windows finalize exactly
  * once, and the streaming FSMs emit the identical event stream as the
  * batch replay over the same inputs.
  */
class StreamingSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("windowed delta: append emits finalized windows; late data beyond watermark dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Trade]
    val q = Streams.takerDelta(input.toDS(), watermark = "30 seconds")
      .writeStream.format("memory").queryName("delta_out")
      .outputMode("append").start()

    // window [0,10): two trades; then advance event time far past the
    // watermark so the window finalizes
    input.addData(
      Trade("S", ts(1), 100.0, 2.0, false), // buy
      Trade("S", ts(5), 100.0, 0.5, true))  // sell
    input.addData(Trade("S", ts(120), 100.0, 1.0, false))
    q.processAllAvailable()
    // a too-late row for the closed window must be ignored
    input.addData(Trade("S", ts(2), 100.0, 99.0, false))
    input.addData(Trade("S", ts(240), 100.0, 1.0, false))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("delta_out").collect()
      .map(r => r.getAs[Timestamp]("win_start").getTime / 1000 ->
        (r.getAs[Double]("buy_vol"), r.getAs[Double]("sell_vol"))).toMap
    assert(rows(0L) == ((2.0, 0.5))) // the late 99.0 never arrived
  }

  test("streaming OHLC bars match arrival-order open/close") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Trade]
    val q = Streams.ohlcBars(input.toDS(), watermark = "30 seconds")
      .writeStream.format("memory").queryName("bars_out")
      .outputMode("append").start()
    input.addData(
      Trade("S", ts(1), 10.0, 1.0, false),
      Trade("S", ts(30), 30.0, 1.0, false),
      Trade("S", ts(59), 20.0, 1.0, false))
    input.addData(Trade("S", ts(300), 1.0, 1.0, false)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val r = spark.table("bars_out").collect()
      .find(_.getAs[Timestamp]("bar_start").getTime == 0L).get
    assert(r.getAs[Double]("open") == 10.0)
    assert(r.getAs[Double]("high") == 30.0)
    assert(r.getAs[Double]("close") == 20.0)
  }

  test("session window runs streaming: gap merges within, watermark finalizes sessions") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Trade]
    val q = input.toDS()
      .withWatermark("ts", "30 seconds")
      .groupBy($"symbol",
        org.apache.spark.sql.functions.session_window($"ts", "60 seconds").as("w"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .select($"symbol", $"w.start".as("s"), $"w.end".as("e"), $"n")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // gaps 40 s and 50 s merge (< 60); the 600 s jump closes the session
    input.addData(
      Trade("S", ts(0), 1.0, 1.0, false),
      Trade("S", ts(40), 1.0, 1.0, false),
      Trade("S", ts(90), 1.0, 1.0, false))
    input.addData(Trade("S", ts(700), 1.0, 1.0, false))
    q.processAllAvailable()
    q.stop()
    val r = spark.table("sess_out").collect()
      .map(x => x.getAs[Timestamp]("s").getTime / 1000 ->
        (x.getAs[Timestamp]("e").getTime / 1000, x.getAs[Long]("n"))).toMap
    // one finalized session [0, 90+60) holding all three merged events
    assert(r(0L) == ((150L, 3L)))
  }

  test("incremental EMA equals the batch recursion") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Trade]
    val q = Streams.emaStream(input.toDS(), span = 20)
      .writeStream.format("memory").queryName("ema_out")
      .outputMode("append").start()
    val prices = Seq(30.0, 15.0, 22.5, 18.0)
    // split across two triggers to prove state carries over
    input.addData(prices.take(2).zipWithIndex.map { case (p, i) =>
      Trade("S", ts(i * 60), p, 1.0, false) })
    q.processAllAvailable()
    input.addData(prices.drop(2).zipWithIndex.map { case (p, i) =>
      Trade("S", ts((i + 2) * 60), p, 1.0, false) })
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ema_out").collect()
      .sortBy(_.getAs[Timestamp]("ts").getTime).map(_.getAs[Double]("ema")).toSeq
    val alpha = 2.0 / 21.0
    val expected = prices.tail.scanLeft(prices.head)((acc, x) =>
      alpha * x + (1 - alpha) * acc)
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("incremental z-score matches the trailing-population formula across triggers") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Streams.DeltaRow
    val rnd = new scala.util.Random(5)
    val deltas = (0 until 60).map(i =>
      DeltaRow("S", ts(i * 10), rnd.nextDouble() * 20 - 10))
    val input = MemoryStream[DeltaRow]
    val q = Streams.zscoreStream(input.toDS())
      .writeStream.format("memory").queryName("z_out")
      .outputMode("append").start()
    input.addData(deltas.take(25)) // below the min population
    q.processAllAvailable()
    input.addData(deltas.drop(25)) // ring must carry across the trigger
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("z_out").collect()
      .map(r => r.getAs[Timestamp]("win_start").getTime ->
        Option(r.getAs[java.lang.Double]("z")).map(_.toDouble))
      .toMap
    // reference computation over the same trailing window
    deltas.zipWithIndex.foreach { case (d, i) =>
      val pop = deltas.slice(math.max(0, i - graft.state.Fusion.ZPop + 1),
        i + 1).map(_.delta)
      val mu = pop.sum / pop.length
      val sigma = math.sqrt(pop.map(x => (x - mu) * (x - mu)).sum / pop.length)
      val expected =
        if (pop.length >= graft.state.Fusion.ZMin && sigma > 0)
          Some((d.delta - mu) / sigma)
        else None
      val got = rows(d.win_start.getTime)
      (expected, got) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-12)
        case (e, g) => assert(e == g)
      }
    }
  }

  test("exact streaming LV + vol-rate twins equal the batch formulas across triggers") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val trades = (0 until 120).map(i =>
      Trade("S", ts(i * 10L), 100.0 + rnd.nextDouble() * 10, 1.0 + rnd.nextDouble(), false))

    // stage 1: per-trade |ΔP| — state must carry the last price across triggers
    val tIn = MemoryStream[Trade]
    val q1 = Streams.diffStream(tIn.toDS())
      .writeStream.format("memory").queryName("dp_out")
      .outputMode("append").start()
    tIn.addData(trades.take(50))
    q1.processAllAvailable()
    tIn.addData(trades.drop(50))
    q1.processAllAvailable()
    q1.stop()
    val gotDp = spark.table("dp_out").collect()
      .map(r => r.getAs[Timestamp]("ts").getTime -> r.getAs[Double]("dp")).toMap
    val expDp = trades.zip(None +: trades.map(t => Some(t.price)))
      .map { case (t, prev) =>
        t.ts.getTime -> prev.map(p => math.abs(t.price - p)).getOrElse(0.0) }
    expDp.foreach { case (k, e) => assert(math.abs(gotDp(k) - e) < 1e-12) }

    // stage 2: bar rollup + multi-TF rings — the batch flow_lv shape
    // (sum-over-sum, never avg-of-ratios) recomputed independently here
    val expBars = expDp.zip(trades).groupBy(_._2.ts.getTime / 60000)
      .toSeq.sortBy(_._1)
      .map { case (m, rows) =>
        Streams.LvBarIn("S", ts(m * 60), rows.map(_._2.qty).sum,
          rows.map(_._1._2).sum) }
    val bIn = MemoryStream[Streams.LvBarIn]
    val q2 = Streams.lvStream(bIn.toDS())
      .writeStream.format("memory").queryName("lv_out")
      .outputMode("append").start()
    bIn.addData(expBars.take(7)) // split mid-ring: state must carry over
    q2.processAllAvailable()
    bIn.addData(expBars.drop(7))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.table("lv_out").collect()
      .map(r => r.getAs[Timestamp]("win_start").getTime -> r).toMap
    expBars.zipWithIndex.foreach { case (b, i) =>
      val ring = expBars.slice(math.max(0, i - 14), i + 1)
      def lv(n: Int) = {
        val w = ring.takeRight(n)
        w.map(_.qty).sum / (w.map(_.dp).sum + 1e-6)
      }
      val volRing = expBars.slice(math.max(0, i - 23), i + 1).map(_.qty)
      val r = got(b.win_start.getTime)
      assert(math.abs(r.getAs[Double]("lv_1m") - lv(1)) < 1e-12)
      assert(math.abs(r.getAs[Double]("lv_5m") - lv(5)) < 1e-12)
      assert(math.abs(r.getAs[Double]("lv_15m") - lv(15)) < 1e-12)
      assert(r.getAs[Boolean]("micro_trap") == (lv(1) > 1.5 * lv(5)))
      val vf = math.min(math.max(
        b.qty / (volRing.sum / volRing.length), 0.5), 2.0)
      assert(math.abs(r.getAs[Double]("vol_factor") - vf) < 1e-12)
    }
  }

  test("diffStream skips late trades instead of letting them corrupt the prev-price state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Trade]
    val q = Streams.diffStream(input.toDS())
      .writeStream.format("memory").queryName("dp_late_out")
      .outputMode("append").start()
    input.addData(
      Trade("S", ts(100), 10.0, 1.0, false),
      Trade("S", ts(700), 20.0, 1.0, false))
    q.processAllAvailable()
    // a LATE trade (older than the last processed ts) arrives, then an
    // on-time one: the on-time dp must be measured against price 20, not
    // the late 99 (which downstream watermarks would drop anyway)
    input.addData(Trade("S", ts(50), 99.0, 1.0, false))
    input.addData(Trade("S", ts(760), 21.0, 1.0, false))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dp_late_out").collect()
      .map(r => r.getAs[Timestamp]("ts").getTime / 1000 -> r.getAs[Double]("dp"))
      .toMap
    assert(!rows.contains(50L)) // the late row emitted nothing
    assert(rows(760L) == 1.0, s"expected |21-20|=1, got ${rows(760L)}")
  }

  test("diff -> bars -> rings chain as THREE stateful operators in one query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Trade]
    val q = Streams.lvStream(Streams.lvWindows(Streams.diffStream(input.toDS())))
      .writeStream.format("memory").queryName("lvchain_out")
      .outputMode("append").start()
    input.addData(
      Trade("S", ts(0), 10.0, 1.0, false),
      Trade("S", ts(30), 14.0, 2.0, false), // |ΔP| 4 within bar 0
      Trade("S", ts(70), 20.0, 1.0, false)) // |ΔP| 6 lands in bar 1
    input.addData(Trade("S", ts(600), 20.0, 1.0, false)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("lvchain_out").collect()
      .map(r => r.getAs[Timestamp]("win_start").getTime / 1000 ->
        (r.getAs[Double]("qty"), r.getAs[Double]("dp"),
          r.getAs[Double]("lv_1m"))).toMap
    assert(rows(0L) == ((3.0, 4.0, 3.0 / (4.0 + 1e-6))))
    // the cross-bar |ΔP| belongs to the LATER trade's bar
    assert(rows(60L) == ((1.0, 6.0, 1.0 / (6.0 + 1e-6))))
  }

  test("fused fold carries the exact multi-TF LV (boundary pair included)") {
    import spark.implicits._
    import graft.state.Fusion
    // two bars: the |open2 - close1| boundary pair must land in bar 2's dp
    val trades = Seq(
      Trade("S", ts(0), 10.0, 1.0, false),
      Trade("S", ts(30), 14.0, 1.0, false),  // dp within bar 1: 4
      Trade("S", ts(70), 20.0, 2.0, false),  // boundary |20-14|=6
      Trade("S", ts(80), 21.0, 1.0, false),  // dp within bar 2: 1
      Trade("S", ts(600), 1.0, 1.0, false))  // closes the watermark in specs
    val out = Streams.fusedBatch(
      Streams.signalBars(spark.createDataset(trades))).collect()
      .sortBy(_.win_start.getTime)
    val b1 = out(0); val b2 = out(1)
    assert(math.abs(b1.lv_1m - 2.0 / (4.0 + 1e-6)) < 1e-12)
    assert(math.abs(b2.lv_1m - 3.0 / (7.0 + 1e-12) ) < 1e-6 ||
      math.abs(b2.lv_1m - 3.0 / (7.0 + 1e-6)) < 1e-12)
    // lv_5m aggregates both bars: (2+3)/(4+7+eps)
    assert(math.abs(b2.lv_5m - 5.0 / (11.0 + 1e-6)) < 1e-12)
  }

  test("streaming position FSM replays identically to batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ins = Seq(
      FsmIn(1, 100.0, 100.0, 100.0, "LONG", 1.0, 1.0),
      FsmIn(2, 101.0, 103.0, 99.5, "NONE", 1.0, 1.0),
      FsmIn(3, 105.0, 105.0, 103.0, "NONE", 1.0, 1.0), // TP hit
      FsmIn(4, 100.0, 100.0, 100.0, "SHORT", 1.0, 1.0), // cooldown blocks
      FsmIn(5, 100.0, 100.0, 100.0, "SHORT", 1.0, 1.0),
      FsmIn(6, 100.0, 103.0, 100.0, "NONE", 1.0, 1.0)) // SL (short) hit
    val batch = Fsm.run(ins.iterator).toList

    val input = MemoryStream[FsmIn]
    val q = Streams.positionEvents(input.toDS())
      .writeStream.format("memory").queryName("fsm_out")
      .outputMode("append").start()
    input.addData(ins.take(3)) // state must survive the trigger boundary
    q.processAllAvailable()
    input.addData(ins.drop(3))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("fsm_out").as[graft.state.Fsm.FsmEvent]
      .collect().toList.sortBy(_.bucket)
    assert(streamed == batch)
  }

  test("streaming hysteresis replays identically to batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val raws = Seq("RANGEBOUND", "UPTREND", "UPTREND", "DOWNTREND",
      "DOWNTREND", "DOWNTREND").zipWithIndex
      .map { case (r, i) => TrendIn(i.toLong, r) }
    val batch = Fsm.trendRun(raws.iterator).toList

    val input = MemoryStream[TrendIn]
    val q = Streams.trendStream(input.toDS())
      .writeStream.format("memory").queryName("trend_out")
      .outputMode("append").start()
    input.addData(raws.take(2))
    q.processAllAvailable()
    input.addData(raws.drop(2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trend_out").as[graft.state.Fsm.TrendOut]
      .collect().toList.sortBy(_.bucket)
    assert(streamed == batch)
  }

  test("sliding CVD: each event lands in every overlapping window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Trade]
    val q = Streams.slidingCvd(input.toDS(), watermark = "30 seconds")
      .writeStream.format("memory").queryName("cvd_out")
      .outputMode("append").start()
    // one buy at t=65s: belongs to windows starting 10..60s (6 windows)
    input.addData(Trade("S", ts(65), 100.0, 3.0, false))
    input.addData(Trade("S", ts(500), 100.0, 1.0, true)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cvd_out").collect()
      .filter(_.getAs[Double]("buy_vol") == 3.0)
    assert(rows.length == 6)
    rows.foreach(r => assert(r.getAs[Double]("cvd") == 1.0))
    val starts = rows.map(_.getAs[Timestamp]("win_start").getTime / 1000).sorted
    assert(starts.toSeq == Seq(10L, 20L, 30L, 40L, 50L, 60L))
  }

  test("alert throttle: drops alerts inside the 5s window, state survives triggers") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Streams.Alert
    val input = MemoryStream[Alert]
    val q = Streams.throttledAlerts(input.toDS())
      .writeStream.format("memory").queryName("alerts_out")
      .outputMode("append").start()
    input.addData(
      Alert("S", ts(10), "a"), // emit
      Alert("S", ts(12), "b"), // throttled
      Alert("S", ts(15), "c")) // emit (>= 5s after a)
    q.processAllAvailable()
    input.addData(
      Alert("S", ts(17), "d"), // throttled (state crossed the trigger)
      Alert("S", ts(21), "e")) // emit
    q.processAllAvailable()
    q.stop()
    val got = spark.table("alerts_out").collect()
      .map(_.getAs[String]("message")).sorted.toSeq
    assert(got == Seq("a", "c", "e"))
  }

  test("LV rings survive a query restart from the checkpoint") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_lvckpt").toString
    val srcDir = s"$base/src"
    val ckptDir = s"$base/ckpt"
    val outDir = s"$base/out"
    val bars = (0 until 8).map(i =>
      Streams.LvBarIn("S", ts(i * 60L), qty = i + 1.0, dp = 1.0))
    def startQuery() = Streams
      .lvStream(spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Streams.LvBarIn].schema)
        .parquet(srcDir).as[Streams.LvBarIn])
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode("append").start()
    bars.take(4).toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // the (qty, dp) rings live only in the state store now
    bars.drop(4).toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Timestamp]("win_start").getTime / 60000 ->
        r.getAs[Double]("lv_5m")).toMap
    // bar 5 (0-based index 5, after the restart): its 5-bar ring spans the
    // restart boundary — qty 2..6 over dp 5 — proving the ring recovered
    assert(math.abs(got(5L) - (2 + 3 + 4 + 5 + 6) / (5 * 1.0 + 1e-6)) < 1e-9)
  }

  test("FSM state survives a query restart from the checkpoint") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val srcDir = s"$base/src"
    val ckptDir = s"$base/ckpt"
    val ins = Seq(
      FsmIn(1, 100.0, 100.0, 100.0, "LONG", 1.0, 1.0),
      FsmIn(2, 101.0, 101.0, 100.5, "NONE", 1.0, 1.0), // position held
      FsmIn(3, 105.0, 105.0, 103.0, "NONE", 1.0, 1.0), // TP hit after restart
      FsmIn(4, 100.0, 100.0, 100.0, "LONG", 1.0, 1.0)) // blocked by cooldown
    val batch = Fsm.run(ins.iterator).toList

    val outDir = s"$base/out"
    // memory sink can't recover from a checkpoint; the parquet sink can
    def startQuery() = Streams
      .positionEvents(spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[FsmIn].schema)
        .parquet(srcDir).as[FsmIn])
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode("append").start()

    ins.take(2).toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // open position lives only in the state store now
    ins.drop(2).toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val all = spark.read.parquet(outDir).as[graft.state.Fsm.FsmEvent]
      .collect().toList.sortBy(_.bucket)
    assert(all == batch, s"restart lost state: $all vs $batch")
    // the exit emitted AFTER the restart closes the position entered BEFORE
    assert(all.exists(e =>
      e.action == "EXIT" && e.reason.contains("TP_HIT") && e.entry_bucket == 1))
  }

  test("doc ingest dedup state survives a query restart from the checkpoint") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ingckpt").toString
    val srcDir = s"$base/src"
    val outDir = s"$base/out"
    def startQuery() = Streams.docIngest(spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Streams.RawDoc].schema)
      .parquet(srcDir))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    Seq(Streams.RawDoc(1L, "the quick brown fox", "en", "s1"),
      Streams.RawDoc(2L, "alpha beta gamma", "en", "s1"))
      .toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // the seen-hash set lives only in the state store now
    // after restart: doc 3 repeats doc 1's content — the dedup decision
    // depends on state recovered from the checkpoint, not the batch
    Seq(Streams.RawDoc(3L, "the quick brown fox", "en", "s2"),
      Streams.RawDoc(4L, "delta epsilon zeta words", "en", "s2"))
      .toDS().coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(outDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 2L, 4L),
      s"dedup state lost across restart: $ids")
  }

  test("stream-stream join state survives a query restart from the checkpoint") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ssjckpt").toString
    def ts(s: Long) = new java.sql.Timestamp((86400L + s) * 1000L)
    val (srcT, srcB, outDir) = (s"$base/t", s"$base/b", s"$base/out")
    def startQuery() = Streams.tradeBookJoin(
      spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Streams.Trade].schema)
        .parquet(srcT).as[Streams.Trade],
      spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Streams.BookLevel].schema)
        .parquet(srcB).as[Streams.BookLevel])
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    Seq(Streams.BookLevel("S", ts(5), is_bid = true, 5.0, 1L),
      Streams.BookLevel("S", ts(20), is_bid = false, 7.0, 2L))
      .toDS().coalesce(1).write.mode("append").parquet(srcB)
    Seq(Streams.Trade("S", ts(30), 100.0, 1.0, false))
      .toDS().coalesce(1).write.mode("append").parquet(srcT)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // the buffered book rows live only in the join state store
    // after restart: the 45 s trade must find the 20 s book from the
    // RECOVERED buffer (it arrived before the restart), plus the new one
    Seq(Streams.BookLevel("S", ts(40), is_bid = true, 9.0, 3L))
      .toDS().coalesce(1).write.mode("append").parquet(srcB)
    Seq(Streams.Trade("S", ts(45), 101.0, 2.0, true))
      .toDS().coalesce(1).write.mode("append").parquet(srcT)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val pairs = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("t_ts").getTime,
        r.getAs[Long]("seq"))).toSet
    assert(pairs == Set(
      (ts(30).getTime, 1L), (ts(30).getTime, 2L),
      (ts(45).getTime, 2L), (ts(45).getTime, 3L)),
      s"join state lost or duplicated across restart: $pairs")
    // exactly-once: no pair emitted twice across the restart
    assert(spark.read.parquet(outDir).count() == 4)
  }

  test("JSONL ingestion: malformed lines quarantine, valid lines feed docIngest") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val lines = Seq(
      """{"doc_id": 1, "text": "the quick brown fox", "lang": "en", "source": "s1"}""",
      """{"doc_id": 2, "text": "alpha beta gamma", "lang": "en", "source": "s1"}""",
      """this is not json at all{{""",
      """{"doc_id": 3, "lang": "en", "source": "s1"}""", // no text
      """{"doc_id": 4, "text": "the quick brown fox", "lang": "de", "source": "s2"}""",
      """{}""", // valid JSON, zero contract fields: schema drift, NOT corruption
      """{"doc_id": 5, "text": "words here now", "source": "s2"}""") // no lang
    def writeDrop(name: String, ls: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$srcDir/$name"),
        ls.mkString("\n").getBytes("UTF-8"))
    writeDrop("drop1.jsonl", lines.take(3))
    // streaming: the contract file-watched into the ingest gates — the
    // quarantine rows never reach them, and doc 4 (a later drop
    // repeating doc 1's content) dedups CROSS-batch like any arrival
    val q = Streams.docIngest(
      graft.sources.Jsonl.docsStream(spark, srcDir).filter($"valid")
        .select($"doc_id", $"text", $"lang", $"source"))
      .writeStream.format("memory").queryName("jsonl_ingest_out")
      .outputMode("append").start()
    q.processAllAvailable()
    writeDrop("drop2.jsonl", lines.drop(3))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("jsonl_ingest_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L)) // 4 deduped against 1; 3 quarantined
    assert(out(1L).getAs[Boolean]("keep") == true)
    // batch read over the full drop: every line routed, nothing fatal
    val batch = rowsOf(graft.sources.Jsonl.docs(spark, srcDir))
    assert(batch.size == lines.size)
    val byErr = batch.groupBy(_("err"))
    assert(byErr(null).size == 3)
    // err distinguishes wire corruption from schema drift: an empty or
    // field-free object is valid JSON and must NOT read as malformed
    assert(byErr("malformed_json").size == 1 &&
      byErr("malformed_json").head("raw") == lines(2))
    assert(byErr("missing_required").size == 3)
    assert(byErr("missing_required").map(_("raw")).toSet ==
      Set(lines(3), lines(5), lines(6)))
    // the parse is per-row map work: no exchange anywhere
    val plan = graft.sources.Jsonl.docs(spark, srcDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"jsonl parse must not shuffle:\n$plan")
  }

  test("JSONL parse is total: random garbage never throws, every line routes") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_jsonl_fuzz").toString
    val rnd = new scala.util.Random(4242)
    val chars = """{}[]"':,\0aZ9 \n\té"""
    def garbage() = (0 until rnd.nextInt(40))
      .map(_ => chars(rnd.nextInt(chars.length))).mkString
    val lines = (0 until 200).map { i =>
      rnd.nextInt(4) match {
        case 0 => s"""{"doc_id": $i, "text": "t $i", "lang": "en", "source": "s"}"""
        case 1 => garbage()
        case 2 => s"""{"doc_id": $i}"""
        case _ => s"""[1, 2, $i]""" // valid JSON, wrong shape
      }
    }.filter(_.nonEmpty)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/fuzz.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val rows = rowsOf(graft.sources.Jsonl.docs(spark, base))
    // total: one routed row per line, no exception, no silent drop
    assert(rows.size == lines.size)
    rows.foreach { m =>
      val valid = m("valid") == true
      assert(valid == (m("err") == null), s"flag/err disagree: $m")
      if (valid)
        assert(m("doc_id") != null && m("text") != null &&
          m("lang") != null && m("source") != null, s"invalid valid row $m")
      else assert(m("raw") != null, s"quarantine row lost its payload: $m")
    }
    assert(rows.count(_("valid") == true) ==
      lines.count(_.contains("\"lang\"")))
  }

  test("backfill-then-stream dedupes the overlap inside the watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    // history files exist before the stream starts = the REST warmup
    // (times offset from epoch: a ts equal to the initial watermark of 0
    // would be dropped as late)
    Seq(Trade("S", ts(1000), 10.0, 1.0, false),
        Trade("S", ts(1060), 11.0, 1.0, false),
        Trade("S", ts(1120), 12.0, 1.0, false))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.backfillThenStream(spark, dir)
      .writeStream.format("memory").queryName("union_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // live arrivals: first repeats the last backfill bar, second is new
    Seq(Trade("S", ts(1120), 12.0, 1.0, false),
        Trade("S", ts(1180), 13.0, 1.0, false))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("union_out").collect()
    assert(rows.length == 4) // 3 history + 1 new; duplicate dropped
  }

  test("log forwarding: severity filter precedes the throttle") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Streams.LogRecord
    val input = MemoryStream[LogRecord]
    val q = Streams.forwardedLogs(input.toDS())
      .writeStream.format("memory").queryName("logs_out")
      .outputMode("append").start()
    input.addData(
      LogRecord("app", ts(1), "WARNING", "w1"),   // forwards
      LogRecord("app", ts(2), "INFO", "noise"),   // filtered, no slot used
      LogRecord("app", ts(3), "ERROR", "e1"),     // inside throttle: dropped
      LogRecord("app", ts(9), "ERROR", "e2"),     // past throttle: forwards
      LogRecord("app", ts(10), "DEBUG", "noise2"))
    q.processAllAvailable()
    // state carries across triggers: ts(12) is inside e2's 5s window
    input.addData(
      LogRecord("app", ts(12), "CRITICAL", "c_dropped"),
      LogRecord("app", ts(15), "CRITICAL", "c1"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("logs_out").collect()
      .map(_.getAs[String]("message")).sorted.toSeq
    assert(got == Seq("c1", "e2", "w1"))
  }

  test("log forwarding throttle is global across sources (reference handler keeps ONE last-sent time)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Streams.LogRecord
    val input = MemoryStream[LogRecord]
    val q = Streams.forwardedLogs(input.toDS())
      .writeStream.format("memory").queryName("glogs_out")
      .outputMode("append").start()
    input.addData(
      LogRecord("svc_a", ts(1), "ERROR", "a1"),      // forwards
      LogRecord("svc_b", ts(3), "ERROR", "b_drop"),  // OTHER source, same global window: dropped
      LogRecord("svc_b", ts(7), "ERROR", "b1"))      // past the window: forwards
    q.processAllAvailable()
    q.stop()
    val got = spark.table("glogs_out").collect()
      .map(_.getAs[String]("message")).sorted.toSeq
    assert(got == Seq("a1", "b1"))
  }

  test("incremental fused pipeline (EP1) matches batch replay and trades the spike") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.state.Fusion
    // 41 one-minute bars: balanced flow keeps the full cascade's entry
    // gates shut (cvd=0 -> mc=0.5, total ~0.19 < 0.32), bar 36 is a 50x
    // buy spike (z >> gate, cvd ~0.96 -> total ~0.54, winprob ~0.99 ->
    // LONG entry), bar 38 prints 105 (high >= tp=104 -> TP_HIT, pnl = 4)
    val trades = (0 to 40).flatMap { m =>
      val p = if (m == 38) 105.0 else 100.0
      val buyQ = if (m == 36) 50.0 else 1.0
      Seq(Trade("S", ts(m * 60 + 5), p, buyQ, false),
        Trade("S", ts(m * 60 + 35), p, 1.0, true))
    }
    val sentinel = Trade("S", ts(7200), 100.0, 1.0, true)

    val input = MemoryStream[Trade]
    val q = Streams.fusedStream(Streams.signalBars(input.toDS(), "30 seconds"))
      .writeStream.format("memory").queryName("fused_out")
      .outputMode("append").start()
    // two triggers: the z-ring / EMA / trend / FSM state must carry over
    input.addData(trades.filter(_.ts.getTime < 20 * 60000L))
    q.processAllAvailable()
    input.addData(trades.filter(_.ts.getTime >= 20 * 60000L) :+ sentinel)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("fused_out").as[Fusion.FusedOut]
      .collect().toList.sortBy(_.win_start.getTime)
    assert(streamed.size >= 40) // every finalized bar arrived incrementally

    val batch = Streams.fusedBatch(
      Streams.signalBars(spark.createDataset(trades :+ sentinel)))
      .collect().toList
    val batchByWin = batch.map(o => o.win_start.getTime -> o).toMap
    // identical pure fold => exact equality row by row
    streamed.foreach(o => assert(o == batchByWin(o.win_start.getTime)))

    val enter = streamed.find(_.action.contains("ENTER")).get
    assert(enter.win_start.getTime == 36 * 60000L && enter.side == "LONG")
    val exit = streamed.find(_.action.contains("EXIT")).get
    assert(exit.win_start.getTime == 38 * 60000L)
    assert(exit.reason.contains("TP_HIT"))
    assert(exit.pnl.exists(p => math.abs(p - 4.0) < 1e-9))
  }

  test("book-fed fused pipeline: union-into-one-groupBy, streaming equals batch, book trio lands") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.state.Fusion
    import graft.streaming.Streams.BookLevel
    val rnd = new scala.util.Random(13)
    // 30 bars of trades, each bar also carrying 6 bid + 6 ask book levels
    // (bids heavier -> positive imbalance); one level ties close enough
    // for the touch gate
    val trades = (0 until 30).flatMap { m =>
      val p = 100.0 + 0.2 * (m % 5)
      Seq(Trade("S", ts(m * 60 + 5), p, 1.0 + rnd.nextDouble(), false),
        Trade("S", ts(m * 60 + 35), p, 1.0 + rnd.nextDouble(), true))
    }
    var seq = 0L
    val books = (0 until 30).flatMap { m =>
      (0 until 6).flatMap { i =>
        seq += 2
        Seq(
          BookLevel("S", ts(m * 60 + 10 + i), is_bid = true,
            qty = 100.0 + 3.0 * i, seq = seq),
          BookLevel("S", ts(m * 60 + 11 + i), is_bid = false,
            qty = 60.0 + 2.0 * i, seq = seq + 1))
      }
    }
    val sentinelT = Trade("S", ts(7200), 100.0, 1.0, true)

    val tIn = MemoryStream[Trade]
    val bIn = MemoryStream[BookLevel]
    val q = Streams.fusedStream(
      Streams.signalBarsWithBook(tIn.toDS(), bIn.toDS(), "30 seconds"))
      .writeStream.format("memory").queryName("fusedbk_out")
      .outputMode("append").start()
    // split mid-corpus: rings and FSM state must carry across triggers
    tIn.addData(trades.filter(_.ts.getTime < 15 * 60000L))
    bIn.addData(books.filter(_.ts.getTime < 15 * 60000L))
    q.processAllAvailable()
    tIn.addData(trades.filter(_.ts.getTime >= 15 * 60000L) :+ sentinelT)
    bIn.addData(books.filter(_.ts.getTime >= 15 * 60000L))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("fusedbk_out").as[Fusion.FusedOut]
      .collect().toList.sortBy(_.win_start.getTime)
    assert(streamed.size >= 29)

    val batch = Streams.fusedBatch(Streams.signalBarsOf(
      Streams.asMarketEvents(spark.createDataset(trades :+ sentinelT))
        .union(Streams.asMarketEvents(spark.createDataset(books)))))
      .collect().toList
    val batchByWin = batch.map(o => o.win_start.getTime -> o).toMap
    streamed.foreach(o => assert(o == batchByWin(o.win_start.getTime)))

    // the book trio reached the fused frame: heavier bids -> positive
    // imbalance; wall ratios present on both sides
    val withBook = streamed.filter(_.win_start.getTime < 30 * 60000L)
    assert(withBook.nonEmpty)
    withBook.foreach { o =>
      assert(o.imbalance.exists(_ > 0.0), s"imbalance ${o.imbalance}")
      assert(o.bid_wall.isDefined && o.ask_wall.isDefined)
    }
  }

  test("doc ingest stream: cross-batch exact dedup, batch-identical verdicts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streams.RawDoc]
    val q = Streams.docIngest(input.toDF())
      .writeStream.format("memory").queryName("docs_ingest_out")
      .outputMode("append").start()
    input.addData(
      Streams.RawDoc(1L, "the quick brown fox jumps over the lazy dog", "en", "s1"),
      Streams.RawDoc(2L, "alpha beta", "en", "s1"))
    q.processAllAvailable()
    // batch 2: doc 3 repeats doc 1's content (cross-batch dup), 4 is new,
    // 5 is non-english (ingested but gated out)
    input.addData(
      Streams.RawDoc(3L, "the quick brown fox jumps over the lazy dog", "en", "s2"),
      Streams.RawDoc(4L, "gamma delta epsilon words entirely here now", "en", "s2"),
      Streams.RawDoc(5L, "der hund und die katze und das haus", "de", "s2"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("docs_ingest_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L, 4L, 5L)) // 3 deduped across batches
    assert(out(5L).getAs[Boolean]("lang_ok") == false &&
      out(5L).getAs[Boolean]("keep") == false)
    // the streaming verdict is bitwise-identical to the batch quality
    // query over the same corpus (shared column expressions)
    val d = writeDocsFixture(Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "alpha beta", "en"),
      (4L, "gamma delta epsilon words entirely here now", "en"),
      (5L, "der hund und die katze und das haus", "de")))
    val batch = rowsOf(graft.operators.TextAnalysis.queries("text_quality")(spark, d))
      .map(m => m("doc_id").asInstanceOf[Long] -> m("quality").asInstanceOf[Double]).toMap
    out.foreach { case (id, r) =>
      assert(r.getAs[Double]("quality") == batch(id), s"doc $id verdict drifted")
    }
  }

  test("streaming KMV estimates equal the batch sketch over the real corpus") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // stream the REAL sf0.01 corpus in two chunks: k-minima merge is
    // associative, so the final streamed sketch must equal the batch
    // query's exactly
    val docs = graft.sources.Tables.documents(spark, sfDir("sf0.01"))
      .select($"doc_id", $"text", $"lang", $"source")
      .as[Streams.RawDoc].collect().toSeq
    val input = MemoryStream[Streams.RawDoc]
    val q = Streams.kmvMonitor(input.toDF())
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("update").start()
    val (a, b) = docs.splitAt(docs.size / 2)
    input.addData(a)
    q.processAllAvailable()
    input.addData(b)
    q.processAllAvailable()
    q.stop()
    // update mode: keep the LAST emission per source
    val streamed = spark.table("kmv_out").collect()
      .zipWithIndex
      .groupBy(_._1.getAs[String]("source"))
      .map { case (s, rows) => s -> rows.maxBy(_._2)._1 }
    val batch = rowsOf(
      TextAnalysis.queries("text_gram_kmv")(spark, sfDir("sf0.01")))
      .map(m => m("source").asInstanceOf[String] -> m).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (src, r) =>
      assert(r.getAs[Int]("n_min") <= TextAnalysis.KmvK, "state is bounded")
      val est = r.getAs[Double]("est")
      val batchEst = batch(src)("est_distinct").asInstanceOf[Double]
      assert(math.abs(est - batchEst) < 1e-3,
        s"source $src: streamed $est vs batch $batchEst")
    }
  }

  test("streaming histogram grid serves the batch quantile estimates exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Pipeline
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsDf = graft.sources.Tables.documents(spark, sfDir("sf0.01"))
    // calibrate (lo, width) the way a deployment does: from a prior
    // batch pass over the same corpus
    val mm = docsDf.agg(min($"n_chars"), max($"n_chars")).collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val width = (hi - lo).toDouble / Pipeline.HistB
    val docs = docsDf.select($"doc_id", $"text", $"lang", $"source")
      .as[Streams.RawDoc].collect().toSeq
    val input = MemoryStream[Streams.RawDoc]
    val q = Streams.histMonitor(input.toDF(), lo, width)
      .writeStream.format("memory").queryName("hist_grid_out")
      .outputMode("complete").start()
    val (a, b) = docs.splitAt(docs.size / 2)
    input.addData(a)
    q.processAllAvailable()
    input.addData(b)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hist_grid_out").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("bin")) ->
        r.getAs[Long]("cnt")).toMap
    // associative counts: the incrementally-folded grid equals one
    // batch pass of the same transformation
    val batchGrid = Streams.histMonitor(
      spark.createDataset(docs).toDF(), lo, width).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("bin")) ->
        r.getAs[Long]("cnt")).toMap
    assert(streamed == batchGrid)
    assert(streamed.size <= 5 * Pipeline.HistB,
      "state is bounded by langs x bins")
    // CDF-inversion over the streamed grid reproduces the batch
    // query's quantile estimates exactly (same bins, same counts)
    val batchEst = rowsOf(Pipeline.queries("docs_length_hist")(
      spark, sfDir("sf0.01")))
      .map(m => (m("lang").asInstanceOf[String],
        m("q").asInstanceOf[Double]) -> m("est").asInstanceOf[Double]).toMap
    streamed.keySet.map(_._1).foreach { lang =>
      val bins = streamed.collect { case ((l, b), c) if l == lang => (b, c) }
        .toSeq.sortBy(_._1)
      val n = bins.map(_._2).sum
      var cum = 0L
      val cums = bins.map { case (b, c) => cum += c; (b, c, cum) }
      Pipeline.LengthPcts.foreach { qq =>
        val target = qq * n
        val (b, c, cm) = cums.find { case (_, c, cm) =>
          cm >= target && (cm - c) < target }.get
        val served = BigDecimal(
          if (width == 0.0) lo.toDouble
          else lo + width * (b + (target - (cm - c)) / c))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(served == batchEst((lang, qq)),
          s"$lang q=$qq: streamed grid served $served, batch ${batchEst((lang, qq))}")
      }
    }
  }

  test("streaming count-min grid equals the batch grid and serves batch-identical estimates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      Streams.RawDoc(1L, "the quick brown fox jumps over the lazy dog", "en", "s1"),
      Streams.RawDoc(2L, "the quick brown fox jumps over the lazy dog", "en", "s1"),
      Streams.RawDoc(3L, "the quick brown fox jumps over a lazy dog", "en", "s2"),
      Streams.RawDoc(4L, "der hund und die katze und das haus", "de", "s2"),
      Streams.RawDoc(5L, "completely different words entirely here now", "en", "s2"))
    val input = MemoryStream[Streams.RawDoc]
    val q = Streams.cmsMonitor(input.toDF())
      .writeStream.format("memory").queryName("cms_grid_out")
      .outputMode("complete").start()
    input.addData(docs(0), docs(1))
    q.processAllAvailable()
    input.addData(docs(2), docs(3), docs(4))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_grid_out").collect()
      .map(r => (r.getAs[Int]("row_id"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cell")).toMap
    // the incrementally-folded grid is identical to one batch pass of
    // the same transformation over the full corpus
    val batchGrid = Streams.cmsMonitor(spark.createDataset(docs).toDF())
      .collect()
      .map(r => (r.getAs[Int]("row_id"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cell")).toMap
    assert(streamed == batchGrid)
    assert(streamed.size <= TextAnalysis.CmsD * TextAnalysis.CmsW,
      "state is bounded by the grid dimensions")
    // probing the streamed grid with the batch query's top grams
    // reproduces the batch estimates exactly (same bucket family)
    val d = writeDocsFixture(docs.map(r => (r.doc_id, r.text, r.lang)))
    val hh = TextAnalysis.queries("text_heavy_hitters")(spark, d)
    val probes = hh.select($"gh", $"cms_est", explode(array(
      (0 until TextAnalysis.CmsD).map(j => struct(
        lit(j).as("row_id"),
        TextAnalysis.cmsBucket(j, $"gh").as("bucket"))): _*)).as("p"))
      .select($"gh", $"cms_est", $"p.row_id", $"p.bucket").collect()
    probes.groupBy(r => (r.getAs[Long]("gh"), r.getAs[Long]("cms_est")))
      .foreach { case ((gh, est), rows) =>
        val served = rows.map(r =>
          streamed((r.getAs[Int]("row_id"), r.getAs[Long]("bucket")))).min
        assert(served == est, s"gram $gh: streamed grid served $served, batch $est")
      }
  }

  test("vpin monitor: volume-clock buckets equal the batch rows minus the open bucket, across trigger cuts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // trades sized so bucket boundaries fall mid-trigger; k varies so
    // bucket populations are irregular like real volume time
    val ks = Seq(1800L, 2500L, 1200L, 3000L, 900L, 2200L, 1500L, 2600L,
      1100L, 2000L, 1700L, 2400L)
    val types = Seq("click", "error", "view", "error", "purchase", "error",
      "click", "signup", "view", "error", "click", "error")
    val rows = ks.zip(types).zipWithIndex.map { case ((k, t), i) =>
      (i + 1L, (i + 1L) * 1000000L, t, s"""{"k": $k}""")
    }
    // batch twin over the identical trades (parquet fixture, ns clock)
    val dir = java.nio.file.Files.createTempDirectory("graft_vpin").toString
    rows.map { case (id, tsUs, t, props) => (id, tsUs * 1000L, 1L, t, 1.0, props) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = rowsOf(graft.operators.Flow.queries("flow_vpin")(spark, dir))
    val openVb = batch.map(_("vb").asInstanceOf[Long]).max
    val expected = batch.filter(_("vb").asInstanceOf[Long] != openVb)
      .map(m => (m("vb"), m("buy_vol"), m("sell_vol"), m("n_trades"),
        m("oi"), m("vpin")))
      .sortBy(_._1.asInstanceOf[Long])
    assert(expected.size >= 3, "fixture must close several buckets")

    val input = MemoryStream[(Long, Long, String, String)]
    val q = Streams.vpinMonitor(
      input.toDF().toDF("event_id", "ts_us", "event_type", "props"))
      .writeStream.format("memory").queryName("vpin_out")
      .outputMode("append").start()
    input.addData(rows.take(4): _*)   // cut inside bucket 1
    q.processAllAvailable()
    input.addData(rows.slice(4, 9): _*)
    q.processAllAvailable()
    input.addData(rows.drop(9): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("vpin_out").collect()
      .map(r => (r.getAs[Long]("vb"), r.getAs[Long]("buy_vol"),
        r.getAs[Long]("sell_vol"), r.getAs[Long]("n_trades"),
        r.getAs[Long]("oi"), r.getAs[Double]("vpin")))
      .sortBy(_._1)
    assert(streamed.toSeq == expected,
      s"streamed:\n${streamed.mkString("\n")}\nbatch-minus-open:\n${expected.mkString("\n")}")
  }

  test("vpin monitor: the volume clock and open bucket survive a query restart from the checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ks = Seq(1800L, 2500L, 1200L, 3000L, 900L, 2200L, 1500L, 2600L,
      1100L, 2000L, 1700L, 2400L)
    val types = Seq("click", "error", "view", "error", "purchase", "error",
      "click", "signup", "view", "error", "click", "error")
    val rows = ks.zip(types).zipWithIndex.map { case ((k, t), i) =>
      (i + 1L, (i + 1L) * 1000000L, t, s"""{"k": $k}""")
    }
    val base = java.nio.file.Files.createTempDirectory("graft_vpin_ck").toString
    val (srcDir, ckptDir, outDir) = (s"$base/src", s"$base/ckpt", s"$base/out")
    // batch twin on the identical trades
    val fixDir = s"$base/fix"
    rows.map { case (id, tsUs, t, props) => (id, tsUs * 1000L, 1L, t, 1.0, props) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$fixDir/events.parquet")
    val batch = rowsOf(graft.operators.Flow.queries("flow_vpin")(spark, fixDir))
    val openVb = batch.map(_("vb").asInstanceOf[Long]).max
    val expected = batch.filter(_("vb").asInstanceOf[Long] != openVb)
      .map(m => (m("vb"), m("buy_vol"), m("sell_vol"), m("n_trades"),
        m("oi"), m("vpin"))).sortBy(_._1.asInstanceOf[Long])

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts_us BIGINT, event_type STRING, props STRING")
    def startQuery() = Streams
      .vpinMonitor(spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode("append").start()

    // stop with bucket 1 open mid-fill: its partials and the trailing
    // oi window live only in the state store across the restart
    rows.take(5).toDF("event_id", "ts_us", "event_type", "props")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    rows.drop(5).toDF("event_id", "ts_us", "event_type", "props")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("vb"), r.getAs[Long]("buy_vol"),
        r.getAs[Long]("sell_vol"), r.getAs[Long]("n_trades"),
        r.getAs[Long]("oi"), r.getAs[Double]("vpin")))
      .sortBy(_._1)
    assert(streamed.toSeq == expected,
      s"restart lost the volume clock:\n${streamed.mkString("\n")}\nvs\n${expected.mkString("\n")}")
    // the bucket closed AFTER the restart must carry volume accumulated
    // BEFORE it (trades 4-5 opened bucket 1 pre-stop; 6 filled it post)
    assert(expected.exists(_._1 == 1L), "fixture must close bucket 1 post-restart")
  }

  test("heavy-hitter alert chain: stream equals the replayed grid+throttle census, throttle suppresses re-fires") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // "alpha beta gamma ..." recurs once per second: its grams cross
    // threshold 3 at t=3, re-fire t=4..7 inside the 5 s throttle
    // (suppressed), and re-alert at t=8; fillers never cross
    val hot = "alpha beta gamma delta"
    val docs = (1L to 8L).map(i => Streams.TimedDoc(i, hot, ts(i))) ++
      Seq(Streams.TimedDoc(20L, "unique filler words here", ts(2)),
        Streams.TimedDoc(21L, "другие совсем слова", ts(5)))
    val ordered = docs.sortBy(d => (d.ts.getTime, d.doc_id))
    val threshold = 3L

    // independent census: collect each doc's gram hashes through the
    // SHARED gram identity, then replay grid + per-gram throttle in
    // plain Scala (the monitor's contract, written twice)
    val ghsByDoc = spark.createDataset(ordered).toDF()
      .select($"doc_id", TextAnalysis.gramHashArr(TextAnalysis.tokensCol).as("ghs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val d = TextAnalysis.CmsD; val w = TextAnalysis.CmsW
    val grid = Array.fill(d * w)(0L)
    var unthrottled = 0
    val lastEmit = scala.collection.mutable.Map[String, Long]()
    val expected = ordered.flatMap { doc =>
      val seen = scala.collection.mutable.Set[Long]()
      ghsByDoc(doc.doc_id).flatMap { gh =>
        val est = (0 until d).map { j =>
          val c = j * w + TextAnalysis.cmsBucketJvm(j, gh)
          grid(c) += 1; grid(c)
        }.min
        if (est >= threshold && seen.add(gh)) {
          unthrottled += 1
          val sym = gh.toString
          if (lastEmit.get(sym).forall(l => doc.ts.getTime - l >= 5000L)) {
            lastEmit(sym) = doc.ts.getTime
            Some((sym, doc.ts.getTime, s"heavy hitter: gram $gh est=$est"))
          } else None
        } else None
      }
    }
    assert(expected.nonEmpty, "the fixture must produce alerts")
    assert(expected.size < unthrottled,
      "the fixture must exercise the throttle (some re-fires suppressed)")

    // stream the same docs across trigger cuts that split the hot run
    // mid-threshold AND mid-throttle-window
    val input = MemoryStream[Streams.TimedDoc]
    val q = Streams.hhAlerts(input.toDF(), threshold)
      .writeStream.format("memory").queryName("hh_alerts_out")
      .outputMode("append").start()
    input.addData(ordered.take(3): _*)   // grid at 2, crossing pending
    q.processAllAvailable()
    input.addData(ordered.slice(3, 7): _*) // inside the throttle window
    q.processAllAvailable()
    input.addData(ordered.drop(7): _*)   // past it: the re-alert
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hh_alerts_out").collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[String]("message")))
      .sortBy(a => (a._2, a._1))
    assert(streamed.toSeq == expected.sortBy(a => (a._2, a._1)),
      s"streamed:\n${streamed.mkString("\n")}\nexpected:\n${expected.mkString("\n")}")
  }

  test("streaming LSH monitor emits exactly the batch band-collision pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a real-corpus slice plus two planted dups: 9001 repeats the first
    // doc verbatim (must collide in BOTH bands, est 1.0), 9002 appends
    // one token (high-overlap near-dup — collision decided by the same
    // signatures on both paths, whatever they say)
    val base = graft.sources.Tables.documents(spark, sfDir("sf0.001"))
      .orderBy($"doc_id").limit(150)
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().toSeq
    val t0 = base.head._2
    val rows = base ++ Seq((9001L, t0, "en"), (9002L, t0 + " zzz", "en"))
    val dir = writeDocsFixture(rows)
    // batch truth over the same fixture
    val sig = rowsOf(Dedup.queries("dedup_minhash_sig")(spark, dir))
      .map(m => m("doc_id").asInstanceOf[Long] ->
        (0 until Dedup.MinhashK).map(i => m(s"mh$i").asInstanceOf[Long]))
      .toMap
    val batchPairs = rowsOf(Dedup.queries("dedup_minhash_pairs")(spark, dir))
      .map(m => (m("doc_a").asInstanceOf[Long], m("doc_b").asInstanceOf[Long]))
      .toSet
    val ids = sig.keys.toSeq.sorted
    val expectedHits = (for {
      b <- 0 until Dedup.MinhashK / 4
      i <- ids; j <- ids if i < j
      if (0 until 4).forall(r => sig(i)(b * 4 + r) == sig(j)(b * 4 + r))
    } yield (b, i, j)).toSet
    assert(expectedHits.exists { case (_, _, j) => j == 9001L },
      "fixture must plant at least one collision")

    val input = MemoryStream[Streams.RawDoc]
    val q = Streams.lshMonitor(input.toDF())
      .writeStream.format("memory").queryName("lsh_out")
      .outputMode("append").start()
    // split so the planted dups arrive a micro-batch AFTER their
    // originals — the cross-batch case batch LSH cannot serve
    val (first, second) = rows.splitAt(rows.size / 2)
    input.addData(first.map(r => Streams.RawDoc(r._1, r._2, r._3, "src")))
    q.processAllAvailable()
    input.addData(second.map(r => Streams.RawDoc(r._1, r._2, r._3, "src")))
    q.processAllAvailable()
    // a replayed doc must not re-emit (at-least-once upstream)
    input.addData(Streams.RawDoc(9001L, t0, "en", "src"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("lsh_out").as[Streams.NearDupHit].collect()
    assert(streamed.map(h => (h.band, h.doc_a, h.doc_b)).toSet == expectedHits)
    assert(streamed.length == expectedHits.size,
      "each (band, pair) hit emits exactly once, replay included")
    assert(streamed.map(h => (h.doc_a, h.doc_b)).toSet == batchPairs)
    // the attached estimate is the signature-match fraction — the same
    // quantity dedup_minhash_est computes from the batch signatures
    streamed.foreach { h =>
      val exp = (0 until Dedup.MinhashK)
        .count(i => sig(h.doc_a)(i) == sig(h.doc_b)(i)).toDouble / Dedup.MinhashK
      assert(h.est == exp, s"pair (${h.doc_a},${h.doc_b})")
    }
    assert(streamed.exists(h =>
      h.doc_a == base.head._1 && h.doc_b == 9001L && h.est == 1.0))
  }

  test("phash monitor streams the batch image near-dup pairs across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val P = graft.operators.Phash
    val M = graft.operators.Multimodal
    // 20 docs x 2 variants, img_id = doc_id * 10 + variant — the twin
    // pairs are planted near-dups, exactly the batch fixture's geometry
    val imgs = (for (doc <- 0 until 20; v <- 0 to 1)
      yield Streams.PhashImg(doc.toLong * 10 + v, s"pm-doc-$doc", v)).toSeq
    val sig = imgs.map { im =>
      val d = M.decode(P.synthesize(im.text, im.variant))
      im.img_id -> P.dhash(d.data, d.width, d.height)._1
    }.toMap
    val expected = (for {
      b <- 0 until P.Bands
      i <- sig.keys.toSeq.sorted; j <- sig.keys.toSeq.sorted if i < j
      if ((sig(i) >> (b * 8)) & 255) == ((sig(j) >> (b * 8)) & 255)
      ham = java.lang.Long.bitCount(sig(i) ^ sig(j)) if ham <= P.HamMax
    } yield (b, i, j, ham)).toSet
    assert(expected.nonEmpty, "fixture must band-collide somewhere")

    val input = MemoryStream[Streams.PhashImg]
    val q = Streams.phashMonitor(input.toDF())
      .writeStream.format("memory").queryName("phash_out")
      .outputMode("append").start()
    // variants arrive a micro-batch after their originals — the
    // cross-batch near-dup case
    val (orig, variants) = imgs.partition(_.variant == 0)
    input.addData(orig)
    q.processAllAvailable()
    input.addData(variants)
    q.processAllAvailable()
    input.addData(imgs.head) // replay must not re-emit
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("phash_out").as[Streams.PhashHit].collect()
    assert(streamed.map(h => (h.band, h.img_a, h.img_b, h.hamming)).toSet
      == expected)
    assert(streamed.length == expected.size,
      "each (band, pair) hit emits exactly once, replay included")
  }

  test("stream-stream interval join: trades pick up their lookback book updates") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // away from epoch 0: the initial watermark sits AT the epoch, and a
    // row exactly on it trips the state-retention boundary — an edge no
    // real feed has
    def ts(s: Long) = new java.sql.Timestamp((86400L + s) * 1000L)
    // two symbols; book updates at +0/10/25/40/100 s, trades at
    // +30/45/102 s with a 30 s lookback: the 30 s trade sees 0/10/25,
    // the 45 s trade sees 25/40, the 102 s trade sees only 100
    val books = Seq(
      Streams.BookLevel("S", ts(0), is_bid = true, 5.0, 1L),
      Streams.BookLevel("S", ts(10), is_bid = false, 7.0, 2L),
      Streams.BookLevel("S", ts(25), is_bid = true, 9.0, 3L),
      Streams.BookLevel("S", ts(40), is_bid = false, 11.0, 4L),
      Streams.BookLevel("S", ts(100), is_bid = true, 13.0, 5L),
      Streams.BookLevel("T", ts(28), is_bid = true, 99.0, 1L))
    val trades = Seq(
      Streams.Trade("S", ts(30), 100.0, 1.0, false),
      Streams.Trade("S", ts(45), 101.0, 2.0, true),
      Streams.Trade("S", ts(102), 102.0, 3.0, false),
      Streams.Trade("T", ts(31), 55.0, 4.0, false))
    val tIn = MemoryStream[Streams.Trade]
    val bIn = MemoryStream[Streams.BookLevel]
    val joined = Streams.tradeBookJoin(tIn.toDS(), bIn.toDS())
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    // the join is cross-batch in BOTH directions: early books arrive a
    // batch before their trades; the 100 s book arrives after the 45 s
    // trade but before the 102 s trade
    bIn.addData(books.take(4))
    q.processAllAvailable()
    tIn.addData(trades.take(2) :+ trades(3))
    q.processAllAvailable()
    bIn.addData(books.drop(4))
    tIn.addData(trades(2))
    q.processAllAvailable()
    // plan shape: a real symmetric-hash stream-stream join with state
    // eviction, not a buffered nested loop
    val planOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(planOut)) { q.explain() }
    assert(planOut.toString.contains("StreamingSymmetricHashJoin"),
      s"expected a symmetric hash join plan:\n$planOut")
    q.stop()
    val streamed = spark.table("ssj_out")
      .select($"symbol", $"t_ts", $"b_ts", $"seq").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    // batch truth: the identical join over the same rows as static frames
    val batch = Streams.tradeBookJoin(
      spark.createDataset(trades), spark.createDataset(books))
      .select($"symbol", $"t_ts", $"b_ts", $"seq").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // the fixture exercises the bound: trade@30 sees exactly 3 book rows,
    // trade@102 only the late one, and symbols never cross
    def seqsOf(tMs: Long) = batch.filter(p => p._1 == "S" && p._2 == tMs).map(_._4)
    assert(seqsOf(ts(30).getTime) == Set(1L, 2L, 3L))
    assert(seqsOf(ts(45).getTime) == Set(3L, 4L))
    assert(seqsOf(ts(102).getTime) == Set(5L))
    assert(batch.filter(_._1 == "T") ==
      Set(("T", ts(31).getTime, ts(28).getTime, 1L)))
  }

  test("book pressure: join chained into a windowed agg, batch-identical") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp((86400L + s) * 1000L)
    val books = Seq(
      Streams.BookLevel("S", ts(5), is_bid = true, 5.0, 1L),
      Streams.BookLevel("S", ts(20), is_bid = false, 7.0, 2L),
      Streams.BookLevel("S", ts(55), is_bid = true, 9.0, 3L),
      Streams.BookLevel("S", ts(70), is_bid = false, 11.0, 4L))
    // sentinels on BOTH streams: the join's output watermark is the MIN
    // of its inputs, and the downstream windowed agg only flushes in
    // append mode once that joint watermark passes a window's end
    val trades = Seq(
      Streams.Trade("S", ts(30), 100.0, 1.0, false),
      Streams.Trade("S", ts(45), 101.0, 2.0, true),
      Streams.Trade("S", ts(75), 102.0, 3.0, false),
      Streams.Trade("S", ts(4000), 1.0, 1.0, false))
    val booksAll = books :+
      Streams.BookLevel("S", ts(4000), is_bid = true, 1.0, 5L)
    val tIn = MemoryStream[Streams.Trade]
    val bIn = MemoryStream[Streams.BookLevel]
    val q = Streams.bookPressure(tIn.toDS(), bIn.toDS())
      .writeStream.format("memory").queryName("bp_out")
      .outputMode("append").start()
    bIn.addData(books.take(3))
    tIn.addData(trades.take(2))
    q.processAllAvailable()
    bIn.addData(booksAll.drop(3))
    tIn.addData(trades.drop(2))
    q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6,
        math.rint(r.getDouble(4) * 1e6) / 1e6)
    // compare the REAL windows (the sentinels' own window stays open
    // when the query stops, so it is absent from the streamed output)
    val cutoff = ts(3000).getTime
    val streamed = spark.table("bp_out").collect().map(key)
      .filter(_._1 < cutoff).toSet
    val batch = Streams.bookPressure(
      spark.createDataset(trades), spark.createDataset(booksAll))
      .collect().map(key).filter(_._1 < cutoff).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed $streamed != batch $batch")
    // the fixture exercises both windows: trades at 30/45 s share a
    // window (3 pairs: books 5,20 + book 20), the 75 s trade sees 55/70
    assert(batch.map(_._3) == Set(3L, 2L), s"pair counts: $batch")
  }

  test("book-at-print: streaming as-of picks each trade's latest in-bound quote") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp((86400L + s) * 1000L)
    val books = Seq(
      Streams.BookLevel("S", ts(5), is_bid = true, 5.0, 1L),
      Streams.BookLevel("S", ts(20), is_bid = false, 7.0, 2L),
      // same-timestamp pair: seq must break the tie deterministically
      Streams.BookLevel("S", ts(20), is_bid = true, 8.0, 3L),
      Streams.BookLevel("S", ts(55), is_bid = true, 9.0, 4L),
      Streams.BookLevel("S", ts(4000), is_bid = true, 1.0, 9L))
    val trades = Seq(
      Streams.Trade("S", ts(30), 100.0, 1.0, false),  // sees 5,20,20 -> seq 3
      Streams.Trade("S", ts(60), 101.0, 2.0, true),   // sees 55 -> seq 4
      Streams.Trade("S", ts(300), 102.0, 3.0, false), // no quote in bound
      Streams.Trade("S", ts(4000), 1.0, 1.0, false))  // sentinel
    val tIn = MemoryStream[Streams.Trade]
    val bIn = MemoryStream[Streams.BookLevel]
    val q = Streams.bookAtPrint(tIn.toDS(), bIn.toDS())
      .writeStream.format("memory").queryName("bap_out")
      .outputMode("append").start()
    bIn.addData(books.take(2))
    tIn.addData(trades.take(1))
    q.processAllAvailable()
    // the tying update and later books arrive a batch later — the
    // trade's group must stay open until the watermark says complete
    bIn.addData(books.drop(2))
    tIn.addData(trades.drop(1))
    q.processAllAvailable()
    q.stop()
    val cutoff = ts(3000).getTime
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(1).getTime, r.getLong(6), r.getDouble(8), r.getLong(9))
    val streamed = spark.table("bap_out").collect()
      .filter(_.getTimestamp(1).getTime < cutoff).map(key).toSet
    val batch = Streams.bookAtPrint(
      spark.createDataset(trades), spark.createDataset(books))
      .collect().filter(_.getTimestamp(1).getTime < cutoff).map(key).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // as-of semantics: trade@30 resolves the ts-20 TIE to seq 3; trade
    // @60 picks seq 4; trade@300 has no in-bound quote and is absent
    assert(streamed == Set(
      (ts(30).getTime, 3L, 8.0, 3L),
      (ts(60).getTime, 4L, 9.0, 1L)), s"got $streamed")
  }

  test("monitor retention: within-horizon verdicts unchanged; idle buckets expire") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // ProcessingTimeTimeout + the default ASAP trigger spins no-data
    // micro-batches to poll expiry (processAllAvailable never returns);
    // a deployment paces with Trigger.ProcessingTime — tests disable
    // no-data batches instead, so timeouts sweep on data batches only
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndPrev = spark.conf.get(ndKey)
    spark.conf.set(ndKey, "false")
    try {
    // --- 1) a horizon far longer than the replay: output must be
    // IDENTICAL to full-history (NoTimeout) semantics ---
    val docs = Seq(
      Streams.RawDoc(1L, "alpha beta gamma delta epsilon", "en", "s"),
      Streams.RawDoc(2L, "totally different words entirely here", "en", "s"),
      Streams.RawDoc(3L, "alpha beta gamma delta epsilon", "en", "s"))
    def runLsh(retention: Option[String], name: String): Set[(Int, Long, Long)] = {
      val input = MemoryStream[Streams.RawDoc]
      val q = Streams.lshMonitor(input.toDF(), retention)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      input.addData(docs.take(2))
      q.processAllAvailable()
      input.addData(docs.drop(2)) // the dup arrives a batch later
      q.processAllAvailable()
      q.stop()
      spark.table(name).as[Streams.NearDupHit].collect()
        .map(h => (h.band, h.doc_a, h.doc_b)).toSet
    }
    val full = runLsh(None, "lsh_ttl_full")
    val horizon = runLsh(Some("1 hour"), "lsh_ttl_hour")
    assert(full == horizon, "a live TTL must not change in-horizon verdicts")
    assert(full.exists { case (_, a, b) => a == 1L && b == 3L },
      "fixture must collide the planted dup")
    // --- 2) a tiny horizon: a bucket idle past it is forgotten, so a
    // late copy of an expired original emits NO hit (and recovers as a
    // fresh first-seen member) ---
    val input = MemoryStream[Streams.RawDoc]
    val q = Streams.lshMonitor(input.toDF(), Some("1 millisecond"))
      .writeStream.format("memory").queryName("lsh_ttl_tiny")
      .outputMode("append").start()
    input.addData(docs.head)
    q.processAllAvailable()
    Thread.sleep(100) // let the horizon pass while the bucket sits idle
    // an unrelated batch triggers the timeout sweep for doc 1's buckets
    input.addData(docs(1))
    q.processAllAvailable()
    input.addData(docs(2)) // same text as expired doc 1
    q.processAllAvailable()
    // doc 3 collides with nothing (doc 1's state is gone)...
    val tiny = spark.table("lsh_ttl_tiny").as[Streams.NearDupHit].collect()
    assert(!tiny.exists(h => h.doc_a == 1L && h.doc_b == 3L),
      s"expired bucket must forget its members: $tiny")
    // ...but was admitted as the bucket's fresh first member: an
    // immediate same-batch-window copy hits it
    input.addData(Streams.RawDoc(4L, docs.head.text, "en", "s"))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("lsh_ttl_tiny").as[Streams.NearDupHit].collect()
    assert(after.exists(h => h.doc_a == 3L && h.doc_b == 4L && h.est == 1.0),
      s"recycled bucket must admit and match fresh members: ${after.toSeq}")
    } finally spark.conf.set(ndKey, ndPrev)
  }

  test("doc ingest retention: within-horizon duplicates still drop, verdicts identical") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Streams.RawDoc]
    val q = Streams.docIngest(input.toDF(), Some("1 hour"))
      .writeStream.format("memory").queryName("docs_ingest_ttl_out")
      .outputMode("append").start()
    input.addData(
      Streams.RawDoc(1L, "the quick brown fox jumps over the lazy dog", "en", "s1"),
      Streams.RawDoc(2L, "alpha beta", "en", "s1"))
    q.processAllAvailable()
    input.addData(
      Streams.RawDoc(3L, "the quick brown fox jumps over the lazy dog", "en", "s2"),
      Streams.RawDoc(4L, "gamma delta epsilon words entirely here now", "en", "s2"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("docs_ingest_ttl_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the cross-batch dup (3) arrived well inside the hour: dropped,
    // exactly as the full-history mode drops it
    assert(out.keySet == Set(1L, 2L, 4L))
    assert(out(1L).getAs[Boolean]("keep") == true)
  }

  test("phash monitor retention: long horizon reproduces full-history hits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndPrev = spark.conf.get(ndKey)
    spark.conf.set(ndKey, "false")
    try {
    val P = graft.operators.Phash
    val imgs = (for (doc <- 0 until 6; v <- 0 to 1)
      yield Streams.PhashImg(doc.toLong * 10 + v, s"pmttl-doc-$doc", v)).toSeq
    def run(retention: Option[String], name: String): Set[(Int, Long, Long, Int)] = {
      val input = MemoryStream[Streams.PhashImg]
      val q = Streams.phashMonitor(input.toDF(), retention)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val (orig, variants) = imgs.partition(_.variant == 0)
      input.addData(orig)
      q.processAllAvailable()
      input.addData(variants)
      q.processAllAvailable()
      q.stop()
      spark.table(name).as[Streams.PhashHit].collect()
        .map(h => (h.band, h.img_a, h.img_b, h.hamming)).toSet
    }
    val full = run(None, "phash_ttl_full")
    val horizon = run(Some("1 hour"), "phash_ttl_hour")
    assert(full == horizon && full.nonEmpty)
    } finally spark.conf.set(ndKey, ndPrev)
  }

  test("LSH monitor bucket cap bounds a degenerate near-constant stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cap = Streams.LshBucketCap
    val nBands = graft.operators.Dedup.MinhashK / 4
    // every doc identical: all land in the SAME bucket per band — the
    // O(n^2) degenerate case the cap exists for
    val txt = "alpha beta gamma delta"
    val input = MemoryStream[Streams.RawDoc]
    val q = Streams.lshMonitor(input.toDF())
      .writeStream.format("memory").queryName("lsh_cap_out")
      .outputMode("append").start()
    input.addData((1 to cap + 16).map(i =>
      Streams.RawDoc(i.toLong, txt, "en", "src")))
    q.processAllAvailable()
    // a later arrival still hits the saturated bucket, not the members
    input.addData(Streams.RawDoc(1000L, txt, "en", "src"))
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("lsh_cap_out").as[Streams.NearDupHit].collect()
    val (sentinels, normal) = hits.partition(_.doc_b == -1L)
    // intra-batch order is sorted doc_id: 1..cap admit, the rest saturate
    assert(normal.forall(h => h.doc_a <= cap && h.doc_b <= cap))
    assert(normal.length == nBands * cap * (cap - 1) / 2,
      s"admitted members pair exactly: ${normal.length}")
    assert(sentinels.map(_.doc_a).toSet == ((cap + 1) to (cap + 16))
      .map(_.toLong).toSet + 1000L)
    assert(sentinels.length == nBands * 17, "one sentinel per band per refusal")
    assert(sentinels.forall(_.est == -1.0))
  }

  test("streaming layout append audit replays the batch incremental audit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val L = graft.operators.Layout
    val dir = sfDir() // sf0.001
    // the standing index, built batch-side and frozen (file-count-sized)
    val index = L.standingGstats(spark, dir).collect().toSeq.map(r =>
      Streams.GranuleBox(r.getAs[Long]("granule"), r.getAs[Long]("zhi"),
        r.getAs[Long]("ts_lo"), r.getAs[Long]("ts_hi"),
        r.getAs[Long]("uid_lo"), r.getAs[Long]("uid_hi")))
    val base = graft.sources.Tables.events(spark, dir)
      .filter($"event_id" % L.DeltaMod =!= 0)
    val st = base.agg(
      org.apache.spark.sql.functions.min($"ts_us"),
      org.apache.spark.sql.functions.max($"ts_us"),
      org.apache.spark.sql.functions.min($"user_id"),
      org.apache.spark.sql.functions.max($"user_id")).head()
    val deltas = graft.sources.Tables.events(spark, dir)
      .filter($"event_id" % L.DeltaMod === 0)
      .select($"event_id", $"ts_us", $"user_id")
      .as[(Long, Long, Long)].collect().toSeq
    val input = MemoryStream[(Long, Long, Long)]
    val q = Streams.layoutMonitor(
      input.toDF().toDF("event_id", "ts_us", "user_id"),
      st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3), index)
      .writeStream.format("memory").queryName("layout_mon")
      .outputMode("update").start()
    // two triggers: counts must accumulate across the boundary
    input.addData(deltas.take(deltas.size / 2))
    q.processAllAvailable()
    input.addData(deltas.drop(deltas.size / 2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("layout_mon").as[Streams.GranuleAppend]
      .collect().groupBy(_.granule)
      .map { case (g, rows) => g -> rows.maxBy(_.n_new) } // last emission
    val batch = rowsOf(SparkEntry.queries("layout_incremental")(spark, dir))
      .filter(_("n_new").asInstanceOf[Long] > 0L)
      .map(r => r("granule").asInstanceOf[Long] ->
        (r("n_new").asInstanceOf[Long], r("n_widen").asInstanceOf[Long]))
      .toMap
    assert(streamed.keySet === batch.keySet,
      "the stream must route every delta to the batch path's granule")
    batch.foreach { case (g, (n, w)) =>
      val s = streamed(g)
      assert(s.n_new === n && s.n_widen === w && s.box_widened === (w > 0),
        s"granule $g: streamed (${s.n_new},${s.n_widen}) vs batch ($n,$w)")
    }
  }

  test("streaming vector-ingest monitor replays the batch ivf append audit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = sfDir() // sf0.001
    // the standing index: base-trained centroids, frozen (k x Dim)
    val cents = graft.operators.Similarity.baseCompDf(spark, dir)
      .collect()
      .groupBy(_.getAs[Int]("cell"))
      .map { case (cell, rows) =>
        val c = new Array[Double](rows.length)
        rows.foreach(r => c(r.getAs[Number]("i").intValue - 1) = r.getAs[Double]("c"))
        (cell, c)
      }.toSeq
    val deltas = graft.sources.Tables.embeddings(spark, dir)
      .filter($"vec_id" % graft.operators.Similarity.VecDeltaMod === 0)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val input = MemoryStream[(Long, Array[Float])]
    val q = Streams.vecMonitor(
      input.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("vec_mon")
      .outputMode("update").start()
    input.addData(deltas.take(deltas.size / 2))
    q.processAllAvailable()
    input.addData(deltas.drop(deltas.size / 2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("vec_mon").as[Streams.CellOcc]
      .collect().groupBy(_.cell)
      .map { case (c, rows) => c -> rows.maxBy(_.n_new) }
    val batch = rowsOf(SparkEntry.queries("ann_ivf_append")(spark, dir))
      .filter(_("n_new").asInstanceOf[Long] > 0L)
      .map(r => r("cell").asInstanceOf[Int] ->
        (r("n_new").asInstanceOf[Long],
          r("cos_new").asInstanceOf[Double])).toMap
    assert(streamed.keySet === batch.keySet,
      "the stream must route every delta to the batch path's cell")
    batch.foreach { case (c, (n, cos)) =>
      val s = streamed(c)
      assert(s.n_new === n, s"cell $c: streamed ${s.n_new} vs batch $n")
      // the batch side floors its micro-integer mean (up to 1e-6 below
      // the true mean); the streamed side is a raw running mean — so
      // they agree to the floor width plus summation ulps
      assert(math.abs(s.mean_cos_new - cos) < 2e-6,
        s"cell $c: streamed mean ${s.mean_cos_new} vs batch $cos")
    }
  }

  test("funnel monitor retention: within-horizon progress identical") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndPrev = spark.conf.get(ndKey)
    spark.conf.set(ndKey, "false")
    try {
      val ev = graft.sources.Tables.events(spark, sfDir())
        .select($"user_id", $"event_type", $"ts_us")
        .as[(Long, String, Long)].collect().toSeq.sortBy(_._3)
      def run(retention: Option[String], name: String): Set[(Long, Long)] = {
        val input = MemoryStream[(Long, String, Long)]
        val q = Streams.funnelMonitor(
          input.toDF().toDF("user_id", "event_type", "ts_us"), retention)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        input.addData(ev.take(ev.size / 2))
        q.processAllAvailable()
        input.addData(ev.drop(ev.size / 2))
        q.processAllAvailable()
        q.stop()
        spark.table(name).as[Streams.FunnelProgress].collect()
          .map(p => (p.user_id, p.stage)).toSet
      }
      val full = run(None, "funnel_ttl_full")
      val horizon = run(Some("1 hour"), "funnel_ttl_hour")
      assert(full == horizon && full.nonEmpty)
    } finally spark.conf.set(ndKey, ndPrev)
  }

  test("streaming resample emits the complete grid, equal to batch flow_resample") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = sfDir()
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_type", $"event_id", $"ts_us", $"value")
      .as[(String, Long, Long, Double)].collect().toSeq
      .sortBy(e => (e._3, e._2))
    val input = MemoryStream[(String, Long, Long, Double)]
    val q = Streams.resampleMonitor(
      input.toDF().toDF("event_type", "event_id", "ts_us", "value"))
      .writeStream.format("memory").queryName("resample_mon")
      .outputMode("append").start()
    // three triggers so gaps bridge trigger boundaries and the carried
    // (lastBucket, lastValue) state does real work
    ev.grouped(math.max(1, ev.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("resample_mon").as[Streams.ResampleRow]
      .collect().map(r => (r.event_type, r.bucket, r.value, r.is_gap)).toSet
    // emit-on-close: the stream withholds each key's final bucket (still
    // open when the data ends); the batch grid reports it
    val batchRows = rowsOf(SparkEntry.queries("flow_resample")(spark, dir))
      .map(r => (r("event_type").asInstanceOf[String],
        r("bucket").asInstanceOf[Long],
        r("value").asInstanceOf[Double],
        r("is_gap").asInstanceOf[Boolean]))
    val lastPerType = batchRows.groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap
    val batch = batchRows.filter(r => r._2 != lastPerType(r._1)).toSet
    assert(streamed === batch,
      "streamed grid must equal the batch resample minus the open buckets")
  }

  test("streaming cusum equals batch flow_cusum minus the open buckets") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = sfDir()
    // standing baseline learned in batch, shipped to the monitor closure
    val base = graft.operators.Stateful.cusumBaseDf(spark, dir)
      .select($"event_type", $"mu", $"k", $"h").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_type", $"ts_us", $"value")
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._2)
    val input = MemoryStream[(String, Long, Double)]
    val q = Streams.cusumMonitor(
      input.toDF().toDF("event_type", "ts_us", "value"), base)
      .writeStream.format("memory").queryName("cusum_mon")
      .outputMode("append").start()
    // three triggers so open buckets straddle trigger boundaries and the
    // carried (sum, n) partial does real work
    ev.grouped(math.max(1, ev.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cusum_mon").as[Streams.CusumMonRow]
      .collect()
      .map(r => (r.event_type, r.bucket, r.x_centi, r.s_hi, r.s_lo, r.alarm))
      .toSet
    val batchRows = rowsOf(SparkEntry.queries("flow_cusum")(spark, dir))
      .map(r => (r("event_type").asInstanceOf[String],
        r("bucket").asInstanceOf[Long], r("x_centi").asInstanceOf[Long],
        r("s_hi").asInstanceOf[Long], r("s_lo").asInstanceOf[Long],
        r("alarm").asInstanceOf[Boolean]))
    val lastPerType = batchRows.groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap
    val batch = batchRows.filter(r => r._2 != lastPerType(r._1)).toSet
    assert(streamed === batch,
      "streamed cusum must equal the batch fold minus the open buckets")
  }

  test("streaming drawdown equals batch bars_drawdown minus the open bar") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = sfDir()
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"ts_us", $"value")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(e => (e._2, e._1))
    val input = MemoryStream[(Long, Long, Double)]
    val q = Streams.drawdownMonitor(
      input.toDF().toDF("event_id", "ts_us", "value"))
      .writeStream.format("memory").queryName("draw_mon")
      .outputMode("append").start()
    ev.grouped(math.max(1, ev.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("draw_mon").as[Streams.DrawMonRow]
      .collect().map(r => (r.bucket, r.close_cents, r.peak_cents, r.dd_bps))
      .toSet
    val batchRows = rowsOf(SparkEntry.queries("bars_drawdown")(spark, dir))
      .map(r => (r("bucket").asInstanceOf[Long],
        r("close_cents").asInstanceOf[Long],
        r("peak_cents").asInstanceOf[Long], r("dd_bps").asInstanceOf[Long]))
    val last = batchRows.map(_._1).max
    val batch = batchRows.filter(_._1 != last).toSet
    assert(streamed === batch,
      "streamed drawdown must equal the batch curve minus the open bar")
  }

  test("streaming anomaly census equals batch events_anomaly minus open buckets") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = sfDir()
    // standing state: the batch-learned hour-of-day profile and the
    // batch residual sufficient statistics
    val grid = graft.operators.Stateful.cusumGridDf(spark, dir)
      .select($"event_type", $"bucket", $"x")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val profile = grid.groupBy(g => (g._1, g._2 % 24)).map { case (k, gs) =>
      k -> math.floor(gs.map(_._3).sum.toDouble / gs.length).toLong }
    val stats = grid.groupBy(_._1).map { case (t, gs) =>
      val rs = gs.map { case (_, b, x) => x - profile((t, b % 24)) }
      t -> ((rs.sum, rs.map(r => r * r).sum, rs.length.toLong))
    }
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_type", $"ts_us", $"value")
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._2)
    val input = MemoryStream[(String, Long, Double)]
    val mon = Streams.anomalyMonitor(
      input.toDF().toDF("event_type", "ts_us", "value"), profile, stats)
      .writeStream.format("memory").queryName("anom_mon")
      .outputMode("append").start()
    ev.grouped(math.max(1, ev.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk)
      mon.processAllAvailable()
    }
    mon.stop()
    val streamed = spark.table("anom_mon").as[Streams.AnomMonRow]
      .collect().map(r => (r.event_type, r.bucket, r.x_centi, r.resid)).toSet
    val batchRows = rowsOf(SparkEntry.queries("events_anomaly")(spark, dir))
      .map(r => (r("event_type").asInstanceOf[String],
        r("bucket").asInstanceOf[Long], r("x").asInstanceOf[Long],
        r("resid").asInstanceOf[Long]))
    // open buckets are each KEY's final grid bucket, flagged or not
    val lastPerType = grid.groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap
    val batch = batchRows.filter(r => r._2 != lastPerType(r._1)).toSet
    assert(streamed === batch,
      "streamed anomaly set must equal the batch census minus open buckets")
    assert(batch.nonEmpty, "fixture should flag at least one closed anomaly")
  }

  test("monitors count late-dropped rows instead of losing them silently") {
    // The closed-bucket guards drop out-of-order rows by contract
    // (appended rows cannot be retracted), but at scale a silent drop
    // is indistinguishable from correct ingest — every emit-on-close
    // monitor therefore carries a per-key cumulative late_drops counter
    // in its output rows. Replay: trigger 1 closes buckets 0..1; trigger
    // 2 ships rows for the CLOSED bucket 0 (dropped, counted) plus new
    // buckets; the next closed row must surface the count, and the
    // closed rows' values must be untouched by the late rows.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val H = graft.operators.Flow.HourUs
    def us(b: Long, off: Long = 0L): Long = b * H + off

    // --- resample: 1 late row into bucket 0 ---
    val rIn = MemoryStream[(String, Long, Long, Double)]
    val rq = Streams.resampleMonitor(
      rIn.toDF().toDF("event_type", "event_id", "ts_us", "value"))
      .writeStream.format("memory").queryName("late_resample")
      .outputMode("append").start()
    rIn.addData(Seq(("a", 1L, us(0), 1.0), ("a", 2L, us(1), 2.0),
      ("a", 3L, us(2), 3.0)))
    rq.processAllAvailable()
    rIn.addData(Seq(("a", 9L, us(0, 5L), 99.0), ("a", 4L, us(3), 4.0)))
    rq.processAllAvailable()
    rq.stop()
    val rRows = spark.table("late_resample").as[Streams.ResampleRow]
      .collect().map(r => r.bucket -> ((r.value, r.late_drops))).toMap
    assert(rRows(0L) == ((1.0, 0L)) && rRows(1L) == ((2.0, 0L)),
      s"in-order closes must carry zero drops: $rRows")
    assert(rRows(2L) == ((3.0, 1L)),
      s"the close after the late row must count it and keep its value: $rRows")

    // --- cusum: 2 late raw rows into bucket 0 (counter counts ROWS) ---
    val cIn = MemoryStream[(String, Long, Double)]
    val cq = Streams.cusumMonitor(
      cIn.toDF().toDF("event_type", "ts_us", "value"),
      Map("a" -> ((0L, 0L, Long.MaxValue))))
      .writeStream.format("memory").queryName("late_cusum")
      .outputMode("append").start()
    cIn.addData(Seq(("a", us(0), 1.0), ("a", us(1), 2.0)))
    cq.processAllAvailable()
    cIn.addData(Seq(("a", us(0, 5L), 9.0), ("a", us(0, 6L), 9.0),
      ("a", us(2), 3.0)))
    cq.processAllAvailable()
    cq.stop()
    val cRows = spark.table("late_cusum").as[Streams.CusumMonRow]
      .collect().map(r => r.bucket -> ((r.x_centi, r.late_drops))).toMap
    assert(cRows(0L) == ((10000L, 0L)), s"bucket 0 pre-drop: $cRows")
    assert(cRows(1L) == ((20000L, 2L)),
      s"both late rows counted, closed mean untouched: $cRows")

    // --- drawdown: late row must not move the peak either ---
    val dIn = MemoryStream[(Long, Long, Double)]
    val dq = Streams.drawdownMonitor(
      dIn.toDF().toDF("event_id", "ts_us", "value"))
      .writeStream.format("memory").queryName("late_draw")
      .outputMode("append").start()
    dIn.addData(Seq((1L, us(0), 5.0), (2L, us(1), 4.0)))
    dq.processAllAvailable()
    dIn.addData(Seq((9L, us(0, 5L), 100.0), (3L, us(2), 3.0)))
    dq.processAllAvailable()
    dq.stop()
    val dRows = spark.table("late_draw").as[Streams.DrawMonRow]
      .collect().map(r => r.bucket -> ((r.peak_cents, r.late_drops))).toMap
    assert(dRows(0L) == ((500L, 0L)) && dRows(1L) == ((500L, 1L)),
      s"late 100.0 print must be dropped AND counted: $dRows")

    // --- anomaly: the flagged row carries the count ---
    val aIn = MemoryStream[(String, Long, Double)]
    val aq = Streams.anomalyMonitor(
      aIn.toDF().toDF("event_type", "ts_us", "value"),
      profile = Map(("a", 0L) -> 0L, ("a", 1L) -> 0L, ("a", 2L) -> 0L),
      stats = Map("a" -> ((0L, 1L, 1L))))
      .writeStream.format("memory").queryName("late_anom")
      .outputMode("append").start()
    aIn.addData(Seq(("a", us(0), 1.0), ("a", us(1), 1.0)))
    aq.processAllAvailable()
    aIn.addData(Seq(("a", us(0, 5L), 1.0), ("a", us(2), 1.0)))
    aq.processAllAvailable()
    aq.stop()
    val aRows = spark.table("late_anom").as[Streams.AnomMonRow]
      .collect().map(r => r.bucket -> r.late_drops).toMap
    assert(aRows(0L) == 0L && aRows(1L) == 1L,
      s"anomaly rows must surface the cumulative drop count: $aRows")
  }

  test("streaming markov steps equal the batch lag-window transitions") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = sfDir()
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts_us")
      .as[(Long, Long, String, Long)].collect().toSeq.sortBy(e => (e._4, e._2))
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = Streams.markovMonitor(
      input.toDF().toDF("user_id", "event_id", "event_type", "ts_us"))
      .writeStream.format("memory").queryName("markov_mon")
      .outputMode("append").start()
    // the last-type state must bridge the trigger boundary
    input.addData(ev.take(ev.size / 2))
    q.processAllAvailable()
    input.addData(ev.drop(ev.size / 2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("markov_mon").as[Streams.MarkovStep]
      .collect().groupBy(s => (s.prev, s.cur))
      .view.mapValues(_.length.toLong).toMap
    val batch = rowsOf(SparkEntry.queries("events_markov")(spark, dir))
      .map(r => (r("prev").asInstanceOf[String],
        r("cur").asInstanceOf[String]) ->
        r("n_steps").asInstanceOf[Long]).toMap
    assert(streamed === batch,
      "streamed transition census must equal the batch matrix")
  }

  test("funnel FSM state survives a query restart from the checkpoint") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_funckpt").toString
    val (srcDir, outDir) = (s"$base/src", s"$base/out")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts_us",
        org.apache.spark.sql.types.LongType)))
    def startQuery() = Streams.funnelMonitor(
      spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    val H = graft.operators.Keyed.FunnelWindowUs / 24 // one hour
    Seq((7L, "signup", 1000L), (7L, "view", 1000L + H))
      .toDF("user_id", "event_type", "ts_us")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // stage 2 + its completion time live only in the state store
    // after restart: the click advances to stage 3 ONLY if the FSM
    // recovered (a fresh FSM at stage 0 would demand a signup first)
    Seq((7L, "click", 1000L + 2 * H))
      .toDF("user_id", "event_type", "ts_us")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val prog = spark.read.parquet(outDir).as[Streams.FunnelProgress]
      .collect().sortBy(_.stage)
    assert(prog.map(p => (p.stage, p.event_type)).toSeq ===
      Seq((1L, "signup"), (2L, "view"), (3L, "click")),
      s"funnel state lost or duplicated across restart: ${prog.toSeq}")
  }

  test("streaming funnel monitor replays the batch conversion counts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = sfDir() // sf0.001
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"ts_us")
      .as[(Long, String, Long)].collect().toSeq.sortBy(_._3)
    val input = MemoryStream[(Long, String, Long)]
    val q = Streams.funnelMonitor(
      input.toDF().toDF("user_id", "event_type", "ts_us"))
      .writeStream.format("memory").queryName("funnel_mon")
      .outputMode("append").start()
    // time-ordered replay across a trigger boundary: cross-batch FSM
    // state must carry each user's stage forward
    input.addData(ev.take(ev.size / 2))
    q.processAllAvailable()
    input.addData(ev.drop(ev.size / 2))
    q.processAllAvailable()
    q.stop()
    val prog = spark.table("funnel_mon").as[Streams.FunnelProgress].collect()
    // one emission per (user, stage): the FSM never advances twice
    assert(prog.map(p => (p.user_id, p.stage)).distinct.length ===
      prog.length)
    val batch = rowsOf(SparkEntry.queries("events_funnel")(spark, dir))
      .map(r => r("step").asInstanceOf[Long] ->
        r("n_users").asInstanceOf[Long]).toMap
    batch.foreach { case (step, n) =>
      val streamed = prog.count(_.stage == step).toLong
      assert(streamed === n,
        s"step $step: streamed $streamed completions vs batch $n")
    }
  }

  test("model monitor: live scoring with batch weights ends at the batch confusion") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // train offline on the corpus, collect the final weights as literals
    val trained = rowsOf(SparkEntry.queries("ml_logreg")(spark, sfDir()))
      .maxBy(_("iter").asInstanceOf[Int])
    val (b0, bq, bd) = (trained("intercept").asInstanceOf[Double],
      trained("beta_qty").asInstanceOf[Double],
      trained("beta_disc").asInstanceOf[Double])
    val batchEval = rowsOf(SparkEntry.queries("ml_logreg_eval")(spark, sfDir())).head

    // replay the same rows as a stream in three arbitrary trigger cuts
    val rows = rowsOf(graft.sources.Tables.lineitem(spark, sfDir())
      .selectExpr("l_returnflag", "l_quantity", "l_discount", "l_extendedprice"))
      .map(r => ScoredLine(r("l_returnflag").asInstanceOf[String],
        r("l_quantity").asInstanceOf[Double],
        r("l_discount").asInstanceOf[Double],
        r("l_extendedprice").asInstanceOf[Double]))
    val input = MemoryStream[ScoredLine]
    val q = Streams.modelMonitor(input.toDF(), b0, bq, bd)
      .writeStream.format("memory").queryName("mm_out")
      .outputMode("complete").start()
    val cuts = Seq(rows.take(7), rows.slice(7, 1000), rows.drop(1000))
    cuts.foreach { chunk => input.addData(chunk); q.processAllAvailable() }
    q.stop()

    val m = spark.table("mm_out").collect().map(r =>
      r.schema.fieldNames.zip(r.toSeq).toMap).head
    assert(m("n") == rows.size.toLong)
    assert(m("tp") == batchEval("tp") && m("fp") == batchEval("fp"))
    assert(m("fn") == batchEval("fn") && m("tn") == batchEval("tn"))
    assert(m("accuracy") == batchEval("accuracy"))
  }
}

/** Scoring-stream record for [[Streams.modelMonitor]]'s replay spec. */
case class ScoredLine(l_returnflag: String, l_quantity: Double,
  l_discount: Double, l_extendedprice: Double)
