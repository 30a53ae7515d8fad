package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import graft.app.{BatchSink, Live}
import graft.state.Fsm.FsmIn

/** The trades sink's commit: its Spark-job budget per micro-batch, the
  * driver-side Daily Summary merge against a from-scratch recompute and
  * against the heal path, and the live app's fail-fast wait. */
class TradesSinkSpec extends SparkSpec {

  /** Jobs with rows: facts, trades append, stats read, stats write,
    * summary write, orders write. */
  private val JobsPerBatch = 6

  /** Spark jobs `q` ran while `body` ran, by micro-batch id (every job of
    * a micro-batch, its sink included, carries the query and batch ids). */
  private def jobsByBatch(q: StreamingQuery)(body: => Unit): Map[Long, Int] = {
    val seen = new ConcurrentLinkedQueue[Long]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties)
          .filter(_.getProperty("sql.streaming.queryId") == q.id.toString)
          .foreach(p => seen.add(p.getProperty("streaming.sql.batchId").toLong))
    }
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
  }

  test("job budget: a trades micro-batch with rows runs 6 Spark jobs, an empty one only the facts job") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_jobs").toString
    val signals = s"$base/signals"
    def land(rows: FsmIn*): Unit =
      rows.toDS().coalesce(1).write.mode("append").parquet(signals)
    // warm-up batch: one closed trade, so every derived table exists
    land(FsmIn(1, 100.0, 100.0, 100.0, "LONG", 1.0, 1.0, symbol = "A"),
      FsmIn(2, 105.0, 105.0, 100.0, "NONE", 1.0, 1.0, symbol = "A"))
    val q = Live.tradesQuery(spark, signals, s"$base/out", s"$base/ckpt")
    try {
      q.processAllAvailable()
      val jobs = jobsByBatch(q) {
        // two symbols, two days (1 and 2), two rate windows (0 and 1),
        // each symbol opening and closing a trade
        land(FsmIn(30, 100.0, 100.0, 100.0, "LONG", 1.0, 1.0, symbol = "A"),
          FsmIn(31, 105.0, 105.0, 100.0, "NONE", 1.0, 1.0, symbol = "A"),
          FsmIn(70, 50.0, 50.0, 50.0, "SHORT", 1.0, 1.0, symbol = "B"),
          FsmIn(71, 50.5, 51.5, 50.0, "NONE", 1.0, 1.0, symbol = "B"))
        q.processAllAvailable()
        // a flat symbol with no entry signal: the batch emits no event
        land(FsmIn(80, 10.0, 10.0, 10.0, "NONE", 1.0, 1.0, symbol = "C"))
        q.processAllAvailable()
      }
      assert(jobs == Map(1L -> JobsPerBatch, 2L -> 1), s"jobs by batch: $jobs")
      val trades = spark.read.parquet(s"$base/out/trades")
      assert(trades.filter($"action" === "EXIT").count() == 3)
      assert(spark.read.parquet(s"$base/out/daily_summary").count() == 3)
    } finally q.stop()
  }

  private type Event = (Long, String, String, Long, Double, Option[Double],
    Option[Double], Option[String], String)

  private def eventDf(rows: Seq[Event]): DataFrame = {
    import spark.implicits._
    rows.toDF("bucket", "action", "side", "entry_bucket", "entry_price",
      "exit_price", "pnl", "reason", "symbol")
  }

  /** A seeded batch of events with unique keys over `days`; `exits` false
    * makes it enter-only. Every pnl is a multiple of 1/4, so each sum is
    * exact in double arithmetic whatever order Spark adds the rows in,
    * and the live and heal paths can be required to agree bit for bit. */
  private def genBatch(rnd: scala.util.Random, days: Seq[Long], n: Int,
      exits: Boolean, used: collection.mutable.Set[(String, Long)]): Seq[Event] =
    Iterator.continually {
      val sym = s"S${rnd.nextInt(4)}"
      val bucket = days(rnd.nextInt(days.length)) * 24 + rnd.nextInt(24)
      (sym, bucket)
    }.filter(used.add).take(n).map { case (sym, bucket) =>
      val side = if (rnd.nextBoolean()) "LONG" else "SHORT"
      if (exits && rnd.nextInt(3) > 0) {
        val pnl = (rnd.nextInt(41) - 20) / 4.0
        (bucket, "EXIT", side, bucket - rnd.nextInt(6), 100.0,
          Some(100.0 + pnl), Some(pnl), Some(if (pnl > 0) "TP_HIT" else "SL_HIT"), sym)
      } else (bucket, "ENTER", side, bucket, 100.0, None, None, None, sym)
    }.toSeq

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def tables(out: String): Map[String, Seq[Row]] =
    Seq("daily_stats", "daily_summary", "orders")
      .map(t => t -> sorted(spark.read.parquet(s"$out/$t"))).toMap

  private def schemaOf(out: String, t: String) =
    spark.read.parquet(s"$out/$t").schema.map(f => f.name -> f.dataType.simpleString)

  private def markPending(out: String, id: Long): Unit = {
    Files.write(java.nio.file.Paths.get(s"$out/.refresh_pending"),
      id.toString.getBytes("UTF-8"))
    ()
  }

  Seq(7L, 11L).foreach { seed =>
    test(s"driver-side Daily Summary merge equals a from-scratch recompute and the heal path (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      val used = collection.mutable.Set.empty[(String, Long)]
      val batches = Seq(
        genBatch(rnd, Seq(0L, 1L), 12, exits = true, used) ++ // day 2: no exits
          genBatch(rnd, Seq(2L), 3, exits = false, used),
        genBatch(rnd, Seq(1L, 2L), 6, exits = false, used),   // enter-only
        genBatch(rnd, Seq(1L, 2L, 3L), 14, exits = true, used), // day 0 only in old stats
        genBatch(rnd, Seq(3L, 4L), 10, exits = true, used),   // crashes before its refresh
        genBatch(rnd, Seq(2L, 4L, 5L), 10, exits = true, used))
      val dfs = batches.map(b => eventDf(b).cache())
      val live = Files.createTempDirectory("graft_merge_live").toString
      val heal = Files.createTempDirectory("graft_merge_heal").toString
      val lease = BatchSink.acquireWriter(s"$live/trades")
      def exitsOf(df: DataFrame) = df.filter(col("action") === "EXIT")

      // live path: every batch through the trades sink's batch body
      Live.sinkTradesBatch(spark, live, lease, dfs(0), 0L)
      Live.sinkTradesBatch(spark, live, lease, dfs(1), 1L)
      Live.sinkTradesBatch(spark, live, lease, dfs(2), 2L)
      val afterTwo = tables(live)
      // the same batch id again: the replay guard and, under it, the
      // merge's last_batch watermark each make it a no-op
      Live.sinkTradesBatch(spark, live, lease, dfs(2), 2L)
      Live.refreshDailySummary(spark, live, exitsOf(dfs(2)), 2L)
      assert(tables(live) == afterTwo)
      // crash after batch 3's append, before its refreshes: batch 4's
      // body heals it first through healPending
      Live.commitBatch(dfs(3), live, 3L)
      markPending(live, 3L)
      Live.sinkTradesBatch(spark, live, lease, dfs(4), 4L)
      assert(!new java.io.File(s"$live/.refresh_pending").exists())
      // an empty batch changes nothing
      Live.sinkTradesBatch(spark, live, lease, dfs(0).limit(0), 5L)
      assert(!new java.io.File(s"$live/trades/batch_id=5").exists())

      // heal path: every batch appended, then refreshed by healPending
      // from its committed partition (refreshDailySummary/refreshOrders)
      dfs.zipWithIndex.foreach { case (df, i) =>
        Live.commitBatch(df, heal, i.toLong)
        markPending(heal, i.toLong)
        Live.healPending(spark, heal)
        if (i == 2) {
          markPending(heal, 2L)
          Live.healPending(spark, heal)
        }
      }
      assert(tables(live) == tables(heal))

      // both equal the batch Daily Summary over every exit
      val allExits = exitsOf(dfs.reduce(_ unionByName _))
      val expected = graft.operators.Stateful.dailySummaryOf(allExits)
        .collect().map(r => r.getAs[Long]("day") -> r).toMap
      val summary = spark.read.parquet(s"$live/daily_summary").collect()
      assert(summary.map(_.getAs[Long]("day")).toSet == expected.keySet)
      assert(expected.contains(0L)) // the day only batch 0 touched
      summary.foreach { r =>
        val e = expected(r.getAs[Long]("day"))
        Seq("n_trades", "wins", "losses").foreach(c =>
          assert(r.getAs[Long](c) == e.getAs[Long](c), c))
        Seq("win_rate", "total_pnl", "max_pnl", "min_pnl", "avg_win",
          "avg_loss", "profit_factor", "avg_hold").foreach { c =>
          val (a, b) = (r.getAs[Any](c), e.getAs[Any](c))
          assert((a == null && b == null) || (a != null && b != null &&
            math.abs(a.asInstanceOf[Double] - b.asInstanceOf[Double]) < 1e-9),
            s"day ${r.getAs[Long]("day")} $c: $a vs $b")
        }
      }
      // last_batch: the newest batch whose exits touched the day
      val lastTouch = batches.zipWithIndex.flatMap { case (b, i) =>
        b.filter(_._2 == "EXIT").map(e => e._1 / 24 -> i.toLong)
      }.groupMapReduce(_._1)(_._2)(math.max)
      assert(spark.read.parquet(s"$live/daily_stats").collect()
        .map(r => r.getAs[Long]("day") -> r.getAs[Long]("last_batch"))
        .toMap == lastTouch)
      // orders: one per event, as the batch rule ranks the whole history
      assert(sorted(spark.read.parquet(s"$live/orders")) ==
        sorted(Live.ordersOf(dfs.reduce(_ unionByName _))))

      // layouts and column types as before the driver-side merge
      val long = "bigint"
      val dbl = "double"
      val str = "string"
      assert(schemaOf(live, "daily_stats") == Seq("day" -> long,
        "n_trades" -> long, "wins" -> long, "losses" -> long,
        "total_pnl" -> dbl, "max_pnl" -> dbl, "min_pnl" -> dbl,
        "sum_win" -> dbl, "sum_loss" -> dbl, "sum_hold" -> dbl,
        "last_batch" -> long))
      assert(schemaOf(live, "daily_summary") == Seq("day" -> long,
        "n_trades" -> long, "wins" -> long, "losses" -> long,
        "win_rate" -> dbl, "total_pnl" -> dbl, "max_pnl" -> dbl,
        "min_pnl" -> dbl, "avg_win" -> dbl, "avg_loss" -> dbl,
        "profit_factor" -> dbl, "avg_hold" -> dbl))
      assert(schemaOf(live, "orders") == Seq("order_id" -> str,
        "symbol" -> str, "bucket" -> long, "action" -> str, "side" -> str,
        "order_side" -> str, "reduce_only" -> "boolean", "status" -> str,
        "rate_win" -> "int"))
      dfs.foreach(_.unpersist())
    }
  }

  test("awaitAnyThenStop: one failing stream stops the others and rethrows its error") {
    val s = spark.newSession() // its own query manager: no earlier terminations
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val base = Files.createTempDirectory("graft_await").toString
    val healthy = MemoryStream[Int]
    val failing = MemoryStream[Int]
    val q1 = healthy.toDS().writeStream.format("noop")
      .option("checkpointLocation", s"$base/q1").start()
    val q2 = failing.toDS()
      .map(i => if (i == 42) throw new IllegalStateException("boom") else i)
      .writeStream.format("noop")
      .option("checkpointLocation", s"$base/q2").start()
    healthy.addData(1)
    failing.addData(42)
    // bounded: a wait that blocks on the healthy stream fails, not hangs
    val waited = scala.concurrent.Future(Live.awaitAnyThenStop(s, Seq(q1, q2)))(
      scala.concurrent.ExecutionContext.global)
    val e = intercept[StreamingQueryException] {
      scala.concurrent.Await.result(waited,
        scala.concurrent.duration.Duration(60, "s"))
    }
    assert(e.getMessage.contains(q2.id.toString))
    assert(e.getMessage.contains("boom"))
    assert(!q1.isActive && !q2.isActive)
  }
}
