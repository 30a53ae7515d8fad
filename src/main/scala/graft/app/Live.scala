package graft.app

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._
import graft.state.Fsm.FsmIn
import graft.streaming.Streams
import graft.streaming.Streams.Trade

/** Live-mode wiring (SURVEY §7.1, EP1): the streaming pipeline as four
  * always-on queries over a file-source trade feed (swap the source for
  * kafka in production — everything downstream is source-agnostic):
  *
  *  1. bars: watermarked 1-minute OHLC (the candle buffer, persisted
  *     instead of deque'd)
  *  2. deltas: watermarked 10 s taker-delta (the Parameters-table feed)
  *  3. signals: rolling z + entry signal, chained windowed-agg ->
  *     keyed-state in one query
  *  4. trades: the position FSM over a signal feed -> the Trades table,
  *     with derived tables (Daily Summary, orders) maintained
  *     INCREMENTALLY — per-micro-batch work is O(batch), independent of
  *     how much trades history has accumulated (the reference upserts one
  *     day row per save, zscore_excel_logger.py:387-415; it never rescans
  *     the book).
  *
  * Commit protocol (per micro-batch, crash-safe, replay-idempotent):
  *
  *  - The Trades table is laid out as one partition directory per
  *    committed micro-batch (`trades/batch_id=N/`). Replay detection is
  *    a single `_SUCCESS`-marker stat — O(1), never a table scan — and a
  *    half-written partition from a crash is replaced wholesale because
  *    the batch write is `overwrite` into its own directory.
  *  - One facts job per micro-batch: a single aggregate over the cached
  *    batch returns its row count, its per-day exit sufficient statistics
  *    and the rate-limit windows it touched. It also materializes the
  *    cache, so the upstream state stores commit even when the batch is
  *    empty or a replay; an empty batch runs no other job.
  *  - Derived-table refreshes consume ONLY the batch's rows: the Daily
  *    Summary merges the per-day statistics (sums/counts/extrema, all
  *    associative) on the driver into a tiny day-keyed stats table, one
  *    row per calendar day; the orders table recomputes only the
  *    rate-limit windows the batch touched, via reads of just those
  *    partitions and a per-partition rename-aside swap — the poor-man's
  *    MERGE (production would use a transactional format). A batch with
  *    rows runs six jobs: facts, the trades append, the stats read, the
  *    stats and summary writes, and the orders write.
  *  - A pending-refresh marker written BEFORE the batch append makes the
  *    append+refresh pair atomic-in-effect: a crash anywhere between is
  *    healed on the next batch by re-running the refreshes from the
  *    committed batch partition; a per-day `last_batch` high watermark in
  *    the stats table makes that replay a no-op where it already applied.
  *
  * Every query checkpoints independently; restart-with-state is covered
  * by the checkpoint-recovery spec. NOTE on schema evolution: the state
  * store validates its schema, so changing PosState (as the trailing-stop
  * commit did) requires a fresh checkpoint — standard Structured
  * Streaming practice, called out here because it bit once.
  */
object Live {

  def tradeSource(spark: SparkSession, dir: String) =
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Trade].schema)
      .parquet(dir).as[Trade](org.apache.spark.sql.Encoders.product[Trade])

  def signalSource(spark: SparkSession, dir: String) = {
    // read trail_arm/symbol as nullable and default them: signal files
    // written before those fields existed must keep replaying (the
    // non-nullable encoder schema would throw on their nulls)
    val enc = org.apache.spark.sql.Encoders.product[FsmIn]
    val relaxed = org.apache.spark.sql.types.StructType(
      enc.schema.map(f =>
        if (f.name == "trail_arm" || f.name == "symbol") f.copy(nullable = true)
        else f))
    guardLegacySymbols(spark, dir, relaxed)
    spark.readStream.schema(relaxed).parquet(dir)
      .withColumn("trail_arm",
        coalesce(col("trail_arm"), lit(false)))
      .withColumn("symbol", coalesce(col("symbol"), lit("SYM")))
      .as[FsmIn](enc)
  }

  /** The `"SYM"` backfill above is only sound while the deployment is
    * single-symbol: legacy pre-symbol rows replaying INTO a multi-symbol
    * feed would all merge into the one `"SYM"` FSM key — silently
    * interleaving every symbol's signals through one position machine.
    * Refuse at source-construction time when the existing signal files
    * hold BOTH null-symbol legacy rows and more than one real symbol
    * (one startup scan of the bounded signals table; the live writer
    * always stamps a symbol, so the mix can only arrive via old files). */
  private[app] def guardLegacySymbols(spark: SparkSession, dir: String,
      relaxed: org.apache.spark.sql.types.StructType): Unit = {
    if (!new java.io.File(dir).exists()) return
    val r = spark.read.schema(relaxed).parquet(dir)
      .agg(
        coalesce(sum(when(col("symbol").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_legacy"),
        count_distinct(col("symbol")).as("n_syms"))
      .head()
    if (r.getLong(0) > 0 && r.getLong(1) > 1)
      throw new IllegalStateException(
        s"signal feed at $dir mixes ${r.getLong(0)} legacy null-symbol " +
          s"row(s) with ${r.getLong(1)} distinct symbols: the \"SYM\" " +
          "backfill would merge all legacy rows into one FSM key. " +
          "Re-stamp the legacy files with their true symbol first.")
  }

  /** Row key and day-bucket expression per windowed live table — what
    * [[BatchSink]] needs to dedup the union view and to fold batches
    * into day partitions. Every table is one row per (symbol, window). */
  val SinkTables: Map[String, (Seq[String], String)] = {
    def winTable(timeCol: String) =
      (Seq("symbol", timeCol), s"int(unix_timestamp($timeCol) div 86400)")
    Map(
      "bars" -> winTable("bar_start"),
      "deltas" -> winTable("win_start"),
      "signals" -> winTable("win_start"),
      "fused" -> winTable("win_start"),
      "lv" -> winTable("win_start"))
  }

  /** The shared sink of the five windowed tables: the same batch-dir
    * commit protocol the trades table uses (O(1) replay guard, day-fold
    * compaction, exactly-once union view) instead of the round-4 plain
    * `writeStream` parquet append — which accreted unbounded small files
    * at the reference's 20 Hz cadence with no retention story. */
  private def sinkQuery(out: DataFrame, outDir: String, table: String,
      ckptDir: String): StreamingQuery = {
    // one lease per stream start: a restart fences any zombie writer
    // of the previous run still committing into this table
    val lease = BatchSink.acquireWriter(s"$outDir/$table")
    out.writeStream
      .option("checkpointLocation", s"$ckptDir/$table")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val df = batch.cache()
        try {
          // evaluate unconditionally: the upstream stateful operators
          // must commit their state stores even when the sink-side
          // commit is skipped as a replay
          val rows = df.count()
          if (rows > 0 && !BatchSink.alreadyCommitted(s"$outDir/$table", batchId))
            BatchSink.commitFenced(df, lease, batchId)
        } finally df.unpersist()
        ()
      }
      .start()
  }

  /** The live table for consumers (committed recent ∪ archive). */
  def readSink(spark: SparkSession, outDir: String,
      table: String): Option[DataFrame] =
    BatchSink.read(spark, s"$outDir/$table", SinkTables(table)._1)

  /** Maintenance job over the windowed tables: fold old batch
    * partitions into each table's day archive. Trades has its own
    * [[compactTrades]] (it additionally respects the pending-refresh
    * marker). */
  def compactSinks(spark: SparkSession, outDir: String,
      keepBatches: Int = CompactKeepBatches): Unit =
    SinkTables.foreach { case (table, (key, bucket)) =>
      BatchSink.compact(spark, s"$outDir/$table", bucket, key, keepBatches)
    }

  /** Retention over the windowed tables: drop archive days below the
    * cutoff ([[BatchSink.expire]]); returns dropped-day counts. */
  def expireSinks(outDir: String, minDay: Int): Map[String, Int] =
    SinkTables.keys.map(t =>
      t -> BatchSink.expire(s"$outDir/$t", minDay)).toMap

  def barsQuery(spark: SparkSession, tradesDir: String, outDir: String,
      ckptDir: String): StreamingQuery =
    sinkQuery(Streams.ohlcBars(tradeSource(spark, tradesDir)),
      outDir, "bars", ckptDir)

  def deltaQuery(spark: SparkSession, tradesDir: String, outDir: String,
      ckptDir: String): StreamingQuery =
    sinkQuery(Streams.takerDelta(tradeSource(spark, tradesDir)),
      outDir, "deltas", ckptDir)

  /** Rename-aside swap of a recomputed SMALL table (the day-keyed stats
    * and summary — O(days) rows by construction; large tables use
    * partitioned dynamic overwrite instead, never this). The replacement
    * is fully written aside before the old table moves; the only
    * unavailable window is the instant between the two renames, and a
    * crash there is healed by the restore at the top of the NEXT swap.
    * Driver-local java.io (demo-grade; production writes a transactional
    * table format). */
  /** Restore a table whose last swap crashed between its two renames
    * (dst missing, the backup holds the only copy). MUST run before any
    * reader checks the table's existence — a reader that branches on
    * "table missing" without healing first would treat the backed-up
    * history as absent and rebuild from scratch. */
  private def healSwapped(outDir: String, table: String): Unit = {
    val dst = new java.io.File(s"$outDir/$table")
    val old = new java.io.File(s"$outDir/.${table}_old")
    if (!dst.exists() && old.exists() && !old.renameTo(dst))
      // the heal is load-bearing: continuing would delete the only copy
      throw new java.io.IOException(s"$table heal failed: $old -> $dst")
  }

  private def swapInPlace(outDir: String, table: String,
      df: DataFrame): Unit = {
    val dst = new java.io.File(s"$outDir/$table")
    val old = new java.io.File(s"$outDir/.${table}_old")
    val tmp = new java.io.File(s"$outDir/.${table}_tmp")
    healSwapped(outDir, table)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (old.exists()) graft.functions.Fs.deleteRecursively(old)
    if (dst.exists() && !dst.renameTo(old))
      throw new java.io.IOException(s"$table swap failed: $dst -> $old")
    if (!tmp.renameTo(dst)) {
      if (old.exists()) old.renameTo(dst) // restore; heal on next batch
      throw new java.io.IOException(s"$table swap failed: $tmp -> $dst")
    }
    if (old.exists()) graft.functions.Fs.deleteRecursively(old)
  }

  // ---- trades-table commit protocol (delegates to [[BatchSink]]) ----

  private def batchDir(outDir: String, batchId: Long) =
    new java.io.File(s"$outDir/trades/batch_id=$batchId")

  /** O(1) idempotent-append guard: a micro-batch is committed iff its
    * partition directory carries the `_SUCCESS` marker — one file stat,
    * independent of table size (replaces the round-2 full-table
    * batch-id scan) — or its id sits at or below the folded watermark
    * (the batch's rows were folded into the archive; see
    * [[compactTrades]]). Structured Streaming re-runs a foreachBatch
    * whose commit didn't land; batch ids are monotone per checkpoint. */
  def alreadyCommitted(spark: SparkSession, outDir: String,
      batchId: Long): Boolean =
    BatchSink.alreadyCommitted(s"$outDir/trades", batchId)

  /** Land one micro-batch in its own partition directory. `overwrite`
    * into the batch's OWN directory: a half-written partition from a
    * crash is replaced wholesale when the batch replays. */
  def commitBatch(df: DataFrame, outDir: String,
      batchId: Long): Unit =
    BatchSink.commit(df, s"$outDir/trades", batchId)

  // ---- pending-refresh marker (append+refresh crash atomicity) ----

  private def pendingFile(outDir: String) =
    new java.io.File(s"$outDir/.refresh_pending")

  private def markPending(outDir: String, batchId: Long): Unit = {
    // write-aside + rename: a crash mid-write must not leave a partial
    // marker (the heal path would otherwise fail to parse it on every
    // restart — wedging recovery exactly when it is needed). The marker
    // may be the FIRST write into outDir (trades-only deployments), so
    // create the directory here rather than assume another sink did.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val tmp = new java.io.File(s"$outDir/.refresh_pending_tmp")
    java.nio.file.Files.write(tmp.toPath, batchId.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, pendingFile(outDir).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Re-run the derived-table refreshes for a batch whose marker was
    * never cleared (crash between append and refresh completion). Work
    * is O(that batch): its rows come back from its own partition
    * directory, and both refreshes are idempotent (per-day `last_batch`
    * watermark; order recompute from a deduped input set). */
  def healPending(spark: SparkSession, outDir: String): Unit = {
    val f = pendingFile(outDir)
    if (f.exists()) {
      val raw = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      raw.toLongOption match {
        // the DIR probe, not alreadyCommitted: a compacted batch (ledger
        // hit, directory gone) had its refreshes completed long before
        // compaction touched it — nothing to replay, just drop the marker
        case Some(m) if new java.io.File(batchDir(outDir, m), "_SUCCESS")
            .exists() =>
          val batch = spark.read.parquet(batchDir(outDir, m).toString)
          refreshDailySummary(spark, outDir,
            batch.filter(col("action") === "EXIT"), m)
          refreshOrders(spark, outDir, batch, m)
        case _ =>
          // unparsable marker (legacy non-atomic write) or an append that
          // never landed: in both cases nothing was committed under this
          // marker — the engine replays the batch normally
          ()
      }
      f.delete()
      ()
    }
  }

  // ---- incremental Daily Summary (MERGE on the day key) ----

  /** Per-day sufficient statistics of an exit-event frame. Every column
    * is associative (count/sum/max/min), so per-batch stats MERGE into
    * the running stats table without ever rescanning trades history;
    * the 12-column Daily Summary derives from them exactly
    * ([[summaryOfStats]] vs [[graft.operators.Stateful.dailySummaryOf]],
    * asserted equivalent in AppSpec). */
  private[app] def statsOf(exits: DataFrame): DataFrame = {
    val aggs = statAggs(lit(true))
    exits.groupBy(DayOf).agg(aggs.head, aggs.tail: _*)
  }

  private val DayOf = expr("bucket div 24").as("day")

  /** The per-day exit statistics over the rows where `exit` holds — the
    * one definition [[statsOf]] (every row an exit) and [[factsOf]] (a
    * whole batch) share, so both feed the merge identical aggregates. */
  private def statAggs(exit: Column) = {
    def ex(c: Column) = when(exit, c)
    Seq(
      count(ex(lit(1))).as("n_trades"),
      sum(ex(when(col("pnl") > 0.0, 1L).otherwise(0L))).as("wins"),
      sum(ex(when(col("pnl") <= 0.0, 1L).otherwise(0L))).as("losses"),
      sum(ex(col("pnl"))).as("total_pnl"),
      max(ex(col("pnl"))).as("max_pnl"),
      min(ex(col("pnl"))).as("min_pnl"),
      sum(ex(when(col("pnl") > 0.0, col("pnl")).otherwise(0.0))).as("sum_win"),
      sum(ex(when(col("pnl") <= 0.0, col("pnl")).otherwise(0.0))).as("sum_loss"),
      sum(ex((col("bucket") - col("entry_bucket")).cast("double")))
        .as("sum_hold"))
  }

  /** The `daily_stats` layout: `day`, the nine statistics, `last_batch`. */
  private[app] val StatsSchema = {
    import org.apache.spark.sql.types._
    StructType(
      Seq("day", "n_trades", "wins", "losses").map(StructField(_, LongType)) ++
        Seq("total_pnl", "max_pnl", "min_pnl", "sum_win", "sum_loss",
          "sum_hold").map(StructField(_, DoubleType)) :+
        StructField("last_batch", LongType))
  }

  /** What the commit needs to know about a micro-batch: its row count,
    * its per-day exit statistics (rows of [[statsOf]]'s layout) and the
    * rate-limit windows it touched. */
  private[app] case class BatchFacts(rows: Long, stats: Seq[Row],
      windows: Seq[Int])

  /** [[BatchFacts]] of a trades batch from ONE aggregate, grouped by day
    * and collected: at most one row per calendar day the batch spans. */
  private[app] def factsOf(batch: DataFrame): BatchFacts = {
    val days = batch.groupBy(DayOf)
      .agg(count(lit(1)).as("rows"), (statAggs(col("action") === "EXIT") :+
        collect_set(expr("int(bucket div 60)")).as("windows")): _*)
      .collect()
    val statCols = StatsSchema.fieldNames.init.toSeq
    BatchFacts(
      days.map(_.getAs[Long]("rows")).sum,
      days.filter(_.getAs[Long]("n_trades") > 0).toSeq
        .map(r => Row.fromSeq(statCols.map(r.getAs[Any]))),
      days.flatMap(r => r.getSeq[Int](r.fieldIndex("windows")))
        .distinct.sorted.toSeq)
  }

  /** The full 12-column Daily Summary (the schema `fsm_daily_summary` is
    * hash-checked against) from the sufficient-stats table. Null
    * semantics mirror the batch aggregate: avg_win/avg_loss are NULL for
    * a day with no wins/losses, profit_factor NULL when either is. */
  private[app] def summaryOfStats(stats: DataFrame): DataFrame = {
    val avgWin = when(col("wins") > 0, col("sum_win") / col("wins"))
    val avgLoss = when(col("losses") > 0, col("sum_loss") / col("losses"))
    stats.select(
      col("day"),
      col("n_trades"),
      col("wins"),
      col("losses"),
      (col("wins").cast("double") / col("n_trades")).as("win_rate"),
      col("total_pnl"),
      col("max_pnl"),
      col("min_pnl"),
      avgWin.as("avg_win"),
      avgLoss.as("avg_loss"),
      abs(avgWin / when(avgLoss =!= 0.0, avgLoss)).as("profit_factor"),
      (col("sum_hold") / col("n_trades")).as("avg_hold"))
  }

  /** MERGE one batch's exits into the Daily Summary: the entry for the
    * heal path and direct callers, which feeds [[statsOf]] of the exits
    * to [[mergeDailyStats]] — the same merge the live batch runs on its
    * [[factsOf]] statistics. Reads touch only the stats table and the
    * batch itself — NEVER the trades table. */
  def refreshDailySummary(spark: SparkSession, outDir: String,
      batchExits: DataFrame, batchId: Long): Unit =
    mergeDailyStats(spark, outDir, statsOf(batchExits).collect().toSeq,
      batchId)

  /** The one Daily Summary merge. `fresh` holds a batch's per-day exit
    * statistics ([[statsOf]]'s layout). The stats table is read with its
    * explicit schema and merged on the driver: each side holds at most one
    * row per calendar day, so the rows collected are O(days) — the days
    * the stats table covers plus the days the batch spans, bounded by
    * calendar time and independent of trade volume. `daily_stats` and
    * `daily_summary` ([[summaryOfStats]] of the same merged rows) are then
    * written through [[swapInPlace]]. The per-day `last_batch` watermark
    * makes a healed replay of the same batch a no-op. */
  private[app] def mergeDailyStats(spark: SparkSession, outDir: String,
      fresh: Seq[Row], batchId: Long): Unit = {
    if (fresh.isEmpty) return
    // heal BEFORE the existence check below: a crash inside a prior swap
    // leaves the stats in the backup dir, and treating that as "no stats
    // yet" would rebuild from this batch alone and discard all history
    healSwapped(outDir, "daily_stats")
    healSwapped(outDir, "daily_summary")
    val statsPath = s"$outDir/daily_stats"
    val old =
      if (!new java.io.File(statsPath).exists()) Seq.empty
      else spark.read.schema(StatsSchema).parquet(statsPath).collect().toSeq
    val merged = spark.createDataFrame(
      mergeStatRows(old, fresh, batchId).asJava, StatsSchema).coalesce(1)
    swapInPlace(outDir, "daily_stats", merged)
    swapInPlace(outDir, "daily_summary", summaryOfStats(merged))
  }

  /** Per-day merge with the rules of a full outer join on `day`: a day on
    * one side only keeps that side's row; a day on both is kept as it is
    * when stale (its `last_batch` >= `batchId`: this batch already merged
    * into it, a healed replay), else each statistic combines — sums add,
    * extrema take the greatest/least in SQL double order, a NULL side
    * yields the other — and `last_batch` advances to `batchId`, which
    * happens only on days the batch touched. Rows come back day-ordered. */
  private def mergeStatRows(old: Seq[Row], fresh: Seq[Row],
      batchId: Long): Seq[Row] = {
    val stats = StatsSchema.fieldNames.toSeq.tail.init
    val lastBatch = stats.length + 1
    def cmp(a: Double, b: Double) =
      if (a == b) 0 else java.lang.Double.compare(a, b)
    def combine(stat: String, o: Any, n: Any): Any = (o, n) match {
      case (o, null) => o
      case (null, n) => n
      case (o: Long, n: Long) => o + n
      case (o: Double, n: Double) => stat match {
        case "max_pnl" => if (cmp(n, o) > 0) n else o
        case "min_pnl" => if (cmp(n, o) < 0) n else o
        case _ => o + n
      }
    }
    val byDay = fresh.map(r => r.getLong(0) -> r).toMap
    val oldDays = old.map(_.getLong(0)).toSet
    val kept = old.map { o =>
      byDay.get(o.getLong(0)) match {
        case Some(n) if o.isNullAt(lastBatch) || o.getLong(lastBatch) < batchId =>
          Row.fromSeq(o.get(0) +: stats.indices.map(i =>
            combine(stats(i), o.get(i + 1), n.get(i + 1))) :+ batchId)
        case _ => o
      }
    }
    val added = fresh.filterNot(r => oldDays(r.getLong(0)))
      .map(r => Row.fromSeq(r.toSeq :+ batchId))
    (kept ++ added).sortBy(_.getLong(0))
  }

  /** Max orders per rate window (reference config.py:56). */
  val RateLimitOrders = 20

  /** FSM events -> order actions (order_manager.py:152-209): ENTER places
    * a market order in the position direction, EXIT a reduce-only order
    * on the opposite side. The per-minute rate limiter
    * (order_manager.py:44-53) is applied declaratively: orders beyond the
    * cap within a 60-bucket window are flagged DEFERRED rather than
    * silently dropped — the replayable, auditable form of the reference's
    * sleep-and-retry. The cap is ACCOUNT-level like the reference's, so
    * the rank runs per window across all symbols; order_id is
    * deterministic in (symbol, bucket, action, side) so replays produce
    * identical rows. The (symbol, bucket, action, side) inputs ride along
    * in the output so a rate window can be recomputed from its own order
    * rows plus a new batch — the incremental-refresh contract. */
  def ordersOf(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rate_win"))
      .orderBy(col("bucket"), col("action"), col("side"), col("symbol"))
    events
      .withColumn("order_side",
        when(col("action") === "ENTER",
          when(col("side") === "LONG", "BUY").otherwise("SELL"))
          .otherwise(when(col("side") === "LONG", "SELL").otherwise("BUY")))
      .withColumn("reduce_only", col("action") === "EXIT")
      .withColumn("order_id",
        concat_ws("-", col("symbol"), col("bucket"), col("action"),
          col("side")))
      // int, not long: the window is a bucket (hour/minute) index, far
      // inside int range — and int partition values round-trip through
      // the partition-directory encoding without type-inference surprises
      .withColumn("rate_win", expr("int(bucket div 60)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("status",
        when(col("rn") <= RateLimitOrders, "PLACED").otherwise("DEFERRED"))
      .select("order_id", "symbol", "bucket", "action", "side",
        "order_side", "reduce_only", "status", "rate_win")
  }

  /** Heal orders partitions whose swap crashed between its two renames
    * (partition dir missing, the `.rate_win=N_old` backup holds the only
    * committed copy). MUST run before any read of the orders table —
    * reading while a partition sits in its backup would silently drop
    * that window's prior orders from the recompute input. A backup
    * whose partition dir EXISTS is the other crash point (new data
    * landed, backup not yet deleted): the new dir is complete, drop the
    * backup. */
  private def healOrderPartitions(ordersDir: java.io.File): Unit =
    BatchSink.healBackups(ordersDir, "rate_win=")

  /** Incrementally refresh the orders table: recompute ONLY the rate
    * windows the batch touched. Prior events for those windows come back
    * from the orders table itself (each order row carries its FSM-event
    * key), read with an explicit schema from just the touched partition
    * directories; each recomputed window then replaces its partition
    * directory via the same rename-aside swap the small tables use —
    * crash-safe per window (a dynamic partition overwrite is NOT: a crash
    * between its delete and move loses the window's PRIOR batches, and
    * the heal replay would then recompute from the corrupted partition).
    * Per-batch work is O(batch + touched windows), independent of
    * orders-table size. Idempotent: the input set dedupes on the
    * deterministic event key, so a healed replay recomputes identical
    * partitions. This entry collects the touched windows itself; the live
    * batch passes the ones its [[factsOf]] job already returned. */
  def refreshOrders(spark: SparkSession, outDir: String,
      batchEvents: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    refreshOrderWindows(spark, outDir, batchEvents,
      batchEvents.select(expr("int(bucket div 60)")).distinct()
        .as[Int].collect().toSeq)
  }

  /** [[refreshOrders]] over the batch's touched rate windows `wins` (a
    * tiny driver-side list, bounded by the batch's time span). */
  private[app] def refreshOrderWindows(spark: SparkSession, outDir: String,
      batchEvents: DataFrame, wins: Seq[Int]): Unit = {
    if (wins.isEmpty) return
    val keyCols = EventKey
    val fresh = batchEvents.select(keyCols.map(col): _*)
    val ordersDir = new java.io.File(s"$outDir/orders")
    healOrderPartitions(ordersDir)
    val priorDirs = wins.map(w => new java.io.File(ordersDir, s"rate_win=$w"))
      .filter(_.exists())
    val prior =
      if (priorDirs.isEmpty) fresh.limit(0)
      else spark.read.schema(EventKeySchema)
        .parquet(priorDirs.map(_.toString): _*)
    // one task for the union, dedup and rank: the input is the touched
    // windows only, and a single partition satisfies both the dedup's
    // and the per-window rank's distribution, so the plan has no shuffle
    val recomputed = ordersOf(
      prior.unionByName(fresh).coalesce(1).dropDuplicates(keyCols))
    // write the recomputed windows fully aside, then swap each touched
    // partition directory in: backup the old dir, move the new one in,
    // drop the backup — any crash leaves either the old or the new dir
    // committed (or the backup, which healOrderPartitions restores)
    val tmp = new java.io.File(s"$outDir/.orders_tmp")
    recomputed.write.mode("overwrite").partitionBy("rate_win")
      .parquet(tmp.toString)
    java.nio.file.Files.createDirectories(ordersDir.toPath)
    wins.foreach { w =>
      val src = new java.io.File(tmp, s"rate_win=$w")
      val dst = new java.io.File(ordersDir, s"rate_win=$w")
      val old = new java.io.File(ordersDir, s".rate_win=${w}_old")
      if (src.exists()) {
        if (old.exists()) graft.functions.Fs.deleteRecursively(old)
        if (dst.exists() && !dst.renameTo(old))
          throw new java.io.IOException(
            s"orders swap failed: $dst -> $old")
        if (!src.renameTo(dst)) {
          old.renameTo(dst) // restore; heal on next refresh
          throw new java.io.IOException(
            s"orders swap failed: $src -> $dst")
        }
        if (old.exists()) graft.functions.Fs.deleteRecursively(old)
      }
    }
    graft.functions.Fs.deleteRecursively(tmp)
  }

  // ---- trades compaction (bounds the partition-directory count) ----

  /** Batch partitions newer than this many ids below the max stay
    * un-compacted: Structured Streaming can only replay batches at or
    * after the checkpoint's last uncommitted offset, so anything older
    * is final — but the margin keeps the O(1) `_SUCCESS` probe the
    * common path and the watermark check the rare one. */
  val CompactKeepBatches = 4

  /** Folded-batch high watermark of the trades table ([[BatchSink]]). */
  def foldedWatermark(outDir: String): Option[Long] =
    BatchSink.foldedWatermark(s"$outDir/trades")

  /** The deterministic event identity: what makes a trades row unique
    * (order_id derives from it). Shared by the orders refresh dedup, the
    * compaction merge, and the union view below. */
  private[graft] val EventKey = Seq("symbol", "bucket", "action", "side")

  private val EventKeySchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("symbol", StringType),
      StructField("bucket", LongType), StructField("action", StringType),
      StructField("side", StringType)))
  }

  /** The live trades table for consumers: committed recent micro-batch
    * partitions ∪ the day-keyed archive, exactly-once through every
    * compaction crash window ([[BatchSink.read]]). */
  def readTrades(spark: SparkSession, outDir: String): Option[DataFrame] =
    BatchSink.read(spark, s"$outDir/trades", EventKey)

  /** Maintenance job: fold committed micro-batch partitions (all but
    * the newest [[CompactKeepBatches]]) into the day archive — the
    * [[BatchSink.compact]] fold with one trades-specific guard: a batch
    * whose derived-table refreshes are still pending must not fold (the
    * heal replays those refreshes FROM the batch directory, so deleting
    * it before the marker clears would lose the summary/orders updates
    * forever). */
  def compactTrades(spark: SparkSession, outDir: String,
      keepBatches: Int = CompactKeepBatches): Unit = {
    val pendingId = {
      val f = pendingFile(outDir)
      if (!f.exists()) Long.MaxValue
      else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .trim.toLongOption.getOrElse(Long.MaxValue)
    }
    BatchSink.compact(spark, s"$outDir/trades", "int(bucket div 24)",
      EventKey, keepBatches, noFoldAtOrAbove = pendingId)
  }

  /** Silver stage: the rolling z-score + entry signal over the taker
    * deltas, chained as windowed-agg -> keyed-state in ONE query (the
    * same chained-stateful shape as [[lvQuery]]). Round 4 tailed the
    * landed delta TABLE as a file stream instead; chaining removes that
    * replay boundary — a compaction of the deltas table can no longer
    * race a consumer's file-discovery progress — and makes every landed
    * table a LEAF, which is what lets [[compactSinks]] fold any of them
    * without coordinating with downstream readers. */
  def signalQuery(spark: SparkSession, tradesDir: String, outDir: String,
      ckptDir: String): StreamingQuery = {
    import spark.implicits._
    val deltas = Streams.takerDelta(tradeSource(spark, tradesDir))
      .select($"symbol", $"win_start", $"delta")
      .as[Streams.DeltaRow]
    sinkQuery(Streams.zscoreStream(deltas).toDF(),
      outDir, "signals", ckptDir)
  }

  def bookSource(spark: SparkSession, dir: String) =
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Streams.BookLevel].schema)
      .parquet(dir)
      .as[Streams.BookLevel](
        org.apache.spark.sql.Encoders.product[Streams.BookLevel])

  /** The fully incremental fused decision stream (EP1): the raw trade
    * feed and (when a book feed exists) the book-update feed union into
    * ONE windowed aggregation — one shuffle on the (window, symbol) key
    * — then one keyed-state fold: every signal family including the
    * book trio and the aether components, the full fused cascade, the
    * entry side, and the FSM events land per finalized bar in the
    * `fused` table. Spark 4 chains the stateful operators in a single
    * query, so this needs no bronze hop. */
  def fusedQuery(spark: SparkSession, tradesDir: String, outDir: String,
      ckptDir: String, booksDir: Option[String] = None): StreamingQuery = {
    val trades = tradeSource(spark, tradesDir)
    val bars = booksDir match {
      case Some(bd) =>
        Streams.signalBarsWithBook(trades, bookSource(spark, bd))
      case None => Streams.signalBars(trades)
    }
    sinkQuery(Streams.fusedStream(bars).toDF(), outDir, "fused", ckptDir)
  }

  /** Exact multi-TF liquidity-velocity + volume-rate table, live: the
    * diff -> bar-rollup -> ring-fold stages chain as THREE stateful
    * operators in ONE streaming query (Spark 4 chained-stateful support)
    * — per-trade |ΔP| keyed state, a watermarked tumbling bar
    * aggregation, then the 15/24-bar rings — landing the `flow_lv` /
    * `flow_volrate` semantics per finalized bar. */
  def lvQuery(spark: SparkSession, tradesDir: String, outDir: String,
      ckptDir: String): StreamingQuery =
    sinkQuery(Streams.lvStream(Streams.lvWindows(
        Streams.diffStream(tradeSource(spark, tradesDir)))).toDF(),
      outDir, "lv", ckptDir)

  def tradesQuery(spark: SparkSession, signalsDir: String, outDir: String,
      ckptDir: String): StreamingQuery = {
    // heal a crash that predates this restart before any new batch lands
    healPending(spark, outDir)
    // fence any zombie writer of a previous run (see sinkQuery)
    val lease = BatchSink.acquireWriter(s"$outDir/trades")
    Streams.positionEvents(signalSource(spark, signalsDir))
      .writeStream
      .option("checkpointLocation", s"$ckptDir/trades")
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.state.Fsm.FsmEvent], batchId: Long) =>
        sinkTradesBatch(spark, outDir, lease, batch.toDF(), batchId)
      }
      .start()
  }

  /** One trades micro-batch through the commit protocol (the object doc):
    * lease check, pending marker, fenced append, the Daily Summary and
    * orders refreshes, marker delete. */
  private[graft] def sinkTradesBatch(spark: SparkSession, outDir: String,
      lease: BatchSink.WriterLease, batch: DataFrame, batchId: Long): Unit = {
    healPending(spark, outDir) // crash in an EARLIER batch's refresh
    val df = batch.cache()
    try {
      // evaluate the batch UNCONDITIONALLY: the facts job materializes the
      // cache, so the upstream stateful operators run their tasks (and
      // commit their state stores) even when the sink-side commit is
      // skipped as a replay — only the side effects below are guarded
      val facts = factsOf(df)
      if (facts.rows > 0 && !alreadyCommitted(spark, outDir, batchId)) {
        // refuse BEFORE the marker when fenced: a stale writer must
        // not even re-arm the pending-refresh heal path
        BatchSink.checkLease(lease)
        // marker BEFORE the append: a crash anywhere up to the
        // marker delete re-runs the (idempotent) refreshes
        markPending(outDir, batchId)
        BatchSink.commitFenced(df, lease, batchId)
        mergeDailyStats(spark, outDir, facts.stats, batchId)
        refreshOrderWindows(spark, outDir, df, facts.windows)
        pendingFile(outDir).delete()
      }
      // empty or replayed batch: nothing to append, nothing to refresh
    } finally df.unpersist()
    ()
  }

  /** Block until any of `qs` terminates, then stop the others. A failed
    * query's exception is rethrown, so one dead stream ends the app
    * instead of leaving it waiting on the healthy ones. `qs` must be the
    * only queries `spark` has run: `spark.streams` remembers the last
    * termination since its last `resetTerminated()`. */
  private[graft] def awaitAnyThenStop(spark: SparkSession,
      qs: Seq[StreamingQuery]): Unit =
    try spark.streams.awaitAnyTermination()
    finally qs.filter(_.isActive).foreach(_.stop())

  def main(args: Array[String]): Unit = {
    // 4-arg: trade-only; optional 5th arg: a book-update feed directory
    val Array(tradesDir, signalsDir, outDir, ckptDir) = args.take(4)
    val booksDir = args.drop(4).headOption
    // Deployment config comes from spark-submit when present: a set
    // `spark.master` system property wins (cluster runs), and the
    // shuffle width is overridable the same way; the local[4]/4 pair
    // is only the sandbox demo default, never forced on a cluster.
    val builder = SparkSession.builder()
      .config("spark.sql.shuffle.partitions",
        sys.props.getOrElse("spark.sql.shuffle.partitions", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = sys.props.get("spark.master")
      .fold(builder.master("local[4]"))(_ => builder)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = Seq(
      barsQuery(spark, tradesDir, outDir, ckptDir),
      deltaQuery(spark, tradesDir, outDir, ckptDir),
      signalQuery(spark, tradesDir, outDir, ckptDir),
      fusedQuery(spark, tradesDir, outDir, ckptDir, booksDir),
      lvQuery(spark, tradesDir, outDir, ckptDir),
      tradesQuery(spark, signalsDir, outDir, ckptDir))
    awaitAnyThenStop(spark, qs)
  }
}
