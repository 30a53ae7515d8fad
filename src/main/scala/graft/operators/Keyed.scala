package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.RollingZ
import graft.sources.Tables
import graft.OpModule

/** Keyed (multi-symbol-shaped) variants: the reference is single-symbol,
  * so most ordered windows above run on one already-reduced partition.
  * These queries are the same operators *with a partition key*, proving
  * the multi-symbol plan shape the engine runs at scale: every window and
  * aggregation below parallelizes across shards with no global ordering.
  *
  *  - `flow_zscore_keyed`: the signature rolling z-score per shard
  *    (`Window.partitionBy(shard)`) — what `groupBy(symbol)` looks like
  *    on a real multi-instrument feed.
  *  - `order_rate_limit`: the reference's sliding-window rate limiter
  *    (20 orders / 60 s, order_manager.py:44-57) as a per-key RANGE-frame
  *    count over event time — a declarative replay of sink-side state.
  *  - `order_success_rate`: count(filled)/count(*) per priority class
  *    (order_manager.py:444-466).
  */
object Keyed extends OpModule {

  val Shards = 8
  val RateLimit = 20 // orders per sliding minute (config.py:56)

  private def zscoreKeyedDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.eventsWithSide(spark, dir)
      .withColumn("shard", $"user_id" % Shards)
      .groupBy($"shard", expr(s"ts_us div ${Flow.DeltaBucketUs}").as("bucket"))
      .agg((sum(when($"is_buy", $"value").otherwise(0.0)) -
        sum(when(!$"is_buy", $"value").otherwise(0.0))).as("delta"),
        Flow.DeltaCents.as("dc"))
      .withColumn("z", RollingZ.z($"dc", $"bucket", Some($"shard")))
      .select("shard", "bucket", "delta", "z")
  }

  private val zscoreKeyedSql: String =
    s"""WITH d AS (
       |  SELECT user_id % $Shards AS shard,
       |    epoch_us(ts) // ${Flow.DeltaBucketUs} AS bucket,
       |    sum(CASE WHEN ${Tables.BuySql} THEN value ELSE 0.0 END)
       |      - sum(CASE WHEN ${Tables.BuySql} THEN 0.0 ELSE value END) AS delta
       |  FROM events GROUP BY 1, 2)
       |SELECT shard, bucket, delta,
       |  CASE WHEN count(*) OVER w >= 30 AND stddev_pop(delta) OVER w > 0
       |       THEN round((delta - avg(delta) OVER w) / (stddev_pop(delta) OVER w), 6)
       |  END AS z
       |FROM d
       |WINDOW w AS (PARTITION BY shard ORDER BY bucket
       |             ROWS BETWEEN 2999 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Sliding 60-second per-user submission counter; a submission is
    * allowed while the trailing-minute count stays within the limit. */
  private def rateLimitDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_sec")
      .rangeBetween(-59, 0)
    Tables.events(spark, dir)
      .withColumn("ts_sec", expr("ts_us div 1000000"))
      .withColumn("n_last_min", count(lit(1)).over(w))
      .withColumn("allowed", $"n_last_min" <= RateLimit)
      .select("event_id", "user_id", "ts_sec", "n_last_min", "allowed")
  }

  private val rateLimitSql: String =
    s"""SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_sec,
       |  count(*) OVER w AS n_last_min,
       |  count(*) OVER w <= $RateLimit AS allowed
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
       |             RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)""".stripMargin

  private def successRateDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        avg(when($"o_orderstatus" === "F", 1.0).otherwise(0.0))
          .as("fill_rate"))
  }

  private val successRateSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  avg(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END) AS fill_rate
      |FROM orders GROUP BY 1""".stripMargin

  val SaltBuckets = 16

  /** Two-phase salted aggregation for skewed keys: event_type has only 5
    * hot values, so a plain groupBy concentrates each key on one reducer.
    * Salting by event_id%N spreads each hot key over N partial aggregates
    * that a cheap second pass folds — the declarative AQE-independent
    * skew guard. The oracle is the UNSALTED aggregation: same answer by
    * construction, which is the point of the pattern. */
  private def saltedDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // exact integer cents through BOTH phases: the salted tree sums in
    // a different order than the oracle's flat aggregate, so a raw
    // double sum drifts an ulp at sf0.1 row counts (the
    // flow_range_window lesson); the integer sum is order-independent
    // and only the final division produces a double.
    Tables.events(spark, dir)
      .withColumn("salt", $"event_id" % SaltBuckets)
      .withColumn("cents", round($"value" * 100).cast("long"))
      .groupBy($"event_type", $"salt")
      .agg(sum($"cents").as("pv"), count(lit(1)).as("pn"),
        max($"value").as("pmax"))
      .groupBy($"event_type")
      .agg((sum($"pv") / 100.0).as("volume"), sum($"pn").as("n_events"),
        max($"pmax").as("max_value"))
  }

  private val saltedSql: String =
    """SELECT event_type,
      |  sum(round(value * 100)::BIGINT)::BIGINT / 100.0 AS volume,
      |  count(*) AS n_events, max(value) AS max_value
      |FROM events GROUP BY 1""".stripMargin

  /** Rank-statistics windows (`window_ranks`) — the §2.6 functions not
    * yet exercised: percent_rank / cume_dist / ntile(4) per event_type,
    * ordered by (value, event_id) so the order is TOTAL and every rank
    * statistic is engine-deterministic (ntile splits ties by position —
    * an order with duplicates would let the engines disagree on which
    * row lands in which quartile). Rank windows partition by the key,
    * so the plan parallelizes per key like every other keyed window
    * here. percent_rank and cume_dist are exact rationals of integer
    * rank counts — identical doubles on both engines. */
  private def windowRanksDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    Tables.events(spark, dir)
      .select($"event_id", $"event_type", $"value")
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("tile", ntile(4).over(w).cast("long"))
  }

  private val windowRanksSql: String =
    """SELECT event_id, event_type, value,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  ntile(4) OVER w::BIGINT AS tile
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin

  /** Funnel step sequence and completion window (24 h in micros). */
  val FunnelSteps: Seq[String] = Seq("signup", "view", "click", "purchase")
  val FunnelWindowUs = 86400000000L
  val DayUs = 86400000000L

  /** Event funnel (`events_funnel`) — the product-analytics sequence
    * query: how many users complete signup → view → click → purchase,
    * each step within [[FunnelWindowUs]] of the PREVIOUS step's first
    * completion. Step k's frame is (user, first-completion-time); step
    * k+1 filters its event type to the window after that time and takes
    * the per-user min — so each step is one key-projected join (events
    * of one type ⋈ the survivor set, shuffling only (user, ts)) plus a
    * map-side-combined min. Conversion is integer percent of the step-1
    * population. The per-step survivor frames shrink monotonically, so
    * at 100 TB the chain stays events-of-one-type x survivors — never
    * events x events. */
  private def funnelDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = funnelStepsAt(spark, dir, FunnelWindowUs).zipWithIndex.map {
      case (df, i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1L).as("step"),
            lit(FunnelSteps(i)).as("event_type"), $"n_users")
    }.reduce(_ unionByName _)
    val base = all.filter($"step" === 1).select($"n_users".as("n0"))
    all.crossJoin(broadcast(base))
      .select($"step", $"event_type", $"n_users",
        expr("(n_users * 100) div n0").as("conv_pct"))
  }

  private val funnelSql: String = {
    val steps = FunnelSteps.zipWithIndex.map { case (et, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts_us) AS t FROM e
           |  WHERE event_type = '$et' GROUP BY 1)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, min(ts_us) AS t
           |  FROM e JOIN s$i USING (user_id)
           |  WHERE event_type = '$et' AND ts_us > s$i.t
           |    AND ts_us <= s$i.t + $FunnelWindowUs GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val unions = FunnelSteps.zipWithIndex.map { case (et, i) =>
      s"SELECT ${i + 1}::BIGINT AS step, '$et' AS event_type, count(*) AS n_users FROM s${i + 1}"
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
       |  FROM events),
       |$steps,
       |c AS ($unions)
       |SELECT step, event_type, n_users,
       |  (n_users * 100) // (SELECT n_users FROM c WHERE step = 1)
       |    AS conv_pct
       |FROM c""".stripMargin
  }

  /** Cohort retention (`events_retention`) — users cohorted by their
    * first-active day; each (cohort_day, age) cell counts users active
    * `age` days after joining, with integer retained percent against
    * the cohort size. Plan: one per-user min (map-side combined), one
    * (user, day) distinct, one broadcast join of the day-count-sized
    * cohort-size frame — output is |days|² cells regardless of corpus
    * size, so nothing here grows with 100 TB except the two
    * key-projected aggregations. */
  private def retentionDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = userDaysDf(spark, dir)
    val coh = days.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val size = coh.groupBy($"cohort_day").agg(count(lit(1)).as("n_cohort"))
    days.join(coh, Seq("user_id"))
      .withColumn("age", $"day" - $"cohort_day")
      .groupBy($"cohort_day", $"age")
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(size), Seq("cohort_day"))
      .select($"cohort_day", $"age", $"n_active", $"n_cohort",
        expr("(n_active * 100) div n_cohort").as("retained_pct"))
  }

  private val retentionSql: String =
    s"""WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day
       |  FROM events),
       |coh AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
       |sz AS (SELECT cohort_day, count(*) AS n_cohort FROM coh GROUP BY 1),
       |a AS (SELECT coh.cohort_day, d.day - coh.cohort_day AS age,
       |        count(*) AS n_active
       |      FROM d JOIN coh USING (user_id) GROUP BY 1, 2)
       |SELECT a.cohort_day, a.age, a.n_active, sz.n_cohort,
       |  (a.n_active * 100) // sz.n_cohort AS retained_pct
       |FROM a JOIN sz USING (cohort_day)""".stripMargin

  /** Completion windows for the funnel dial (micros): 1 h, 24 h, 7 d. */
  val FunnelCurveWindows: Seq[Long] =
    Seq(3600000000L, 86400000000L, 7L * 86400000000L)

  /** Step-k builder shared by the shipped funnel and its window dial.
    * The [[FunnelWindowUs]] chain is memoized per step: `events_funnel`
    * publishes its four survivor frames and the curve's middle window
    * re-reads them instead of re-running the step joins (the 1 h / 7 d
    * chains are the curve's own and build from the same memoized typed
    * projection). Survivor frames are (user, ts) pairs that shrink
    * monotonically — at 100 TB they are the natural share unit, the
    * events scan having been paid once. */
  private def funnelStepsAt(spark: SparkSession, dir: String,
      windowUs: Long): Seq[DataFrame] = {
    import spark.implicits._
    val ev = graft.functions.DfMemo.cached(spark, s"funnel_ev:$dir")(
      Tables.events(spark, dir)
        .select($"user_id", $"event_type", $"ts_us"))
    def step(i: Int, prev: Option[DataFrame]): DataFrame = {
      val build = prev match {
        case None => ev.filter($"event_type" === FunnelSteps.head)
          .groupBy($"user_id").agg(min($"ts_us").as("t"))
        case Some(cur) => ev.filter($"event_type" === FunnelSteps(i))
          .join(cur.select($"user_id", $"t".as("tp")), Seq("user_id"))
          .filter($"ts_us" > $"tp" && $"ts_us" <= $"tp" + windowUs)
          .groupBy($"user_id").agg(min($"ts_us").as("t"))
      }
      // Every window's steps memoize, not just the shipped funnel's:
      // a step frame is consumed TWICE (its own count and the next
      // step's join), so an un-memoized chain re-executes step 1's
      // events scan once per later step — 1+2+3+4 scans per window.
      // The shipped window keeps its historical key (shared with
      // `events_funnel`); the curve's own windows key on the window.
      if (windowUs == FunnelWindowUs)
        graft.functions.DfMemo.cached(spark, s"funnel_s$i:$dir")(build)
      else
        graft.functions.DfMemo.cached(spark, s"funnel_s$i:$windowUs:$dir")(build)
    }
    FunnelSteps.indices.foldLeft(Vector.empty[DataFrame]) { (acc, i) =>
      acc :+ step(i, acc.lastOption)
    }
  }

  /** The funnel's completion-window dial (`events_funnel_curve`): the
    * same step sequence replayed at 1 h / 24 h / 7 d windows. Widening
    * the window can only admit more completions at every step (each
    * survivor set is a superset — spec-asserted monotone in BOTH
    * directions of the grid), so the curve shows how much "conversion"
    * is really just patience. Same shrinking-survivor-join plan per
    * window. */
  private def funnelCurveDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FunnelCurveWindows.map { w =>
      funnelStepsAt(spark, dir, w).zipWithIndex.map { case (df, i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(w).as("window_us"), lit(i + 1L).as("step"),
            lit(FunnelSteps(i)).as("event_type"), $"n_users")
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
  }

  private val funnelCurveSql: String = {
    def stepsAt(w: Long): String = FunnelSteps.zipWithIndex.map {
      case (et, i) =>
        if (i == 0)
          s"""s${w}_1 AS (SELECT user_id, min(ts_us) AS t FROM e
             |  WHERE event_type = '$et' GROUP BY 1)""".stripMargin
        else
          s"""s${w}_${i + 1} AS (SELECT e.user_id, min(ts_us) AS t
             |  FROM e JOIN s${w}_$i USING (user_id)
             |  WHERE event_type = '$et' AND ts_us > s${w}_$i.t
             |    AND ts_us <= s${w}_$i.t + $w GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val ctes = FunnelCurveWindows.map(stepsAt).mkString(",\n")
    val unions = (for {
      w <- FunnelCurveWindows
      (et, i) <- FunnelSteps.zipWithIndex
    } yield s"SELECT ${w}::BIGINT AS window_us, ${i + 1}::BIGINT AS step, " +
      s"'$et' AS event_type, count(*) AS n_users FROM s${w}_${i + 1}")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
       |  FROM events),
       |$ctes
       |$unions""".stripMargin
  }

  /** Event-type transition matrix (`events_markov`) — the first-order
    * Markov census behind "what do users do next": per user, events
    * order by time (event_id tiebreak) and each adjacent (prev → cur)
    * step counts once; cells carry the integer percent of their
    * prev-row mass (the empirical transition probability, floored).
    * The sequence-model complement of `events_funnel`'s fixed path.
    * Plan: ONE lag window partitioned by user — each partition is one
    * user's (already narrow) event stream — then a |types|² hash
    * aggregation and a window over that tiny cell frame. */
  private def markovDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts_us")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNotNull)
      .groupBy($"prev", $"event_type".as("cur"))
      .agg(count(lit(1)).as("n_steps"))
      .withColumn("row_pct", expr(
        "(n_steps * 100) div (sum(n_steps) OVER (PARTITION BY prev))"))
  }

  private val markovSql: String =
    """WITH s AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events)
      |SELECT prev, event_type AS cur, count(*) AS n_steps,
      |  ((count(*) * 100) // (sum(count(*)) OVER (PARTITION BY prev)))::BIGINT
      |    AS row_pct
      |FROM s WHERE prev IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** SCD Type-2 dimension construction (`events_scd_ranges`): collapse
    * each user's event-type change log into versioned validity
    * intervals `[valid_from, valid_to)` — the slowly-changing-dimension
    * table every warehouse maintains, derived change-log-first: a
    * change row is one whose type differs from its predecessor
    * (lag ≠ cur), version = running change count, valid_to = the next
    * change's valid_from (NULL while current). One shuffle keyed by
    * user; both windows share the (user, ts, id) sort; run lengths
    * come from the event count between changes, so the interval table
    * also audits itself (Σ n_events per user = user's event count,
    * spec-pinned). All integers — epoch micros, versions, counts. */
  private def scdRangesDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val wRun = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy($"user_id").orderBy($"version")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts_us")
      .withColumn("chg",
        when(lag($"event_type", 1).over(w).isNull ||
          lag($"event_type", 1).over(w) =!= $"event_type", 1L)
          .otherwise(0L))
      .withColumn("version", sum($"chg").over(wRun))
      .groupBy($"user_id", $"version")
      .agg(first($"event_type").as("state"),
        min($"ts_us").as("valid_from_us"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead($"valid_from_us", 1).over(wNext))
      .withColumn("is_current", $"valid_to_us".isNull)
      .select($"user_id", $"version", $"state", $"valid_from_us",
        $"valid_to_us", $"n_events", $"is_current")
  }

  private val scdRangesSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |v AS (
      |  SELECT user_id, event_id, event_type, ts_us,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |      AS version
      |  FROM e),
      |g AS (
      |  SELECT user_id, version, any_value(event_type) AS state,
      |    min(ts_us) AS valid_from_us, count(*) AS n_events
      |  FROM v GROUP BY 1, 2)
      |SELECT user_id, version, state, valid_from_us,
      |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
      |    AS valid_to_us,
      |  n_events,
      |  (lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
      |    IS NULL) AS is_current
      |FROM g""".stripMargin

  /** DAU / WAU / stickiness (`events_dau_wau`): distinct daily actives,
    * distinct trailing-7-day actives, and the integer stickiness
    * percent (DAU*100 div WAU) per day. A trailing distinct-count is
    * not window-decomposable, so WAU joins the (user, day) distinct
    * frame onto each of its 7 covered report days — the frame is
    * users x active-days (already reduced), so the 7x fan-out is linear
    * in that reduced size, never in raw events. */
  /** Memoized (user, active-day) distinct frame — the shared reduction
    * under retention AND dau/wau: each consumer references it 2-3
    * times per plan (cohort min + size + age join; dau + wau), and
    * un-checkpointed every reference re-ran the events scan+distinct. */
  private def userDaysDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DfMemo.cached(spark, s"user_days:$dir")(
      Tables.events(spark, dir)
        .select($"user_id", expr(s"ts_us div $DayUs").as("day"))
        .distinct())
  }

  private def dauWauDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ud = userDaysDf(spark, dir)
    val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
    val offsets = spark.range(0, 7).select($"id".as("off"))
    val wau = ud.crossJoin(broadcast(offsets))
      .select($"user_id", ($"day" + $"off").as("day"))
      .distinct()
      .groupBy($"day").agg(count(lit(1)).as("wau"))
    // report only days with activity (inner join keeps the grid honest:
    // wau rows past the last active day are window run-out)
    dau.join(wau, Seq("day"))
      .select($"day", $"dau", $"wau",
        expr("(dau * 100) div wau").as("stickiness_pct"))
  }

  private val dauWauSql: String =
    s"""WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day
       |  FROM events),
       |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
       |wau AS (SELECT day, count(*) AS wau FROM (
       |    SELECT DISTINCT user_id, ud.day + off AS day
       |    FROM ud, range(0, 7) r(off)) w
       |  GROUP BY 1)
       |SELECT day, dau, wau, (dau * 100) // wau AS stickiness_pct
       |FROM dau JOIN wau USING (day)""".stripMargin

  /** The dim table for the salted join: one weight per skew key. A
    * literal here; a deployment joins its instrument/config table. */
  private val SkewDimRows: Seq[(String, Double)] =
    (("hot", 1.5) +: (8 to 15).map(i => (s"k$i", 0.5 + (i - 8) * 0.25)))

  /** Salted skew JOIN (`join_salted`) — the join-side twin of
    * `agg_salted`, closing the skew-rescue pair `diag_heavy_hitters`
    * decides between. The planted 50%-hot key would land half the fact
    * table on ONE reducer of a plain shuffle join; instead:
    *
    *  1. a one-pass key census (the standing `diag_heavy_hitters`
    *     verdict in production) broadcasts each key's hot flag;
    *  2. the fact side salts HOT keys only — `salt = (event_id div 16)
    *     % [[SaltBuckets]]`, the div because the skew key itself is an
    *     event_id residue, so the raw residue would alias with it and
    *     cover only half the salt space — cold keys keep salt 0, so
    *     their reducer count is unchanged;
    *  3. the dim side replicates each hot key's row [[SaltBuckets]]
    *     times (posexplode of a salt sequence), cold rows once — dim
    *     growth is |hot keys| × R rows, metadata-scale;
    *  4. the join runs on (skew_key, salt) — hint("merge") pins the
    *     shuffle path, because a 9-row dim would otherwise broadcast
    *     and hide exactly the skew this operator exists to rescue —
    *     and the hot key's rows now spread over R reducers.
    *
    * The salt never reaches the output: the post-join aggregate groups
    * by the real key, so the oracle is the PLAIN join. SkewSpec
    * asserts the plan shape (SortMergeJoin keyed on key+salt) and the
    * R-way spread of the hot key's rows. */
  private def joinSaltedDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fact = Tables.events(spark, dir)
      .withColumn("skew_key", expr(Layout.skewKeySql))
    // The census pre-pass: one map-side-combined aggregation, then a
    // 9-row hot verdict (share > HotFactor/Partitions). Memoized: the
    // verdict frame is broadcast into BOTH join sides, and un-memoized
    // each broadcast build re-ran the full fact scan (and a separate
    // count(*) scan for the total) — five events scans per evaluation
    // for a key-cardinality-sized frame. The total is the sum of the
    // census counts (identical to count(*): every row lands in exactly
    // one group), so the build itself is ONE fact scan.
    val hotFlags = graft.functions.DfMemo.cached(spark, s"skew_hot:$dir") {
      val census = graft.functions.DfMemo.materializeFrame(spark,
        fact.groupBy($"skew_key")
          .agg(count(lit(1)).as("n"))) // key-cardinality rows; one fact scan
      val tot = census.agg(sum($"n").as("total"))
      census.crossJoin(broadcast(tot))
        .select($"skew_key",
          ($"n" * Layout.Partitions > $"total" * Layout.HotFactor).as("hot"))
    }
    val dim = SkewDimRows.toDF("skew_key", "weight")
    val dimSalted = dim.join(broadcast(hotFlags), Seq("skew_key"), "left")
      .select($"skew_key", $"weight",
        explode(when(coalesce($"hot", lit(false)),
          sequence(lit(0L), lit(SaltBuckets - 1L)))
          .otherwise(array(lit(0L)))).as("salt"))
    val factSalted = fact
      .join(broadcast(hotFlags), Seq("skew_key"), "left")
      .withColumn("salt",
        when(coalesce($"hot", lit(false)),
          expr(s"(event_id div 16) % $SaltBuckets"))
          .otherwise(lit(0L)))
    // weighted_volume sums in the INTEGER domain: value is a ~2dp
    // decimal and weights are quarter-steps, so value*weight*1e4 is a
    // near-integer per row — rounding it per row and summing longs is
    // exact under any summation tree (the raw double sum measured
    // 370931.2350000 at sf0.01, exactly on the half-cent boundary a
    // post-sum round would flip on)
    factSalted
      .join(dimSalted.hint("merge"), Seq("skew_key", "salt"))
      .groupBy($"skew_key")
      .agg(count(lit(1)).as("n_events"),
        (sum(round($"value" * $"weight" * 10000.0).cast("long")) / 10000.0)
          .as("weighted_volume"))
  }

  private val joinSaltedSql: String = {
    val dimVals = SkewDimRows
      .map { case (k, w) => s"('$k', $w)" }.mkString(", ")
    s"""WITH dim(skew_key, weight) AS (VALUES $dimVals)
       |SELECT skew_key, count(*) AS n_events,
       |  sum(round(value * weight * 10000.0)::BIGINT)::BIGINT / 10000.0
       |    AS weighted_volume
       |FROM (SELECT ${Layout.skewKeySql} AS skew_key, value FROM events) f
       |JOIN dim USING (skew_key)
       |GROUP BY 1""".stripMargin
  }

  /** Attribution lookback: touches within 7 days before the conversion. */
  val AttribWindowUs: Long = 7L * DayUs

  /** Multi-touch attribution (`events_attribution`): every `purchase`
    * conversion credits the `click`/`view` touches in its trailing
    * [[AttribWindowUs]] window under the three classic models at once —
    * first-touch, last-touch, and linear — reported per channel. The
    * touch⋈conversion pairing is an equi-join on user_id with the time
    * band as a residual (per-user history is the natural bound on the
    * fan-out; the join never leaves the user key, so it shuffles once),
    * and the three models are three expressions over ONE window pass per
    * conversion: count for the linear denominator, two tie-broken
    * row_numbers for the endpoints. Linear credit is exact integer
    * micro-credits (`1000000 div n` per touch) — order-independent sums,
    * no fractional drift; a conversion's credits under-count 1e6 by at
    * most n-1 micro-units (the floor remainder), never double-count. */
  private def attributionDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val conv = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("conv_id"), $"user_id", $"ts_us".as("conv_ts"))
    val touch = ev.filter($"event_type".isin("click", "view"))
      .select($"user_id", $"event_type".as("channel"),
        $"ts_us".as("touch_ts"), $"event_id".as("touch_id"))
    val pairs = conv.join(touch, Seq("user_id"))
      .filter($"touch_ts" < $"conv_ts" &&
        $"touch_ts" >= $"conv_ts" - AttribWindowUs)
    val w = Window.partitionBy($"conv_id")
    pairs
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rf",
        row_number().over(w.orderBy($"touch_ts", $"touch_id")))
      .withColumn("rl",
        row_number().over(w.orderBy($"touch_ts".desc, $"touch_id".desc)))
      .groupBy($"channel")
      .agg(sum(when($"rf" === 1, 1L).otherwise(0L)).as("first_touch"),
        sum(when($"rl" === 1, 1L).otherwise(0L)).as("last_touch"),
        sum(expr("1000000 div n")).as("linear_micro"),
        count(lit(1)).as("n_touches"))
  }

  private val attributionSql: String =
    s"""WITH conv AS (
       |  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS conv_ts
       |  FROM events WHERE event_type = 'purchase'),
       |t AS (
       |  SELECT user_id, event_type AS channel, epoch_us(ts) AS touch_ts,
       |    event_id AS touch_id
       |  FROM events WHERE event_type IN ('click', 'view')),
       |p AS (
       |  SELECT conv_id, channel, touch_ts, touch_id
       |  FROM conv JOIN t USING (user_id)
       |  WHERE touch_ts < conv_ts AND touch_ts >= conv_ts - $AttribWindowUs),
       |r AS (
       |  SELECT channel,
       |    count(*) OVER (PARTITION BY conv_id) AS n,
       |    row_number() OVER (PARTITION BY conv_id
       |      ORDER BY touch_ts, touch_id) AS rf,
       |    row_number() OVER (PARTITION BY conv_id
       |      ORDER BY touch_ts DESC, touch_id DESC) AS rl
       |  FROM p)
       |SELECT channel,
       |  sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END)::BIGINT AS first_touch,
       |  sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END)::BIGINT AS last_touch,
       |  sum(1000000 // n)::BIGINT AS linear_micro,
       |  count(*) AS n_touches
       |FROM r GROUP BY 1""".stripMargin

  /** SCD2 temporal join (`join_scd2`): the canonical USE of the
    * dimension `events_scd_ranges` builds — attribute each `purchase`
    * fact to the version of its user's state dimension valid at
    * transaction time. The validity predicate is
    * `valid_from < ts <= valid_to` (strictly-before on the open side),
    * i.e. the state the user was IN when the purchase arrived — the
    * purchase event itself opens a new version, so the at-or-before form
    * would degenerately self-match every row. A user's first-ever event
    * has no prior state and drops, by design. Plan: equi-join on
    * user_id with the validity band as a residual — the dimension is
    * user-count-sized (NOT broadcastable at scale), so both sides
    * shuffle once on the user key and each user's handful of versions
    * probes locally; the same shape at 1000 executors. */
  private def scdJoinDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = scdRangesDf(spark, dir)
      .select($"user_id".as("d_user"), $"version", $"state",
        $"valid_from_us", $"valid_to_us")
    val fact = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us",
        round($"value" * 100).cast("long").as("cents"))
    fact.join(dim, $"d_user" === $"user_id" &&
        $"valid_from_us" < $"ts_us" &&
        ($"valid_to_us".isNull || $"ts_us" <= $"valid_to_us"))
      .groupBy($"state")
      .agg(count(lit(1)).as("n_purchases"),
        sum($"cents").as("revenue_cents"),
        countDistinct($"d_user", $"version").as("n_versions"))
  }

  private val scdJoinSql: String =
    s"""WITH scd AS ($scdRangesSql),
       |f AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us,
       |    round(value * 100)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase')
       |SELECT state, count(*) AS n_purchases,
       |  sum(cents)::BIGINT AS revenue_cents,
       |  count(DISTINCT (d.user_id, d.version)) AS n_versions
       |FROM f JOIN scd d ON d.user_id = f.user_id
       |  AND d.valid_from_us < f.ts_us
       |  AND (d.valid_to_us IS NULL OR f.ts_us <= d.valid_to_us)
       |GROUP BY 1""".stripMargin

  /** Second-order path census (`events_paths`) — the rung above
    * [[markovDf]]'s first-order matrix: every 3-step event-type
    * trajectory a user walks, counted globally with its share of all
    * walked paths in floor'd basis points. The window-lead pass is the
    * same per-user narrow stream as the markov lag (one shuffle keyed
    * by user); the census frame is bounded by |types|³, so the global
    * share window runs over at most 125 rows at any data scale. */
  private def pathsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts_us")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .filter($"e2".isNotNull && $"e3".isNotNull)
      .groupBy($"event_type".as("s1"), $"e2".as("s2"), $"e3".as("s3"))
      .agg(count(lit(1)).as("n_walks"))
      .withColumn("share_bps",
        expr("(n_walks * 10000) div (sum(n_walks) OVER ())"))
  }

  private val pathsSql: String =
    """WITH s AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
      |SELECT event_type AS s1, e2 AS s2, e3 AS s3,
      |  count(*) AS n_walks,
      |  ((count(*) * 10000) // (sum(count(*)) OVER ()))::BIGINT AS share_bps
      |FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1, 2, 3""".stripMargin

  /** Two-proportion A/B significance (`events_ab_test`) — the
    * experimentation readout a product-analytics engine must serve:
    * users split into variants on `user_id % 2` (the deterministic
    * hash-bucket assignment an experiment platform uses), conversion =
    * "ever purchased", and the B−A lift ships with the pooled
    * two-proportion z statistic and its two-sided p-value through the
    * SAME Φ approximation as `fn_normcdf` (codegen expression on the
    * Spark side, [[graft.functions.ColFns.normCdfSql]] on the oracle —
    * already proven bitwise-equal). Every rate and the z pipeline
    * derive from exact integer counts with one textual op sequence, so
    * the verdict boolean cannot flip between engines. Plan: one shuffle
    * keyed by user (map-side combined), then a 2-row frame. */
  private def abTestDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // conversion = purchased within the user's first 7 observed days
    // (activation): "ever purchased" saturates to 1.0 on a long event
    // history, and a saturated pool has zero variance — the degenerate
    // case the z guard below withholds rather than divides by
    val w = Window.partitionBy($"user_id")
    val cells = Tables.events(spark, dir)
      .select($"user_id", $"event_type", expr(s"ts_us div $DayUs").as("day"))
      .withColumn("first_day", min($"day").over(w))
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase" &&
          $"day" < $"first_day" + 7, 1L).otherwise(0L)).as("conv"))
      .withColumn("variant", $"user_id" % 2)
      .groupBy($"variant")
      .agg(count(lit(1)).as("n_users"), sum($"conv").as("n_conv"))
    val a = cells.filter($"variant" === 0)
      .select($"n_users".as("n_a"), $"n_conv".as("c_a"))
    val b = cells.filter($"variant" === 1)
      .select($"n_users".as("n_b"), $"n_conv".as("c_b"))
    a.crossJoin(b)
      .withColumn("rate_a", $"c_a" / $"n_a")
      .withColumn("rate_b", $"c_b" / $"n_b")
      .withColumn("lift_bps", floor(($"rate_b" - $"rate_a") * lit(10000.0)))
      .withColumn("p_pool", ($"c_a" + $"c_b") / ($"n_a" + $"n_b"))
      .withColumn("z",
        when($"p_pool" > 0 && $"p_pool" < 1,
          ($"rate_b" - $"rate_a") /
            sqrt($"p_pool" * (lit(1.0) - $"p_pool") *
              (lit(1.0) / $"n_a" + lit(1.0) / $"n_b"))))
      .withColumn("p_value",
        lit(2.0) * (lit(1.0) - graft.functions.ColFns.normCdf(abs($"z"))))
      .select($"n_a", $"c_a", $"n_b", $"c_b", $"rate_a", $"rate_b",
        $"lift_bps", $"z", $"p_value", ($"p_value" < 0.05).as("significant"))
  }

  private val abTestSql: String = {
    val phi = graft.functions.ColFns.normCdfSql("abs(z)")
    s"""WITH d AS (
       |  SELECT user_id, event_type, epoch_us(ts) // $DayUs AS day,
       |    min(epoch_us(ts) // $DayUs) OVER (PARTITION BY user_id) AS first_day
       |  FROM events),
       |per AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' AND day < first_day + 7
       |             THEN 1 ELSE 0 END)::BIGINT AS conv
       |  FROM d GROUP BY 1),
       |cells AS (
       |  SELECT user_id % 2 AS variant, count(*) AS n_users,
       |    sum(conv)::BIGINT AS n_conv
       |  FROM per GROUP BY 1),
       |a AS (SELECT n_users AS n_a, n_conv AS c_a FROM cells WHERE variant = 0),
       |b AS (SELECT n_users AS n_b, n_conv AS c_b FROM cells WHERE variant = 1),
       |r AS (SELECT *, c_a / n_a AS rate_a, c_b / n_b AS rate_b,
       |        (c_a + c_b) / (n_a + n_b) AS p_pool
       |      FROM a, b),
       |zz AS (SELECT *, CASE WHEN p_pool > 0 AND p_pool < 1
       |         THEN (rate_b - rate_a)
       |           / sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b))
       |         END AS z
       |       FROM r),
       |p AS (SELECT *, 2.0 * (1.0 - $phi) AS p_value FROM zz)
       |SELECT n_a, c_a, n_b, c_b, rate_a, rate_b,
       |  floor((rate_b - rate_a) * 10000.0)::BIGINT AS lift_bps, z, p_value,
       |  p_value < 0.05 AS significant
       |FROM p""".stripMargin
  }

  /** CUPED variance reduction (`events_cuped`, Deng et al. 2013) — the
    * pre-experiment-covariate adjustment every large experimentation
    * platform applies before the z-test, because it shrinks metric
    * variance without bias: per user, x = pre-period spend and
    * y = post-period spend (exact integer cents, the calendar midpoint
    * splitting the observed day range), θ = cov(x,y)/var(x), and the
    * adjusted variance has the closed form var(y) − cov²/var(x) — so
    * ONE aggregation of exact integer sufficient statistics
    * (n, Σx, Σy, Σx², Σy², Σxy — all safely inside int64 at these
    * magnitudes) yields θ, both variances, and the floored
    * variance-reduction share. Every double derives from the same
    * exact longs with one textual op sequence on both engines. Plan:
    * one shuffle keyed by user, then a 1-row frame; the day-range
    * midpoint broadcasts from a metadata-sized aggregate. */
  private def cupedDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id", expr(s"ts_us div $DayUs").as("day"),
        round($"value" * 100).cast("long").as("cents"))
    val mid = days.agg(
      expr("(min(day) + max(day) + 1) div 2").as("mid_day"))
    val per = days.crossJoin(broadcast(mid))
      .groupBy($"user_id")
      .agg(
        sum(when($"day" < $"mid_day", $"cents").otherwise(0L)).as("x"),
        sum(when($"day" >= $"mid_day", $"cents").otherwise(0L)).as("y"))
    per
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"))
      .withColumn("cov_n2",
        $"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy")
      .withColumn("varx_n2",
        $"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx")
      .withColumn("vary_n2",
        $"n".cast("double") * $"syy" - $"sy".cast("double") * $"sy")
      .withColumn("theta", $"cov_n2" / $"varx_n2")
      .withColumn("var_y",
        $"vary_n2" / ($"n".cast("double") * $"n".cast("double")))
      .withColumn("var_adj",
        ($"vary_n2" - $"cov_n2" * $"cov_n2" / $"varx_n2") /
          ($"n".cast("double") * $"n".cast("double")))
      .select($"n", $"theta", $"var_y", $"var_adj",
        floor((lit(1.0) - $"var_adj" / $"var_y") * lit(10000.0))
          .as("reduction_bps"))
  }

  private val cupedSql: String =
    s"""WITH d AS (
       |  SELECT user_id, epoch_us(ts) // $DayUs AS day,
       |    round(value * 100)::BIGINT AS cents
       |  FROM events),
       |m AS (SELECT (min(day) + max(day) + 1) // 2 AS mid_day FROM d),
       |per AS (
       |  SELECT user_id,
       |    sum(CASE WHEN day < mid_day THEN cents ELSE 0 END)::BIGINT AS x,
       |    sum(CASE WHEN day >= mid_day THEN cents ELSE 0 END)::BIGINT AS y
       |  FROM d, m GROUP BY 1),
       |s AS (
       |  SELECT count(*) AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
       |    sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
       |    sum(x * y)::BIGINT AS sxy
       |  FROM per),
       |c AS (
       |  SELECT n,
       |    n::DOUBLE * sxy - sx::DOUBLE * sy AS cov_n2,
       |    n::DOUBLE * sxx - sx::DOUBLE * sx AS varx_n2,
       |    n::DOUBLE * syy - sy::DOUBLE * sy AS vary_n2
       |  FROM s)
       |SELECT n, cov_n2 / varx_n2 AS theta,
       |  vary_n2 / (n::DOUBLE * n::DOUBLE) AS var_y,
       |  (vary_n2 - cov_n2 * cov_n2 / varx_n2) / (n::DOUBLE * n::DOUBLE)
       |    AS var_adj,
       |  floor((1.0 - ((vary_n2 - cov_n2 * cov_n2 / varx_n2)
       |                / (n::DOUBLE * n::DOUBLE))
       |               / (vary_n2 / (n::DOUBLE * n::DOUBLE))) * 10000.0)::BIGINT
       |    AS reduction_bps
       |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // events_survival: Kaplan-Meier user-lifetime curve.
  // ---------------------------------------------------------------------

  /** Users whose last activity is within this many days of the corpus
    * end are right-censored (they may still be alive). */
  val CensorDays = 7

  // The survival product in the exact-integer canon: each timeline term
  // ln(1 - d/n) floors to 1e-9 units, the running product becomes an
  // exact ordered integer sum, and the single exp() at the end runs on
  // identical operands. A term with d = n (everyone left dies) would be
  // ln(0); it can only be the LAST timeline row (any later row would
  // have kept its users in this risk set), flagged to an exact 0.
  private val SurvW =
    "over (order by duration_days rows between unbounded preceding and current row)"

  private val survivalFinal: Seq[String] = Seq(
    "duration_days",
    "n_risk",
    "deaths",
    "censored",
    s"case when max(case when deaths = n_risk then 1 else 0 end) $SurvW = 1 then 0.0 " +
      s"else exp(cast(sum(ln_i) $SurvW as double) / 1e9) end as survival")

  /** `events_survival`: Kaplan-Meier estimate of user lifetime (days
    * from first to last observed activity), right-censoring users still
    * active near the corpus end — the product-analytics twin of
    * `events_retention` that handles the "still alive" cohort correctly
    * instead of undercounting it. Plan shape: one shuffle to the
    * per-user frame, one aggregation to the duration timeline
    * (calendar-sized), and the KM product as an ordered window over
    * that tiny frame — nothing user-sized is ever sorted globally. */
  private def survivalDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lives = Tables.events(spark, dir)
      .select($"user_id", expr(s"ts_us div $DayUs").as("day"))
      .groupBy($"user_id")
      .agg(min($"day").as("first_day"), max($"day").as("last_day"))
    // corpus end as a broadcast 1-row frame — never a window that would
    // drag the whole user frame onto one partition
    val perUser = lives
      .crossJoin(broadcast(lives.groupBy().agg(max($"last_day").as("max_day"))))
      .select(
        ($"last_day" - $"first_day").as("duration_days"),
        when($"last_day" < $"max_day" - CensorDays, 1L).otherwise(0L).as("died"))
    val timeline = perUser
      .groupBy($"duration_days")
      .agg(count(lit(1)).as("cnt"), sum($"died").as("deaths"))
      .withColumn("n_risk",
        sum($"cnt").over(Window.orderBy($"duration_days")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("censored", $"cnt" - $"deaths")
      .withColumn("ln_i",
        when($"deaths" < $"n_risk",
          floor(log(lit(1.0) - $"deaths" / $"n_risk") * lit(1e9)).cast("long")))
    timeline.selectExpr(survivalFinal: _*)
  }

  private val survivalSql: String =
    s"""WITH pu AS (
       |  SELECT user_id, min(epoch_us(ts) // $DayUs) AS first_day,
       |    max(epoch_us(ts) // $DayUs) AS last_day
       |  FROM events GROUP BY 1),
       |d AS (SELECT last_day - first_day AS duration_days,
       |    CASE WHEN last_day < (max(last_day) OVER ()) - $CensorDays
       |         THEN 1 ELSE 0 END AS died
       |  FROM pu),
       |tl AS (SELECT duration_days, count(*) AS cnt, sum(died)::BIGINT AS deaths
       |  FROM d GROUP BY 1),
       |t AS (SELECT duration_days, cnt, deaths,
       |    (sum(cnt) OVER (ORDER BY duration_days
       |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))::BIGINT AS n_risk,
       |    cnt - deaths AS censored
       |  FROM tl),
       |f AS (SELECT *,
       |    CASE WHEN deaths < n_risk
       |         THEN floor(ln(1.0 - deaths / n_risk) * 1e9)::BIGINT END AS ln_i
       |  FROM t)
       |SELECT ${survivalFinal.mkString(", ")} FROM f""".stripMargin

  // ---------------------------------------------------------------------
  // events_did: difference-in-differences experiment readout.
  // ---------------------------------------------------------------------

  // All final-stage arithmetic shared textually; every operand is an
  // exact integer sum (per-user purchase-count diffs), so the estimate,
  // its standard error and the t statistic are engine-stable.
  private val didFinal: Seq[String] = Seq(
    "n_treat", "n_ctrl",
    "cast(sd1 as double) / n_treat as mean_diff_treat",
    "cast(sd0 as double) / n_ctrl as mean_diff_ctrl",
    "cast(sd1 as double) / n_treat - cast(sd0 as double) / n_ctrl as did",
    "sqrt((cast(sq1 as double) - cast(sd1 as double) * cast(sd1 as double) / n_treat) / n_treat / n_treat + (cast(sq0 as double) - cast(sd0 as double) * cast(sd0 as double) / n_ctrl) / n_ctrl / n_ctrl) as se",
    "case when (cast(sq1 as double) - cast(sd1 as double) * cast(sd1 as double) / n_treat) / n_treat / n_treat + (cast(sq0 as double) - cast(sd0 as double) * cast(sd0 as double) / n_ctrl) / n_ctrl / n_ctrl > 0.0 then (cast(sd1 as double) / n_treat - cast(sd0 as double) / n_ctrl) / sqrt((cast(sq1 as double) - cast(sd1 as double) * cast(sd1 as double) / n_treat) / n_treat / n_treat + (cast(sq0 as double) - cast(sd0 as double) * cast(sd0 as double) / n_ctrl) / n_ctrl / n_ctrl) end as t_stat")

  /** `events_did`: difference-in-differences on per-user purchase
    * counts — variants on `user_id % 2` (the `events_ab_test`
    * assignment), periods split at the corpus midpoint day (broadcast
    * 1-row frame). The estimator works on per-user (post − pre) diffs,
    * so user fixed effects cancel exactly; the variance comes from the
    * integer sufficient statistics (n, Σd, Σd²) per variant. One
    * shuffle to the (user, period) frame, then user-sized and 2-row
    * frames only. */
  private def didDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id", $"event_type", expr(s"ts_us div $DayUs").as("day"))
    val mid = broadcast(days.groupBy()
      .agg(expr("(min(day) + max(day) + 1) div 2").as("mid_day")))
    val perUser = days.crossJoin(mid)
      .groupBy($"user_id")
      .agg(
        sum(when($"event_type" === "purchase" && $"day" >= $"mid_day", 1L)
          .otherwise(0L)).as("post_n"),
        sum(when($"event_type" === "purchase" && $"day" < $"mid_day", 1L)
          .otherwise(0L)).as("pre_n"))
      .select(($"user_id" % 2).as("variant"),
        ($"post_n" - $"pre_n").as("d"))
    perUser
      .groupBy()
      .agg(
        sum(when($"variant" === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when($"variant" === 0, 1L).otherwise(0L)).as("n_ctrl"),
        sum(when($"variant" === 1, $"d").otherwise(0L)).as("sd1"),
        sum(when($"variant" === 0, $"d").otherwise(0L)).as("sd0"),
        sum(when($"variant" === 1, $"d" * $"d").otherwise(0L)).as("sq1"),
        sum(when($"variant" === 0, $"d" * $"d").otherwise(0L)).as("sq0"))
      .selectExpr(didFinal: _*)
  }

  private val didSql: String =
    s"""WITH days AS (
       |  SELECT user_id, event_type, epoch_us(ts) // $DayUs AS day
       |  FROM events),
       |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS mid_day FROM days),
       |pu AS (
       |  SELECT user_id,
       |    sum(CASE WHEN event_type = 'purchase' AND day >= mid_day
       |             THEN 1 ELSE 0 END)::BIGINT AS post_n,
       |    sum(CASE WHEN event_type = 'purchase' AND day < mid_day
       |             THEN 1 ELSE 0 END)::BIGINT AS pre_n
       |  FROM days, mid GROUP BY 1),
       |d AS (SELECT user_id % 2 AS variant, post_n - pre_n AS d FROM pu),
       |a AS (SELECT
       |    sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS n_treat,
       |    sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ctrl,
       |    sum(CASE WHEN variant = 1 THEN d ELSE 0 END)::BIGINT AS sd1,
       |    sum(CASE WHEN variant = 0 THEN d ELSE 0 END)::BIGINT AS sd0,
       |    sum(CASE WHEN variant = 1 THEN d * d ELSE 0 END)::BIGINT AS sq1,
       |    sum(CASE WHEN variant = 0 THEN d * d ELSE 0 END)::BIGINT AS sq0
       |  FROM d)
       |SELECT ${didFinal.mkString(", ")} FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // events_streaks: gaps-and-islands longest-run census.
  // ---------------------------------------------------------------------

  /** `events_streaks`: the max consecutive-active-days streak per user,
    * published as a census (streak length → user count). Islands via
    * the classic `day − dense_rank()` constant-per-run key; every
    * window is partitioned by user, so the plan scales with the user
    * count, never a global sort. */
  private def streaksDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wu = Window.partitionBy($"user_id").orderBy($"day")
    Tables.events(spark, dir)
      .select($"user_id", expr(s"ts_us div $DayUs").as("day"))
      .distinct()
      .withColumn("island", $"day" - dense_rank().over(wu))
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(max($"len").as("max_streak"))
      .groupBy($"max_streak")
      .agg(count(lit(1)).as("n_users"))
  }

  private val streaksSql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events),
       |i AS (SELECT user_id,
       |    day - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS island
       |  FROM d),
       |runs AS (SELECT user_id, island, count(*) AS len
       |  FROM i GROUP BY 1, 2),
       |mx AS (SELECT user_id, max(len) AS max_streak FROM runs GROUP BY 1)
       |SELECT max_streak, count(*) AS n_users FROM mx GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // events_lorenz: activity-concentration curve + Gini coefficient.
  // ---------------------------------------------------------------------

  // Trapezoid Gini over the grouped census, entirely in exact integers:
  // contribution_i = f_i * (2*cumv_i - mass_i) sums to
  // sum f_i*(cumv_i + cumv_{i-1}); gini = 1 - that / (N*T). The running
  // products ride decimal/HUGEINT (N*T overflows int64 at ~1e9 users ×
  // 1e10 events). Shared textually.
  // (the permille floors use `div`/`//`, the one operator the engines
  // spell differently, so those stay per-engine; the gini line shares)
  private val lorenzGini: String =
    "1.0 - cast(trap as double) / (cast(tot_n as double) * cast(tot_v as double)) as gini"

  /** `events_lorenz`: the Lorenz curve of per-user activity plus the
    * Gini coefficient — "what share of all events comes from the
    * busiest users", the concentration diagnostic any consumer product
    * tracks. The global ranking that makes Gini look sort-shaped
    * collapses to a census by activity LEVEL (distinct per-user event
    * counts — a frame bounded by the max count, not the user count), so
    * the plan is: one shuffle to per-user counts, one aggregation to
    * the census, ordered windows over that tiny frame. Exact integers
    * end to end; the trapezoid products accumulate as decimal(38,0) /
    * HUGEINT. */
  private def lorenzDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wc = Window.orderBy($"n_events")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("n_events"))
      .groupBy($"n_events").agg(count(lit(1)).as("n_users"))
      .withColumn("mass", $"n_events" * $"n_users")
      .withColumn("cum_n", sum($"n_users").over(wc))
      .withColumn("cum_v", sum($"mass").over(wc))
      .withColumn("tot_n", sum($"n_users").over(wAll))
      .withColumn("tot_v", sum($"mass").over(wAll))
      .withColumn("contrib",
        // widen BEFORE the multiply (the oracle's HUGEINT does): an
        // int64 product of n_users * (2*cum_v - mass) wraps at the
        // ~1e9-users × 1e10-events scale this query is sized for
        $"n_users".cast("decimal(38,0)") *
          (lit(2) * $"cum_v".cast("decimal(38,0)") -
            $"mass".cast("decimal(38,0)")))
      .withColumn("trap", sum($"contrib").over(wAll))
      .selectExpr("n_events", "n_users",
        "cum_n * 1000 div tot_n as cum_users_permille",
        "cum_v * 1000 div tot_v as cum_value_permille",
        lorenzGini)
  }

  private val lorenzSql: String =
    s"""WITH pu AS (SELECT user_id, count(*) AS n_events
       |  FROM events GROUP BY 1),
       |cen AS (SELECT n_events, count(*) AS n_users FROM pu GROUP BY 1),
       |c AS (SELECT n_events, n_users, n_events * n_users AS mass,
       |    (sum(n_users) OVER wc)::BIGINT AS cum_n,
       |    (sum(n_events * n_users) OVER wc)::BIGINT AS cum_v,
       |    (sum(n_users) OVER ())::BIGINT AS tot_n,
       |    (sum(n_events * n_users) OVER ())::BIGINT AS tot_v
       |  FROM cen
       |  WINDOW wc AS (ORDER BY n_events
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |t AS (SELECT *,
       |    sum(n_users::HUGEINT * (2 * cum_v::HUGEINT - mass)) OVER () AS trap
       |  FROM c)
       |SELECT n_events, n_users,
       |  ((cum_n * 1000) // tot_n)::BIGINT AS cum_users_permille,
       |  ((cum_v * 1000) // tot_v)::BIGINT AS cum_value_permille,
       |  $lorenzGini
       |FROM t""".stripMargin

  // ---------------------------------------------------------------------
  // orders_cohort_ltv: revenue cohort curves (cumulative LTV by age).
  // ---------------------------------------------------------------------

  /** `orders_cohort_ltv`: customers cohorted by first-order month;
    * each cohort's cumulative revenue per month-of-age is the LTV curve
    * finance reads next to `events_retention`'s activity cells. Exact
    * integer cents end to end; the cumulative window is partitioned by
    * cohort over the (cohort × age) frame, which is calendar² -sized at
    * any corpus scale. Cohorting is one min-aggregation joined back —
    * never a window over raw orders. */
  private def cohortLtvDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select($"o_custkey",
        (year($"o_orderdate") * 12 + month($"o_orderdate") - 1).cast("long").as("m"),
        round($"o_totalprice" * 100).cast("long").as("rev_c"))
    val firstM = o.groupBy($"o_custkey").agg(min($"m").as("cohort_m"))
    val wAge = Window.partitionBy($"cohort_m").orderBy($"age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.join(firstM, Seq("o_custkey"))
      .groupBy($"cohort_m", ($"m" - $"cohort_m").as("age"))
      .agg(countDistinct($"o_custkey").as("n_active"),
        sum($"rev_c").as("rev_cents"))
      .withColumn("cum_rev_cents", sum($"rev_cents").over(wAge))
      .select($"cohort_m", $"age", $"n_active", $"rev_cents", $"cum_rev_cents")
  }

  private val cohortLtvSql: String =
    s"""WITH o AS (SELECT o_custkey,
       |    (year(o_orderdate) * 12 + month(o_orderdate) - 1)::BIGINT AS m,
       |    round(o_totalprice * 100)::BIGINT AS rev_c
       |  FROM orders),
       |f AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1),
       |cells AS (SELECT f.cohort_m, o.m - f.cohort_m AS age,
       |    count(DISTINCT o.o_custkey) AS n_active,
       |    sum(o.rev_c)::BIGINT AS rev_cents
       |  FROM o JOIN f ON f.o_custkey = o.o_custkey
       |  GROUP BY 1, 2)
       |SELECT cohort_m, age, n_active, rev_cents,
       |  (sum(rev_cents) OVER (PARTITION BY cohort_m ORDER BY age
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
       |    AS cum_rev_cents
       |FROM cells""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_survival" -> (survivalDf(_, _)),
    "events_did" -> (didDf(_, _)),
    "events_streaks" -> (streaksDf(_, _)),
    "events_lorenz" -> (lorenzDf(_, _)),
    "orders_cohort_ltv" -> (cohortLtvDf(_, _)),
    "events_attribution" -> (attributionDf(_, _)),
    "events_ab_test" -> (abTestDf(_, _)),
    "events_cuped" -> (cupedDf(_, _)),
    "events_paths" -> (pathsDf(_, _)),
    "join_scd2" -> (scdJoinDf(_, _)),
    "join_salted" -> (joinSaltedDf(_, _)),
    "window_ranks" -> (windowRanksDf(_, _)),
    "events_funnel" -> (funnelDf(_, _)),
    "events_retention" -> (retentionDf(_, _)),
    "events_markov" -> (markovDf(_, _)),
    "events_scd_ranges" -> (scdRangesDf(_, _)),
    "events_dau_wau" -> (dauWauDf(_, _)),
    "events_funnel_curve" -> (funnelCurveDf(_, _)),
    "flow_zscore_keyed" -> (zscoreKeyedDf(_, _)),
    "order_rate_limit" -> (rateLimitDf(_, _)),
    "order_success_rate" -> (successRateDf(_, _)),
    "agg_salted" -> (saltedDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "events_survival" -> survivalSql,
    "events_did" -> didSql,
    "events_streaks" -> streaksSql,
    "events_lorenz" -> lorenzSql,
    "orders_cohort_ltv" -> cohortLtvSql,
    "events_attribution" -> attributionSql,
    "events_ab_test" -> abTestSql,
    "events_cuped" -> cupedSql,
    "events_paths" -> pathsSql,
    "join_scd2" -> scdJoinSql,
    "join_salted" -> joinSaltedSql,
    "window_ranks" -> windowRanksSql,
    "events_funnel" -> funnelSql,
    "events_retention" -> retentionSql,
    "events_markov" -> markovSql,
    "events_scd_ranges" -> scdRangesSql,
    "events_dau_wau" -> dauWauSql,
    "events_funnel_curve" -> funnelCurveSql,
    "flow_zscore_keyed" -> zscoreKeyedSql,
    "order_rate_limit" -> rateLimitSql,
    "order_success_rate" -> successRateSql,
    "agg_salted" -> saltedSql
  )
}
