package graft

import org.apache.spark.rdd.LocalCheckpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CurrentRow, Expression,
  RowFrame, SpecialFrameBoundary, SpecifiedWindowFrame, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.execution.{LocalTableScanExec, RDDScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{DfMemo, RollingZ}

/** Audit of single-partition window stages across EVERY declared query
  * (VERDICT r16 #4): a `Window.orderBy` with no partitionBy moves its
  * whole input to one task, which is a scale-killer iff that input is
  * corpus-sized. This spec walks all plans and asserts the two
  * properties that make the surviving ones safe:
  *
  *  1. every ORDER-only WindowExec sits above a DOMAIN-reducing
  *     boundary — a group-by aggregation (the frame is the order key's
  *     domain: time buckets, vocab, price/cell/source levels), a
  *     memoized checkpoint of such a frame, or a local relation —
  *     never above a raw corpus scan;
  *  2. the set of queries carrying such windows is pinned to the
  *     allowlist below (documented one by one in PLANS.md "r17
  *     single-partition window audit") — a NEW query or rewrite that
  *     introduces a global window fails here instead of surfacing as a
  *     WindowExec warning in production logs.
  *
  * AQE is disabled for the snapshot (AdaptiveSparkPlanExec hides its
  * inner plan from collect()); the plan shape under audit is identical.
  *
  * A second pass guards frame WIDTH: a moving ROWS frame (both bounds
  * fixed offsets) that carries an aggregate function is re-aggregated
  * over its whole buffer for every row, O(rows × width). The widest
  * legitimate ones are 60 rows (Bars `Lookback`, Trend `NormWin`); the
  * 3000-row z-score frame that cost most of a market pass is now the
  * linear [[RollingZ]] kernel, and this pass keeps it from coming back.
  * The same walk, run in persist memo mode, fails on any scan of a
  * locally checkpointed RDD: such a frame skipped `DfMemo`'s mode, so
  * off-local its blocks die with the executor, and the walk cannot see
  * the plan behind it.
  */
class WindowAuditSpec extends SparkSpec {

  /** Queries whose plans legitimately contain ORDER-only windows, each
    * a cumulative/rank pass over a domain-aggregated frame (PLANS.md
    * r17 table lists the frame and its bound for every row here). */
  private val Allowed: Set[String] = Set(
    // time-bucket cumulative passes: frame = |span / bucket width|
    "bars_atr", "bars_bollinger", "bars_drawdown", "bars_ema",
    "bars_holt", "bars_macd", "bars_rsi", "bars_rv", "bars_stochastic",
    "flow_volrate", "flow_vpin", "flow_zscore", "fsm_cum_pnl",
    "lm_bos", "lm_hurst", "trend_features", "trend_hysteresis",
    "trend_hysteresis_curve",
    // census / domain ranks: frame = value domain of the order key
    "emb_dim_stats", "events_lorenz", "events_survival",
    "ml_logreg_eval", "skyline_parts",
    // layout cells/granules: frame = metadata scale (file/cell counts)
    "layout_bloom_prune", "layout_compaction", "layout_erasure",
    "layout_prune", "layout_zorder",
    // source-level packing/reweighting: frame = |sources|
    "pipeline_manifest", "pipeline_mixture_reweight", "pipeline_shard",
    "sample_temperature",
    // vocabulary ranks: frame = |vocab| (post-aggregation)
    "text_encode", "text_vocab_coverage", "text_vocab_drift",
    "text_zipf",
    // global-total windows (`sum(x) OVER ()`) over census frames:
    // |event_type|^3 path census, k fold stats, |sources| mixture
    "events_paths", "ml_kfold", "pipeline_mixture")

  test("ORDER-only windows: domain-aggregated inputs, pinned query set") {
    val dir = sfDir()
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val flagged = scala.collection.mutable.SortedMap[String, Int]()
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan
        val wins = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        if (wins.nonEmpty) {
          flagged(name) = wins.size
          wins.foreach { w =>
            // the window's input must be domain-reduced below: an
            // aggregation, a memoized checkpoint (itself built from a
            // reduced frame — the allowlist docs carry the argument),
            // or a local relation. A raw corpus scan would appear as a
            // FileSourceScanExec leaf with none of these in between.
            val bounded = w.child.collectFirst {
              case a: BaseAggregateExec => a: Any
              case r: RDDScanExec => r: Any
              case l: LocalTableScanExec => l: Any
              // a reused exchange elides its subtree; the ORIGINAL
              // occurrence (same exchange elsewhere in this plan) is
              // audited on its own window path
              case r: ReusedExchangeExec => r: Any
            }
            assert(bounded.nonEmpty,
              s"$name: ORDER-only window over a non-aggregated " +
                s"(corpus-sized) subtree:\n${w.treeString.take(2000)}")
          }
        }
      }
      val extra = flagged.keySet.toSet -- Allowed
      assert(extra.isEmpty,
        s"queries introduced NEW single-partition windows: $extra " +
          "(prove the framed input is domain-bounded and add to the " +
          "allowlist + PLANS.md, or partition/two-level the window)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  /** Widest moving ROWS frame an aggregate may carry. */
  private val MaxMovingRows = 256L

  private def bound(e: Expression): Option[Long] = e match {
    case CurrentRow => Some(0L)
    case _: SpecialFrameBoundary => None // unbounded: a growing prefix
    case x if x.foldable => Some(x.eval().asInstanceOf[Number].longValue)
    case _ => None
  }

  /** Aggregate window expressions over moving ROWS frames wider than
    * [[MaxMovingRows]], as "width: expression". */
  private def wideFrames(w: WindowExec): Seq[String] =
    w.windowExpression.flatMap(_.collect {
      case we @ WindowExpression(_: AggregateExpression, spec) => (we, spec)
    }).flatMap { case (we, spec) =>
      spec.frameSpecification match {
        case SpecifiedWindowFrame(RowFrame, lo, hi) =>
          (for (l <- bound(lo); h <- bound(hi)) yield h - l + 1)
            .filter(_ > MaxMovingRows).map(n => s"$n rows: ${we.sql}")
        case _ => None
      }
    }

  /** Every WindowExec of a plan and every scan of a locally
    * checkpointed RDD, looking through cached (persisted memo) frames
    * and adaptive wrappers into the plans that built them. */
  private def walk(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries {
      case w: WindowExec => Seq(w)
      case r: RDDScanExec if LocalCheckpoints.isLocal(r.rdd) => Seq(r)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    }.flatten

  /** Wide moving frames, and locally checkpointed scans (whose blocks
    * are lost with their executor, and behind which the walk cannot
    * see), found in one plan walk. */
  private def wideIn(df: DataFrame): Seq[String] =
    walk(df.queryExecution.executedPlan).flatMap {
      case w: WindowExec => wideFrames(w)
      case r => Seq(s"locally checkpointed scan ${r.nodeName}: the " +
        "frame bypasses DfMemo.materializeFrame")
    }

  test("no aggregate over a moving ROWS frame wider than 256 rows, " +
      "memo frames included") {
    import spark.implicits._
    // the guard must see the old quadratic frame, and not the kernel
    val xs = (0L until 40L).toDF("x")
    def oldFrame = xs.withColumn("m",
      avg($"x").over(Window.orderBy($"x").rowsBetween(-2999, 0)))
    val old = oldFrame
    assert(wideIn(old).exists(_.startsWith("3000 rows")), wideIn(old))
    assert(wideIn(xs.withColumn("z", RollingZ.z($"x", $"x"))).isEmpty)
    // ... and a raw localCheckpoint, but not the same frame materialized
    // through DfMemo in persist mode
    assert(wideIn(old.localCheckpoint()).exists(_.startsWith("locally")))

    // persist-mode memo keeps each shared frame's plan behind its cache
    // scan (local mode truncates it), so frames built inside a memo
    // (the fusion and multi-symbol signals) are walked too; a scan of a
    // locally checkpointed RDD means a frame skipped the memo's mode —
    // unrecoverable off-local, and opaque to this walk
    val dir = sfDir()
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val modeWas = sys.props.get("graft.memo.mode")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sys.props("graft.memo.mode") = "persist"
    DfMemo.clear()
    try {
      val viaMemo = DfMemo.materializeFrame(spark, oldFrame)
      assert(wideIn(viaMemo).map(_.take(9)).distinct == Seq("3000 rows"),
        wideIn(viaMemo))
      val wide = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          wideIn(fn(spark, dir)).distinct.map(f => s"$name: $f")
      }
      if (wide.nonEmpty) fail(
        s"moving ROWS frames wider than $MaxMovingRows rows re-aggregate " +
          s"per row (O(rows × width)); use a prefix-sum form like " +
          s"RollingZ. Locally checkpointed scans hide their plan and " +
          s"lose their blocks with the executor; use " +
          s"DfMemo.materializeFrame:\n${wide.mkString("\n")}")
    } finally {
      modeWas.fold(sys.props.remove("graft.memo.mode"))(
        sys.props.put("graft.memo.mode", _))
      DfMemo.clear()
      spark.catalog.clearCache()
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }
}
