package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.OpModule

/** Distributed closed-form regression (`ml_*`): the training-side
  * counterpart of the serving-side classifiers in TextAnalysis/Trend.
  * The reference trains its trend model offline and only serves weights
  * (SURVEY §2.11); a 100 TB pipeline also needs the *fit* to run on the
  * cluster. For linear models with a handful of features the normal
  * equations make training a single aggregation: every sufficient
  * statistic (sums, cross-moments) is one map-side-combined pass over the
  * facts, and the O(D^3) solve happens per GROUP on D-sized numbers —
  * Cramer's rule inside the projection, no driver loop, no iteration, no
  * collect. This is the textbook "sufficient statistics beat gradient
  * descent at D<<N" design (e.g. Chu et al., Map-Reduce for Machine
  * Learning on Multicore, NIPS 2006).
  *
  * `ml_ols` fits extendedprice ~ quantity + discount per returnflag
  * group. Determinism is the exact-integer canon end-to-end: quantity,
  * centi-discount and centi-price are exact BIGINTs, so every sufficient
  * statistic is an order-independent integer sum (the one wide moment,
  * sum(y_c^2), accumulates as decimal(38,0) in Spark and HUGEINT in
  * DuckDB — ~6.6e20 at sf1 overflows int64); both engines then run the
  * IDENTICAL textual double-op sequence (shared selectExpr strings) over
  * identical integers, so betas/R^2 match bitwise. Groups with a singular
  * normal matrix (collinear or constant features) yield NULL betas on
  * both sides rather than a 0/0.
  */
object Regress extends OpModule {

  // Stage 2: exact integer sums -> natural-unit double moments.
  // quantity is whole units; discount and price carry 2 decimals, so the
  // integer sums rescale by the matching power of 100 — each a single
  // double division on an exactly-represented operand.
  private val olsMoments: Seq[String] = Seq(
    "l_returnflag",
    "n",
    "cast(sq_i as double) as sq",
    "cast(sd_i as double) / 100.0 as sd",
    "cast(sy_i as double) / 100.0 as sy",
    "cast(sqq_i as double) as sqq",
    "cast(sqd_i as double) / 100.0 as sqd",
    "cast(sdd_i as double) / 10000.0 as sdd",
    "cast(sqy_i as double) / 100.0 as sqy",
    "cast(sdy_i as double) / 10000.0 as sdy",
    "cast(syy_w as double) / 10000.0 as syy")

  // Stage 3: centered second moments (better conditioned than raw).
  private val olsCentered: Seq[String] = Seq(
    "l_returnflag", "n", "sq", "sd", "sy",
    "sqq - sq * sq / n as cqq",
    "sqd - sq * sd / n as cqd",
    "sdd - sd * sd / n as cdd",
    "sqy - sq * sy / n as cqy",
    "sdy - sd * sy / n as cdy",
    "syy - sy * sy / n as cyy")

  // Stage 4: Cramer solve of the centered 2x2 system.
  private val olsBetas: Seq[String] = Seq(
    "l_returnflag", "n", "sq", "sd", "sy", "cqy", "cdy", "cyy",
    "cqq * cdd - cqd * cqd as det",
    "case when cqq * cdd - cqd * cqd <> 0.0 then (cqy * cdd - cdy * cqd) / (cqq * cdd - cqd * cqd) end as beta_qty",
    "case when cqq * cdd - cqd * cqd <> 0.0 then (cdy * cqq - cqy * cqd) / (cqq * cdd - cqd * cqd) end as beta_disc")

  // Stage 5: intercept, fit quality.
  private val olsFinal: Seq[String] = Seq(
    "l_returnflag",
    "n",
    "case when det <> 0.0 then (sy - beta_qty * sq - beta_disc * sd) / n end as intercept",
    "beta_qty",
    "beta_disc",
    "case when det <> 0.0 and cyy > 0.0 then 1.0 - (cyy - beta_qty * cqy - beta_disc * cdy) / cyy end as r2",
    "case when det <> 0.0 then sqrt(greatest(cyy - beta_qty * cqy - beta_disc * cdy, 0.0) / n) end as rmse")

  /** Shared sufficient-statistics frame: one aggregation over lineitem,
    * then the natural-unit and centered-moment projections. */
  private def statsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select(
        $"l_returnflag",
        round($"l_quantity").cast("long").as("q_i"),
        round($"l_discount" * 100).cast("long").as("d_i"),
        round($"l_extendedprice" * 100).cast("long").as("y_i"))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum($"q_i").as("sq_i"),
        sum($"d_i").as("sd_i"),
        sum($"y_i").as("sy_i"),
        sum($"q_i" * $"q_i").as("sqq_i"),
        sum($"q_i" * $"d_i").as("sqd_i"),
        sum($"d_i" * $"d_i").as("sdd_i"),
        sum($"q_i" * $"y_i").as("sqy_i"),
        sum($"d_i" * $"y_i").as("sdy_i"),
        sum(($"y_i" * $"y_i").cast("decimal(38,0)")).as("syy_w"))
      .selectExpr(olsMoments: _*)
      .selectExpr(olsCentered: _*)
  }

  /** `ml_ols`: per-returnflag OLS of extendedprice on (quantity, discount)
    * via normal equations — one aggregation over lineitem, then a
    * constant-size per-group Cramer solve. */
  private[operators] def olsDf(spark: SparkSession, dir: String): DataFrame =
    statsDf(spark, dir)
      .selectExpr(olsBetas: _*)
      .selectExpr(olsFinal: _*)

  // Ridge stages: penalty lambda = frac * trace(C), so the dial is
  // scale-free (the same fracs mean the same shrinkage at any SF);
  // the intercept is unpenalized, the standard formulation.
  private val ridgeAug: Seq[String] = Seq(
    "l_returnflag", "frac", "n", "sq", "sd", "sy", "cqd", "cqy", "cdy", "cyy",
    "cqq", "cdd",
    "cqq + frac * (cqq + cdd) as aqq",
    "cdd + frac * (cqq + cdd) as adr")

  private val ridgeBetas: Seq[String] = Seq(
    "l_returnflag", "frac", "n", "sq", "sd", "sy", "cqd", "cqy", "cdy", "cyy",
    "cqq", "cdd",
    "aqq * adr - cqd * cqd as det",
    "case when aqq * adr - cqd * cqd <> 0.0 then (cqy * adr - cdy * cqd) / (aqq * adr - cqd * cqd) end as beta_qty",
    "case when aqq * adr - cqd * cqd <> 0.0 then (cdy * aqq - cqy * cqd) / (aqq * adr - cqd * cqd) end as beta_disc")

  // Ridge betas are not the least-squares optimum, so in-sample error
  // needs the full quadratic form, not the shortcut cyy - b.c.
  private val ridgeFinal: Seq[String] = Seq(
    "l_returnflag",
    "frac",
    "case when det <> 0.0 then (sy - beta_qty * sq - beta_disc * sd) / n end as intercept",
    "beta_qty",
    "beta_disc",
    "case when det <> 0.0 then sqrt(beta_qty * beta_qty + beta_disc * beta_disc) end as beta_norm",
    "case when det <> 0.0 and cyy > 0.0 then 1.0 - (cyy - 2.0 * (beta_qty * cqy + beta_disc * cdy) + beta_qty * beta_qty * cqq + 2.0 * beta_qty * beta_disc * cqd + beta_disc * beta_disc * cdd) / cyy end as r2")

  /** `ml_ridge_curve`: the regularization dial priced off ONE sufficient-
    * statistics pass — the 4-point lambda grid (0, 1%, 10%, 100% of
    * trace(C)) fans out AFTER the aggregation, so pricing the dial costs
    * a 12-row projection, not four scans. beta_norm is provably
    * non-increasing in frac (spec-asserted); frac = 0 reproduces `ml_ols`
    * exactly. */
  private[operators] def ridgeCurveDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    statsDf(spark, dir)
      .withColumn("frac",
        explode(array(lit(0.0), lit(0.01), lit(0.1), lit(1.0))))
      .selectExpr(ridgeAug: _*)
      .selectExpr(ridgeBetas: _*)
      .selectExpr(ridgeFinal: _*)
  }

  private val statsSql: String =
    s"""r AS (SELECT l_returnflag,
       |    round(l_quantity)::BIGINT AS q_i,
       |    round(l_discount * 100)::BIGINT AS d_i,
       |    round(l_extendedprice * 100)::BIGINT AS y_i
       |  FROM lineitem),
       |a AS (SELECT l_returnflag, count(*) AS n,
       |    sum(q_i)::BIGINT AS sq_i, sum(d_i)::BIGINT AS sd_i,
       |    sum(y_i)::BIGINT AS sy_i,
       |    sum(q_i * q_i)::BIGINT AS sqq_i, sum(q_i * d_i)::BIGINT AS sqd_i,
       |    sum(d_i * d_i)::BIGINT AS sdd_i, sum(q_i * y_i)::BIGINT AS sqy_i,
       |    sum(d_i * y_i)::BIGINT AS sdy_i,
       |    sum(y_i::HUGEINT * y_i::HUGEINT) AS syy_w
       |  FROM r GROUP BY 1),
       |m AS (SELECT ${olsMoments.mkString(", ")} FROM a),
       |c AS (SELECT ${olsCentered.mkString(", ")} FROM m)""".stripMargin

  private[operators] val ridgeCurveSql: String =
    s"""WITH $statsSql,
       |g AS (SELECT c.*, f.frac FROM c
       |      CROSS JOIN (VALUES (0.0), (0.01), (0.1), (1.0)) AS f(frac)),
       |ra AS (SELECT ${ridgeAug.mkString(", ")} FROM g),
       |rb AS (SELECT ${ridgeBetas.mkString(", ")} FROM ra)
       |SELECT ${ridgeFinal.mkString(", ")} FROM rb""".stripMargin

  private[operators] val olsSql: String =
    s"""WITH $statsSql,
       |b AS (SELECT ${olsBetas.mkString(", ")} FROM c)
       |SELECT ${olsFinal.mkString(", ")} FROM b""".stripMargin

  // ---------------------------------------------------------------------
  // ml_logreg: distributed logistic regression by Newton/IRLS steps.
  // ---------------------------------------------------------------------

  /** Newton iterations; logistic Newton converges quadratically, and the
    * audit columns prove 4 is past the flooring noise floor. */
  val LogregIters = 4

  // Per-row feature projection: exact integers cast to identical doubles
  // on both engines (the label is 1.0 for returned lines).
  private[graft] val lrBase: Seq[String] = Seq(
    "case when l_returnflag = 'R' then 1.0 else 0.0 end as y",
    "cast(round(l_quantity) as double) as q",
    "cast(round(l_discount * 100) as double) / 100.0 as d")

  // p under the entering weights, clamped away from 0/1 so the log-loss
  // term is always finite. ONE textual op sequence, shared by training,
  // evaluation and the streaming scorer (Streams.modelMonitor) so a
  // served score can never disagree with the trainer's.
  private[graft] val lrPExpr: String =
    "greatest(least(1.0 / (1.0 + exp(-(b0 + bq * q + bd * d))), 1.0 - 1e-12), 1e-12) as p"

  private val lrP: Seq[String] = Seq("y", "q", "d", "b0", "bq", "bd", lrPExpr)

  // Every per-row contribution floors to 1e-6 integer units BEFORE the
  // sums, so exp()/ln() ulp differences across engines never reach the
  // order-independent BIGINT aggregation (the TF-IDF canon, applied to
  // training): gradient g = sum (y-p)x, Hessian H = sum p(1-p) xx^T,
  // plus the entering-weights log-loss.
  private val lrTerms: Seq[String] = Seq("b0", "bq", "bd",
    "cast(floor((y - p) * 1e6) as bigint) as t_g0",
    "cast(floor((y - p) * q * 1e6) as bigint) as t_g1",
    "cast(floor((y - p) * d * 1e6) as bigint) as t_g2",
    "cast(floor(p * (1.0 - p) * 1e6) as bigint) as t_ha",
    "cast(floor(p * (1.0 - p) * q * 1e6) as bigint) as t_hb",
    "cast(floor(p * (1.0 - p) * d * 1e6) as bigint) as t_hc",
    "cast(floor(p * (1.0 - p) * q * q * 1e6) as bigint) as t_hd",
    "cast(floor(p * (1.0 - p) * q * d * 1e6) as bigint) as t_he",
    "cast(floor(p * (1.0 - p) * d * d * 1e6) as bigint) as t_hf",
    "cast(floor(-(y * ln(p) + (1.0 - y) * ln(1.0 - p)) * 1e6) as bigint) as t_ll")

  private val lrNaturals: Seq[String] = Seq("b0", "bq", "bd", "n",
    "cast(sg0 as double) / 1e6 as g0",
    "cast(sg1 as double) / 1e6 as g1",
    "cast(sg2 as double) / 1e6 as g2",
    "cast(sha as double) / 1e6 as ha",
    "cast(shb as double) / 1e6 as hb",
    "cast(shc as double) / 1e6 as hc",
    "cast(shd as double) / 1e6 as hd",
    "cast(she as double) / 1e6 as he",
    "cast(shf as double) / 1e6 as hf",
    "cast(sll as double) / 1e6 / n as logloss")

  // Cramer's rule on the symmetric 3x3 Hessian [ha hb hc; hb hd he; hc he hf].
  private val lrSolve: Seq[String] = Seq("b0", "bq", "bd", "n", "logloss",
    "ha * (hd * hf - he * he) - hb * (hb * hf - he * hc) + hc * (hb * he - hd * hc) as det",
    "g0 * (hd * hf - he * he) - hb * (g1 * hf - he * g2) + hc * (g1 * he - hd * g2) as det0",
    "ha * (g1 * hf - he * g2) - g0 * (hb * hf - he * hc) + hc * (hb * g2 - g1 * hc) as det1",
    "ha * (hd * g2 - he * g1) - hb * (hb * g2 - g1 * hc) + g0 * (hb * he - hd * hc) as det2")

  private val lrStep: Seq[String] = Seq("n", "logloss",
    "case when det <> 0.0 then b0 + det0 / det end as b0",
    "case when det <> 0.0 then bq + det1 / det end as bq",
    "case when det <> 0.0 then bd + det2 / det end as bd",
    "case when det <> 0.0 then sqrt((det0 / det) * (det0 / det) + (det1 / det) * (det1 / det) + (det2 / det) * (det2 / det)) end as delta_norm")

  private val lrOut: Seq[String] = Seq("iter",
    "b0 as intercept", "bq as beta_qty", "bd as beta_disc",
    "delta_norm", "logloss")

  /** `ml_logreg`: logistic regression of is-returned on (quantity,
    * discount), trained ON the cluster by `LogregIters` unrolled Newton
    * steps — per step ONE map-side-combined aggregation of 10 floored
    * integer sufficient statistics, the 3x3 Cramer solve in the
    * projection, and the 1-row weights frame memoized so step
    * k+1's scan is the only rescan (the pagerank unroll lesson inverted:
    * here each level costs a full fact scan, so caching the O(1) state
    * beats one giant plan). Output is the per-iteration audit — weights,
    * Newton-delta norm and ENTERING-weights log-loss — so convergence is
    * measured, not asserted: logloss(iter 1) = floor(ln 2 * 1e6)/1e6
    * exactly (all-zero weights give p = 0.5), and the spec requires the
    * loss strictly decreasing and the delta norm collapsing. Oracle
    * replays every level as chained CTEs over a MATERIALIZED base. */
  private[operators] def logregDf(spark: SparkSession, dir: String): DataFrame = {
    val steps = logregChain(spark, dir)
    steps.zipWithIndex
      .map { case (s, i) =>
        s.selectExpr((s"${i + 1} as iter" +: lrOut.tail): _*)
      }
      .reduce(_ union _)
  }

  /** The once-materialized design matrix: 3 doubles/row so each Newton
    * step scans memory, not parquet — the standard "cache the design
    * matrix before IRLS" move; at cluster scale the same call is a
    * .persist over executors. Memoized per (session, dir): the trainer,
    * the evaluator and the audit all start here. */
  private def lrBaseDf(spark: SparkSession, dir: String): DataFrame =
    graft.functions.DfMemo.cached(spark, s"lr_base:$dir")(
      Tables.lineitem(spark, dir).selectExpr(lrBase: _*))

  /** The Newton chain: K memoized 1-row step frames (weights + audit),
    * shared by the trainer output and the evaluator — training runs
    * once per (session, dir) even when both queries execute. */
  private def logregChain(spark: SparkSession, dir: String): Seq[DataFrame] = {
    import spark.implicits._
    lazy val base = lrBaseDf(spark, dir)
    val w0 = spark.range(1).selectExpr(
      "0.0 as b0", "0.0 as bq", "0.0 as bd")
    var k = 0
    (1 to LogregIters).scanLeft(w0) { (w, _) =>
      k += 1
      graft.functions.DfMemo.cached(spark, s"lr_step$k:$dir")(
        base.crossJoin(broadcast(w.select("b0", "bq", "bd")))
          .selectExpr(lrP: _*)
          .selectExpr(lrTerms: _*)
          .groupBy($"b0", $"bq", $"bd")
          .agg(count(lit(1)).as("n"),
            sum($"t_g0").as("sg0"), sum($"t_g1").as("sg1"),
            sum($"t_g2").as("sg2"), sum($"t_ha").as("sha"),
            sum($"t_hb").as("shb"), sum($"t_hc").as("shc"),
            sum($"t_hd").as("shd"), sum($"t_he").as("she"),
            sum($"t_hf").as("shf"), sum($"t_ll").as("sll"))
          .selectExpr(lrNaturals: _*)
          .selectExpr(lrSolve: _*)
          .selectExpr(lrStep: _*))
    }.drop(1)
  }

  // The full training replay as a CTE prefix (base, w0, all K levels) —
  // shared by the trainer oracle and the evaluator oracle.
  private val lrChainSql: String = {
    val levels = (1 to LogregIters).map { k =>
      s"""p$k AS (SELECT ${lrP.mkString(", ")} FROM base, w${k - 1}),
         |t$k AS (SELECT ${lrTerms.mkString(", ")} FROM p$k),
         |a$k AS (SELECT b0, bq, bd, count(*) AS n,
         |  sum(t_g0)::BIGINT AS sg0, sum(t_g1)::BIGINT AS sg1,
         |  sum(t_g2)::BIGINT AS sg2, sum(t_ha)::BIGINT AS sha,
         |  sum(t_hb)::BIGINT AS shb, sum(t_hc)::BIGINT AS shc,
         |  sum(t_hd)::BIGINT AS shd, sum(t_he)::BIGINT AS she,
         |  sum(t_hf)::BIGINT AS shf, sum(t_ll)::BIGINT AS sll
         |  FROM t$k GROUP BY 1, 2, 3),
         |n$k AS (SELECT ${lrNaturals.mkString(", ")} FROM a$k),
         |s$k AS (SELECT ${lrSolve.mkString(", ")} FROM n$k),
         |w$k AS (SELECT ${lrStep.mkString(", ")} FROM s$k)""".stripMargin
    }.mkString(",\n")
    s"""base AS MATERIALIZED (SELECT ${lrBase.mkString(", ")} FROM lineitem),
       |w0 AS (SELECT 0.0 AS b0, 0.0 AS bq, 0.0 AS bd),
       |$levels""".stripMargin
  }

  private[operators] val logregSql: String = {
    val union = (1 to LogregIters)
      .map(k => s"SELECT ${(s"$k as iter" +: lrOut.tail).mkString(", ")} FROM w$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $lrChainSql
       |$union""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ml_logreg_eval: confusion matrix + exact tie-aware AUC.
  // ---------------------------------------------------------------------

  // Per-(q,d) cell score under the final weights: the identical textual
  // sequence as training's p, so both engines order cells identically
  // (w is bit-identical, q/d exact — no ulp lottery in the rank).
  private val lrCellP: Seq[String] =
    Seq("q", "d", "n", "pos", "n - pos as neg", lrPExpr)

  // num2 = Σ pos·(2·cum_neg_below + neg). The factors widen BEFORE the
  // multiply — pos and cumneg are both O(rows), so the per-group
  // product wraps int64 near 3e9 rows; decimal(38,0) (HUGEINT in the
  // oracle, which cannot multiply two DECIMAL(38,0)s) holds to 1e38,
  // mirroring the lorenz trapezoid. The confusion counters stay int64
  // (each is ≤ rows) and share text across engines.
  private val lrEvalAggShared: Seq[String] = Seq(
    "sum(case when p >= 0.5 then pos else 0 end) as tp",
    "sum(case when p >= 0.5 then neg else 0 end) as fp",
    "sum(case when p < 0.5 then pos else 0 end) as fn",
    "sum(case when p < 0.5 then neg else 0 end) as tn")
  private val lrEvalNum2Spark: String =
    "sum(cast(pos as decimal(38,0)) * (2 * cast(cumneg as decimal(38,0)) + neg)) as num2"
  private val lrEvalNum2Duck: String =
    "sum(pos::HUGEINT * (2 * cumneg::HUGEINT + neg)) AS num2"

  private val lrEvalFinal: Seq[String] = Seq(
    "cast(tp as bigint) as tp", "cast(fp as bigint) as fp",
    "cast(fn as bigint) as fn", "cast(tn as bigint) as tn",
    "cast(tp + tn as double) / (tp + fp + fn + tn) as accuracy",
    "case when tp + fn > 0 and fp + tn > 0 then cast(num2 as double) / (2.0 * cast(tp + fn as double) * cast(fp + tn as double)) end as auc")

  /** `ml_logreg_eval`: the evaluate step of the logistic lifecycle —
    * confusion matrix at the 0.5 threshold and the EXACT tie-aware AUC.
    * The global rank-sum that makes AUC look sort-shaped collapses to a
    * census over the discrete (quantity, centi-discount) feature cells
    * (≤ 50×11 rows at any corpus size), so the evaluation is one more
    * aggregation over the already-materialized design matrix plus
    * windows over a constant-size frame. Ties get the standard half
    * credit via pos·(2·cum_neg_below + neg)/2, and tie detection is by
    * the SCORE itself: cells whose p is bitwise equal are merged
    * before the rank-sum (both engines compute p through the identical
    * textual expression over exact integers, so "equal" agrees), so
    * half credit applies across cells, not just within one. */
  private[operators] def logregEvalDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = lrBaseDf(spark, dir)
    val wFinal = logregChain(spark, dir).last.select("b0", "bq", "bd")
    val cells = base.groupBy($"q", $"d")
      .agg(count(lit(1)).as("n"), sum($"y".cast("long")).as("pos"))
      .crossJoin(broadcast(wFinal))
      .selectExpr(lrCellP: _*)
    // merge bitwise-equal scores: the AUC rank orders by p ALONE, so
    // any (q,d) tiebreak would turn a genuine tie into full/zero credit
    val byP = cells.groupBy($"p")
      .agg(sum($"pos").as("pos"), sum($"neg").as("neg"))
    val wOrd = Window.orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val aggs = lrEvalAggShared :+ lrEvalNum2Spark
    byP
      .withColumn("cumneg", coalesce(sum($"neg").over(wOrd), lit(0L)))
      .groupBy()
      .agg(expr(aggs.head), aggs.tail.map(expr): _*)
      .selectExpr(lrEvalFinal: _*)
  }

  private[operators] val logregEvalSql: String =
    s"""WITH $lrChainSql,
       |cells AS (SELECT q, d, count(*) AS n, sum(y)::BIGINT AS pos
       |  FROM base GROUP BY 1, 2),
       |cp AS (SELECT ${lrCellP.mkString(", ")}
       |  FROM cells, (SELECT b0, bq, bd FROM w$LogregIters) w),
       |byp AS (SELECT p, sum(pos)::BIGINT AS pos, sum(neg)::BIGINT AS neg
       |  FROM cp GROUP BY 1),
       |cn AS (SELECT *, coalesce(sum(neg) OVER (ORDER BY p
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cumneg
       |  FROM byp),
       |ag AS (SELECT ${(lrEvalAggShared :+ lrEvalNum2Duck).mkString(", ")} FROM cn)
       |SELECT ${lrEvalFinal.mkString(", ")} FROM ag""".stripMargin

  // ---------------------------------------------------------------------
  // ml_kfold: K models from ONE scan via complement sufficient statistics.
  // ---------------------------------------------------------------------

  /** Cross-validation folds (assignment: l_orderkey % K, so a whole
    * order moves together — the group-aware-split rule). */
  val KFolds = 5

  // Complement (train) integer sums: total-over-all-folds minus this
  // fold's own, via a window over the K-row frame — the subtraction is
  // exact integer algebra, so "train on K-1 folds" never rescans facts.
  private val kfComplement: Seq[String] =
    Seq("fold", "n", "sq_i", "sd_i", "sy_i", "sqq_i", "sqd_i", "sdd_i",
      "sqy_i", "sdy_i", "syy_w") ++
      Seq("n", "sq_i", "sd_i", "sy_i", "sqq_i", "sqd_i", "sdd_i",
        "sqy_i", "sdy_i", "syy_w")
        .map(c => s"sum($c) over () - $c as t_$c")

  // Natural-unit doubles for BOTH sides of the split: t* = train
  // (complement) moments feeding the solver, e* = the held fold's own
  // moments feeding the evaluation quadratic.
  private val kfMoments: Seq[String] = Seq(
    "fold",
    "cast(t_n as bigint) as trn",
    "cast(t_sq_i as double) as tsq",
    "cast(t_sd_i as double) / 100.0 as tsd",
    "cast(t_sy_i as double) / 100.0 as tsy",
    "cast(t_sqq_i as double) as tsqq",
    "cast(t_sqd_i as double) / 100.0 as tsqd",
    "cast(t_sdd_i as double) / 10000.0 as tsdd",
    "cast(t_sqy_i as double) / 100.0 as tsqy",
    "cast(t_sdy_i as double) / 10000.0 as tsdy",
    "n as en",
    "cast(sq_i as double) as esq",
    "cast(sd_i as double) / 100.0 as esd",
    "cast(sy_i as double) / 100.0 as esy",
    "cast(sqq_i as double) as esqq",
    "cast(sqd_i as double) / 100.0 as esqd",
    "cast(sdd_i as double) / 10000.0 as esdd",
    "cast(sqy_i as double) / 100.0 as esqy",
    "cast(sdy_i as double) / 10000.0 as esdy",
    "cast(syy_w as double) / 10000.0 as esyy")

  private val kfCarry =
    Seq("fold", "trn", "tsq", "tsd", "tsy", "en", "esq", "esd", "esy",
      "esqq", "esqd", "esdd", "esqy", "esdy", "esyy")

  private val kfCentered: Seq[String] = kfCarry ++ Seq(
    "tsqq - tsq * tsq / trn as cqq",
    "tsqd - tsq * tsd / trn as cqd",
    "tsdd - tsd * tsd / trn as cdd",
    "tsqy - tsq * tsy / trn as cqy",
    "tsdy - tsd * tsy / trn as cdy")

  private val kfBetas: Seq[String] = kfCarry ++ Seq(
    "case when cqq * cdd - cqd * cqd <> 0.0 then (cqy * cdd - cdy * cqd) / (cqq * cdd - cqd * cqd) end as b1",
    "case when cqq * cdd - cqd * cqd <> 0.0 then (cdy * cqq - cqy * cqd) / (cqq * cdd - cqd * cqd) end as b2")

  private val kfIntercept: Seq[String] = kfCarry ++ Seq("b1", "b2",
    "(tsy - b1 * tsq - b2 * tsd) / trn as b0")

  // Held-fold SSE expanded in the fold's OWN sufficient statistics —
  // evaluation is a projection, never a second pass over the rows.
  private val kfSse: Seq[String] = Seq("fold", "trn", "en", "b0", "b1", "b2", "esy", "esyy",
    "esyy + b0 * b0 * en + b1 * b1 * esqq + b2 * b2 * esdd - 2.0 * b0 * esy - 2.0 * b1 * esqy - 2.0 * b2 * esdy + 2.0 * b0 * b1 * esq + 2.0 * b0 * b2 * esd + 2.0 * b1 * b2 * esqd as sse")

  private val kfFinal: Seq[String] = Seq(
    "fold",
    "trn as n_train",
    "en as n_test",
    "b0 as intercept",
    "b1 as beta_qty",
    "b2 as beta_disc",
    "sqrt(greatest(sse, 0.0) / en) as rmse_test",
    "case when esyy - esy * esy / en > 0.0 then 1.0 - sse / (esyy - esy * esy / en) end as r2_test")

  /** `ml_kfold`: K-fold cross-validation of the OLS fit where ALL K
    * models and ALL K held-fold evaluations come from ONE aggregation
    * pass — per-fold sufficient statistics, complement subtraction for
    * each training set, Cramer solve per fold, and the held-fold SSE
    * expanded in the fold's own moments. The classical "K scans for K
    * folds" becomes one scan plus a K-row window; at 100 TB that is the
    * difference between cross-validating and not. */
  private[operators] def kfoldDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select(
        (col("l_orderkey") % KFolds).as("fold"),
        round($"l_quantity").cast("long").as("q_i"),
        round($"l_discount" * 100).cast("long").as("d_i"),
        round($"l_extendedprice" * 100).cast("long").as("y_i"))
      .groupBy($"fold")
      .agg(
        count(lit(1)).as("n"),
        sum($"q_i").as("sq_i"),
        sum($"d_i").as("sd_i"),
        sum($"y_i").as("sy_i"),
        sum($"q_i" * $"q_i").as("sqq_i"),
        sum($"q_i" * $"d_i").as("sqd_i"),
        sum($"d_i" * $"d_i").as("sdd_i"),
        sum($"q_i" * $"y_i").as("sqy_i"),
        sum($"d_i" * $"y_i").as("sdy_i"),
        sum(($"y_i" * $"y_i").cast("decimal(38,0)")).as("syy_w"))
      .selectExpr(kfComplement: _*)
      .selectExpr(kfMoments: _*)
      .selectExpr(kfCentered: _*)
      .selectExpr(kfBetas: _*)
      .selectExpr(kfIntercept: _*)
      .selectExpr(kfSse: _*)
      .selectExpr(kfFinal: _*)
  }

  private[operators] val kfoldSql: String =
    s"""WITH r AS (SELECT l_orderkey % $KFolds AS fold,
       |    round(l_quantity)::BIGINT AS q_i,
       |    round(l_discount * 100)::BIGINT AS d_i,
       |    round(l_extendedprice * 100)::BIGINT AS y_i
       |  FROM lineitem),
       |a AS (SELECT fold, count(*) AS n,
       |    sum(q_i)::BIGINT AS sq_i, sum(d_i)::BIGINT AS sd_i,
       |    sum(y_i)::BIGINT AS sy_i,
       |    sum(q_i * q_i)::BIGINT AS sqq_i, sum(q_i * d_i)::BIGINT AS sqd_i,
       |    sum(d_i * d_i)::BIGINT AS sdd_i, sum(q_i * y_i)::BIGINT AS sqy_i,
       |    sum(d_i * y_i)::BIGINT AS sdy_i,
       |    sum(y_i::HUGEINT * y_i::HUGEINT) AS syy_w
       |  FROM r GROUP BY 1),
       |tc AS (SELECT ${kfComplement.mkString(", ")} FROM a),
       |m AS (SELECT ${kfMoments.mkString(", ")} FROM tc),
       |c AS (SELECT ${kfCentered.mkString(", ")} FROM m),
       |b AS (SELECT ${kfBetas.mkString(", ")} FROM c),
       |i AS (SELECT ${kfIntercept.mkString(", ")} FROM b),
       |s AS (SELECT ${kfSse.mkString(", ")} FROM i)
       |SELECT ${kfFinal.mkString(", ")} FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // docs_quality_probe: can the cheap heuristic replace the LM gate?
  // ---------------------------------------------------------------------

  // Per-row floors to 1e-6 units: quality and xent are deterministic
  // per row (exact-rational blends on both engines) but double SUMS are
  // not — the logreg canon again.
  private val qpFloor: Seq[String] = Seq("source",
    "cast(floor(quality * 1e6) as bigint) as x_i",
    "cast(floor(xent * 1e6) as bigint) as y_i")

  private val qpNaturals: Seq[String] = Seq("source", "n",
    "cast(sx_i as double) / 1e6 as sx",
    "cast(sy_i as double) / 1e6 as sy",
    "cast(sxx_w as double) / 1e12 as sxx",
    "cast(sxy_w as double) / 1e12 as sxy",
    "cast(syy_w as double) / 1e12 as syy")

  private val qpCentered: Seq[String] = Seq("source", "n", "sx", "sy",
    "sxx - sx * sx / n as cxx",
    "sxy - sx * sy / n as cxy",
    "syy - sy * sy / n as cyy")

  private val qpFinal: Seq[String] = Seq(
    "source",
    "n as n_docs",
    "case when cxx > 0.0 then cxy / cxx end as slope",
    "case when cxx > 0.0 then (sy - (cxy / cxx) * sx) / n end as intercept",
    "case when cxx > 0.0 and cyy > 0.0 then (cxy * cxy) / (cxx * cyy) end as r2")

  /** `docs_quality_probe`: per-source linear probe of the unigram-LM
    * cross-entropy gate on the cheap heuristic quality blend — the
    * pipeline-governance question "how much of the expensive gate does
    * the cheap one explain?", answered with a measured R² instead of a
    * hunch. Composes two memoized text frames (quality, xent) with the
    * regression canon: per-row floors, per-source integer sufficient
    * statistics (wide moments on decimal/HUGEINT), slope/intercept/R²
    * from one shared textual op sequence. One join-shaped pass; the
    * regression itself is a projection of a |sources|-row frame. */
  private[operators] def qualityProbeDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = TextAnalysis.queries("text_quality")(spark, dir)
      .select($"doc_id", $"quality")
    val xent = TextAnalysis.queries("text_unigram_xent")(spark, dir)
      .select($"doc_id", $"xent")
    Tables.documents(spark, dir).select($"doc_id", $"source")
      .join(feats, Seq("doc_id"))
      .join(xent, Seq("doc_id"))
      .filter($"quality".isNotNull && $"xent".isNotNull)
      .selectExpr(qpFloor: _*)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n"),
        sum($"x_i").as("sx_i"),
        sum($"y_i").as("sy_i"),
        sum(($"x_i" * $"x_i").cast("decimal(38,0)")).as("sxx_w"),
        sum(($"x_i" * $"y_i").cast("decimal(38,0)")).as("sxy_w"),
        sum(($"y_i" * $"y_i").cast("decimal(38,0)")).as("syy_w"))
      .selectExpr(qpNaturals: _*)
      .selectExpr(qpCentered: _*)
      .selectExpr(qpFinal: _*)
  }

  private[operators] val qualityProbeSql: String =
    s"""WITH q AS (${TextAnalysis.oracles("text_quality")}),
       |x AS (${TextAnalysis.oracles("text_unigram_xent")}),
       |j AS (SELECT d.source, q.quality, x.xent
       |  FROM documents d
       |  JOIN q ON q.doc_id = d.doc_id
       |  JOIN x ON x.doc_id = d.doc_id
       |  WHERE q.quality IS NOT NULL AND x.xent IS NOT NULL),
       |f AS (SELECT ${qpFloor.mkString(", ")} FROM j),
       |a AS (SELECT source, count(*) AS n,
       |    sum(x_i)::BIGINT AS sx_i, sum(y_i)::BIGINT AS sy_i,
       |    sum(x_i::HUGEINT * x_i::HUGEINT) AS sxx_w,
       |    sum(x_i::HUGEINT * y_i::HUGEINT) AS sxy_w,
       |    sum(y_i::HUGEINT * y_i::HUGEINT) AS syy_w
       |  FROM f GROUP BY 1),
       |m AS (SELECT ${qpNaturals.mkString(", ")} FROM a),
       |c AS (SELECT ${qpCentered.mkString(", ")} FROM m)
       |SELECT ${qpFinal.mkString(", ")} FROM c""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_ols" -> (olsDf(_, _)),
    "ml_ridge_curve" -> (ridgeCurveDf(_, _)),
    "ml_logreg" -> (logregDf(_, _)),
    "ml_logreg_eval" -> (logregEvalDf(_, _)),
    "ml_kfold" -> (kfoldDf(_, _)),
    "docs_quality_probe" -> (qualityProbeDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "ml_ols" -> olsSql,
    "ml_ridge_curve" -> ridgeCurveSql,
    "ml_logreg" -> logregSql,
    "ml_logreg_eval" -> logregEvalSql,
    "ml_kfold" -> kfoldSql,
    "docs_quality_probe" -> qualityProbeSql
  )
}
