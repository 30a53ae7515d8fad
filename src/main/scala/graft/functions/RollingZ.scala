package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Trailing-window population z-score (ddof 0) in linear time — the one
  * estimator behind `flow_zscore`, `flow_zscore_keyed` and `fused_multi`
  * (the reference's 3000-sample deque, strategy.py:1022-1044).
  *
  * A sliding `rowsBetween(-(w-1), 0)` frame re-aggregates its whole
  * buffer for every row in Spark (O(rows × w)). This kernel instead keeps
  * the window's sufficient statistics as differences of prefix sums:
  * `S(k) = Σ x` over rows `(-∞, k]`, and the trailing `w` rows are
  * `S(0) − S(−w)`. Both prefixes are `rowsBetween(unboundedPreceding, ·)`
  * frames, which Spark grows incrementally, so one `WindowExec` with no
  * nested window evaluates the whole kernel in O(rows).
  *
  * Exactness: the input is an integral LONG (the callers' taker delta in
  * cents, exact because `events.value` has 2-decimal provenance,
  * FIXTURES.md §B), so with `n` = window population, `s1 = Σx`,
  * `s2 = Σx²` over the window,
  *
  *   z = (n·x − s1) / sqrt(n·s2 − s1²)
  *
  * is `(x − mean) / stddev_pop` with numerator and variance numerator
  * computed exactly — no cancelling difference of doubles, so the prefix
  * differencing adds no error. Only the final division and square root
  * round (one ulp each), and `z` is scale-invariant, so it agrees with a
  * double estimator over the same deltas in units; the output is
  * quantized with `round(z, 6)` like every cross-engine z in this repo.
  * The variance is zero (z NULL) exactly when every value in the window
  * is equal.
  *
  * Overflow: `x` and every sum, product and difference above are
  * DECIMAL(38,0), never a wrapping long. `x²` of any long fits
  * (< 8.6e37). The prefix `Σx²` holds 1e12 rows of |x| ≤ 1e13 cents
  * (1e11 currency units a bucket), and `n·s2`, `s1²` ≤ w²·x² stay below
  * 10^38 for |x| < 3e15 cents at w = 3000 — far past one partition of
  * 10-minute buckets at the 100 TB design point. A value past 10^38
  * fails the query: under ANSI (the Spark 4 default) the decimal
  * arithmetic raises; with ANSI off it turns NULL, which the
  * `raise_error` branch below turns into the same failure instead of a
  * silently missing z.
  */
object RollingZ {

  /** The reference's population and minimum (strategy.py:58, :1024). */
  val Pop = 3000
  val MinPop = 30

  private val Exact = DecimalType(38, 0)

  /** `round(z, 6)` of `x` against the trailing [[Pop]] rows (current
    * row included) of its partition in `order`; NULL below [[MinPop]]
    * non-null values or when the window's variance is zero. `x` must be
    * integral; `order` must be unique within a partition (a ROWS frame
    * over ties is nondeterministic). */
  def z(x: Column, order: Column, partition: Option[Column] = None): Column = {
    val w = partition.fold(Window.orderBy(order))(
      Window.partitionBy(_).orderBy(order))
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val before = w.rowsBetween(Window.unboundedPreceding, -Pop)
    def trailing(v: Column): Column =
      sum(v).over(upTo) - coalesce(sum(v).over(before), lit(0).cast(Exact))
    val d = x.cast(Exact)
    val n = count(x).over(upTo) - count(x).over(before)
    val s1 = trailing(d)
    val s2 = trailing(d * d)
    val varNum = n * s2 - s1 * s1
    when(x.isNotNull && varNum.isNull,
      raise_error(lit("RollingZ: DECIMAL(38,0) moment overflow"))
        .cast("double"))
      .when(n >= MinPop && varNum > 0,
        round((n * d - s1).cast("double") / sqrt(varNum.cast("double")), 6))
  }
}
