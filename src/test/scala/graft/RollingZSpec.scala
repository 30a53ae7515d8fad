package graft

import scala.util.Random
import graft.functions.RollingZ

/** The linear prefix-sum z kernel against a brute-force recomputation:
  * for every row, a plain two-pass population mean and stddev (ddof 0)
  * over the trailing 3000 values of its partition, the mean taken in
  * BigDecimal so a large offset cannot leak into the deviations, and the
  * ratio rounded to 6 decimals the way Spark's `round` does. Compared
  * row by row, exactly.
  */
class RollingZSpec extends SparkSpec {

  /** The brute-force trailing z of each element of `xs`, in order. */
  private def bruteZ(xs: IndexedSeq[Long]): IndexedSeq[Option[Double]] =
    xs.indices.map { i =>
      val win = xs.slice(math.max(0, i - RollingZ.Pop + 1), i + 1)
      val n = win.size
      if (n < RollingZ.MinPop) None
      else {
        val mu = BigDecimal(win.sum) / n
        val devs = win.map(x => (BigDecimal(x) - mu).toDouble)
        val sigma = math.sqrt(devs.map(d => d * d).sum / n)
        if (sigma == 0.0) None
        else Some(BigDecimal(devs.last / sigma)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }

  /** Run the kernel over `(key, ord, x)` rows — keyed when `keyed` —
    * and compare every row to [[bruteZ]] of its partition. */
  private def check(rows: Seq[(String, Long, Long)], keyed: Boolean,
      label: String): Unit = {
    import spark.implicits._
    val df = rows.toDF("k", "ord", "x")
    val zs = df.withColumn("z",
        RollingZ.z($"x", $"ord", if (keyed) Some($"k") else None))
      .select("k", "ord", "z").as[(String, Long, Option[Double])]
      .collect().map { case (k, o, z) => (k, o) -> z }.toMap
    assert(zs.size == rows.size, s"$label: row count changed")
    val parts =
      if (keyed) rows.groupBy(_._1).values.toSeq else Seq(rows)
    parts.foreach { p =>
      val sorted = p.sortBy(_._2).toIndexedSeq
      sorted.zip(bruteZ(sorted.map(_._3))).foreach { case ((k, o, _), exp) =>
        assert(zs((k, o)) == exp, s"$label: key $k ord $o")
      }
    }
  }

  private def series(n: Int, seed: Long)(
      f: Random => Long): Seq[(String, Long, Long)] = {
    val r = new Random(seed)
    (0 until n).map(i => ("a", i.toLong, f(r)))
  }

  test("more than 3000 rows: the window slides") {
    val rows = series(3200, 1)(r => r.nextInt(200001) - 100000L)
    check(rows, keyed = false, "slide")
  }

  test("29 rows stay NULL; the 30th row gets a z") {
    val rows = series(30, 2)(r => r.nextInt(10001) - 5000L)
    check(rows.take(29), keyed = false, "29 rows")
    check(rows, keyed = false, "30 rows")
    import spark.implicits._
    val z30 = rows.toDF("k", "ord", "x")
      .select(RollingZ.z($"x", $"ord").as("z")).as[Option[Double]]
      .collect()
    assert(z30.count(_.isDefined) == 1)
  }

  test("a run of equal deltas has zero variance: z is NULL, not 0 or NaN") {
    val run = (0 until 45).map(i => ("a", i.toLong, 700L))
    val rows = run ++ series(60, 3)(r => r.nextInt(2001) - 1000L)
      .map { case (k, o, x) => (k, o + 45, x) }
    check(rows, keyed = false, "equal run")
    import spark.implicits._
    val zs = rows.toDF("k", "ord", "x")
      .select($"ord", RollingZ.z($"x", $"ord").as("z"))
      .as[(Long, Option[Double])].collect().toMap
    assert((0L until 45L).forall(zs(_).isEmpty))
    assert(zs(45L).isDefined)
  }

  test("a large constant offset (mean >> sigma) loses no precision") {
    val rows = series(400, 4)(r => 1000000000000L + r.nextInt(101) - 50L)
    check(rows, keyed = false, "offset")
  }

  test("|delta| around 1e9 cents: sums of squares past Long stay exact") {
    // 3100 rows of ~1e9: the prefix sum of squares reaches ~3e21, which a
    // long would wrap
    val rows = series(3100, 5)(r =>
      (if (r.nextBoolean()) 1L else -1L) * (1000000000L + r.nextInt(1000000)))
    check(rows, keyed = false, "1e9 cents")
  }

  test("keyed: unequal partitions each keep their own trailing window") {
    val r = new Random(6)
    val lens = Seq("p" -> 10, "q" -> 31, "s" -> 200, "t" -> 3050)
    val rows = lens.flatMap { case (k, n) =>
      (0 until n).map(i => (k, i * 7L + k.head, r.nextInt(20001) - 10000L))
    }
    check(rows, keyed = true, "keyed")
  }

  test("a moment past DECIMAL(38,0) fails the query, ANSI on or off") {
    import spark.implicits._
    // s1² of 40 values near Long.MaxValue is ~1.4e41. A def: arithmetic
    // takes its ANSI mode from the conf when the plan is built
    def big = (0 until 40).map(i => ("a", i.toLong, Long.MaxValue - i))
      .toDF("k", "ord", "x")
      .select(RollingZ.z($"x", $"ord").as("z"))
    val was = spark.conf.get("spark.sql.ansi.enabled")
    try {
      // ANSI: Spark's decimal overflow check raises
      spark.conf.set("spark.sql.ansi.enabled", "true")
      intercept[Exception](big.collect())
      // non-ANSI: the overflow turns NULL, which the kernel raises on
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val e = intercept[Exception](big.collect())
      assert(e.getMessage.contains("RollingZ: DECIMAL(38,0) moment overflow"))
    } finally spark.conf.set("spark.sql.ansi.enabled", was)
  }
}
