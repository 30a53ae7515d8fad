package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared fixture base: one SparkSession per test JVM, plus writers for
  * synthetic parquet fixtures in the testdata schemas (FIXTURES.md §A/§B)
  * so operator semantics can be asserted against hand-computed values.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  protected lazy val spark: SparkSession = SparkSpec.session
  protected def sfDir(name: String = "sf0.001"): String = s"/root/testdata/$name"

  /** Write an events fixture (ts in int64 nanos, as the driver's parquet
    * stores TIMESTAMP(NANOS)) and return its directory. */
  protected def writeEventsFixture(
      rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fix").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("""{"k": 1}"""))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  protected def writeDocsFixture(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fix").toString
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("src"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  protected def writeEmbFixture(rows: Seq[(Long, Seq[Float], Int)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fix").toString
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** The physical plan a memoized frame was built with, for plan-shape
    * assertions through the memo: `query` runs in persist memo mode
    * (the frame's plan kept behind its cache; local mode leaves a
    * lineage-cut LogicalRDD) after `DfMemo.clear()`, and the first
    * cached relation in its plan gives `cacheBuilder.cachedPlan`. */
  protected def memoBuildPlan(query: => DataFrame): String = {
    val modeWas = sys.props.get("graft.memo.mode")
    sys.props("graft.memo.mode") = "persist"
    graft.functions.DfMemo.clear()
    try query.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan.toString
    }.getOrElse(fail("no memoized frame in the plan"))
    finally {
      modeWas.fold(sys.props.remove("graft.memo.mode"))(
        sys.props.put("graft.memo.mode", _))
      graft.functions.DfMemo.clear()
    }
  }

  protected def rowsOf(df: DataFrame): Seq[Map[String, Any]] = {
    val cols = df.columns
    df.collect().toSeq.map(r => cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  /** A test excluded from the default loop (shows as CANCELED unless
    * SPARK_GRAFT_HEAVY=1): the multi-minute depth rungs — deep BPE
    * equivalence seeds, RocksDB memory-pressure, 200-round chains —
    * whose cheap siblings already cover the semantics in-loop. The
    * heavy set MUST still be run (and its result recorded in PLANS.md)
    * whenever the code it exercises changes:
    * `SPARK_GRAFT_HEAVY=1 sbt test` runs everything. */
  protected def heavyTest(name: String)(body: => Any): Unit =
    test(name) {
      assume(sys.env.get("SPARK_GRAFT_HEAVY").contains("1"),
        "heavy rung: set SPARK_GRAFT_HEAVY=1 to run")
      body
    }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
