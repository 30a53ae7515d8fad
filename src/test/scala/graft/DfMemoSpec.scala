package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import graft.functions.DfMemo

/** DfMemo materialization profiles (VERDICT r16 #6), the
  * reference-drop safety contract the LRU eviction relies on, and the
  * corpus queries' working set against the default cap. */
class DfMemoSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def freshKey(tag: String) = s"dfmemo_spec:$tag:${System.nanoTime}"

  test("mode resolves to local on a local master, overridable by prop") {
    assert(DfMemo.mode(spark) == "local")
    sys.props("graft.memo.mode") = "persist"
    try assert(DfMemo.mode(spark) == "persist")
    finally sys.props.remove("graft.memo.mode")
  }

  test("local mode truncates lineage (consumers read a LogicalRDD)") {
    import spark.implicits._
    val df = DfMemo.cached(spark, freshKey("local"))(
      (1 to 100).toDF("x").groupBy(($"x" % 5).as("k")).count())
    assert(df.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(df.count() == 5)
  }

  test("persist mode keeps lineage (recoverable after executor loss) " +
      "and lands MEMORY_AND_DISK") {
    import spark.implicits._
    sys.props("graft.memo.mode") = "persist"
    val df =
      try DfMemo.cached(spark, freshKey("persist"))(
        (1 to 100).toDF("x").groupBy(($"x" % 5).as("k")).count())
      finally sys.props.remove("graft.memo.mode")
    // the whole point of the cluster profile: the plan can recompute —
    // the analyzed plan is the full aggregation, NOT a lineage-cut RDD
    assert(!df.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(df.count() == 5)
    df.unpersist()
    ()
  }

  test("reliable mode checkpoints to the configured dir and truncates") {
    import spark.implicits._
    sys.props("graft.memo.mode") = "reliable"
    val df =
      try DfMemo.cached(spark, freshKey("reliable"))(
        (1 to 100).toDF("x").groupBy(($"x" % 5).as("k")).count())
      finally sys.props.remove("graft.memo.mode")
    assert(spark.sparkContext.getCheckpointDir.nonEmpty)
    assert(df.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(df.count() == 5)
  }

  test("dropping the memo reference (eviction/clear) never breaks a " +
      "live consumer plan") {
    import spark.implicits._
    // The LRU evicts by dropping the map REFERENCE only; the blocks
    // must stay readable for any plan already holding the frame (the
    // ContextCleaner frees them once the last reference is gone).
    // clear() is the same reference-drop path eviction takes.
    val df = DfMemo.cached(spark, freshKey("evict"))(
      (1 to 1000).toDF("x").groupBy(($"x" % 7).as("k")).count())
    val downstream = df.agg(sum($"count").as("n")) // plan built pre-drop
    DfMemo.clear()
    System.gc() // give an over-eager cleaner its best shot
    assert(downstream.collect().head.getLong(0) == 1000L)
  }

  /** The `corpus_memo` benchmark queries, in the name order it runs them. */
  private val CorpusQueries = Seq("ann_ivf_append", "ann_ivf_topk",
    "ann_mmr_topk", "ann_trunc_curve", "dedup_jaccard_topk",
    "dedup_minhash_pairs")

  /** Memo materializations while `body` runs: Spark jobs whose call site
    * is in DfMemo.scala (a keyed build, or a one-off frame one builds). */
  private def memoJobs(body: => Unit): Int = {
    val sites = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.stageInfos.nonEmpty) sites.add(j.stageInfos.maxBy(_.stageId).name)
    }
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    sites.asScala.count(_.contains("DfMemo.scala"))
  }

  test("working set: the six corpus queries fit the default cap, so a " +
      "name-ordered warm pass rebuilds nothing") {
    assert(DfMemo.MaxResident == 16)
    DfMemo.clear()
    def pass(): Int = memoJobs(CorpusQueries.foreach { q =>
      SparkEntry.queries(q)(spark, sfDir())
        .write.format("noop").mode("overwrite").save()
    })
    val cold = pass()
    val warm = pass()
    // cold: 13 keyed frames, plus the pool-with-embeddings frame the
    // mmr_sims build materializes once and keeps no slot for; warm:
    // every keyed frame is still resident
    assert((cold, warm) == ((14, 0)), "(cold, warm) memo jobs")
  }
}
