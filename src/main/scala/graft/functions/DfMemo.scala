package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(session, key) memo of persisted DataFrames, for intermediate
  * frames shared by several queries in one session (the fusion signal
  * frame feeds five queries; the FSM event stream feeds three).
  *
  * Lifecycle: the outer map is WEAK in the session, so a stopped and
  * dropped SparkSession releases its cached plans without anyone calling
  * `clear()`. Within a session the memo is an LRU bounded at
  * [[MaxResident]] entries: a long multi-family run (Bench's 70+ queries)
  * holds at most that many persisted frames at a time — the
  * least-recently-used one is forgotten (its reference dropped; see
  * `cached`) when a new family starts memoizing, instead of every
  * family's frames accumulating for the whole session (the round-2
  * bench-noise mechanism). Name order keeps a family's queries
  * consecutive, but that only stops thrashing when the family's working
  * set fits the cap: a working set above it, touched in the same cyclic
  * order every pass, evicts frames just before their next use, so every
  * repeat pass rebuilds most of them (see the measured working sets on
  * [[MaxResident]]).
  */
object DfMemo {

  /** LRU cap per session. Measured working sets (distinct keys one
    * name-ordered pass touches; a set that fits is never rebuilt on a
    * repeat pass, one that does not is mostly rebuilt — only a frame
    * read solely inside another frame's builder can be evicted for
    * free):
    *  - the ANN PQ rung, 10: ivf_ranked / kmeans_comp / kmeans_ranked /
    *    kmeans2_ranked / multi_sig / pq_rsub / pq_cb / pq_code plus
    *    ann_pq_topk's pq_recon + pq_approx;
    *  - one events_funnel_curve evaluation, 13: funnel_ev + 4 shipped
    *    steps + 2x4 curve-window steps, all live at once;
    *  - the six-query `corpus_memo` benchmark subset, 13: fits, so a
    *    warm pass rebuilds nothing (DfMemoSpec pins it);
    *  - all 51 Dedup + Similarity queries in name order: 46 builds
    *    (5 000 documents, 2 000 embeddings), far above any cap that
    *    bounds cache pressure — a warm pass rebuilds 43 of them at 16.
    * 16 holds every single-query and benchmark-subset set above with
    * spare, so a single new key cannot evict a frame whose rebuild is a
    * full scan; small enough to bound resident cache pressure. Eviction
    * is reference-drop only (safe — see below), so an undersized cap
    * costs rebuild time, never correctness. */
  val MaxResident: Int =
    sys.props.get("graft.memo.cap")
      .orElse(sys.env.get("SPARK_GRAFT_MEMO_CAP"))
      .getOrElse("16").toInt

  /** Materialization profile. `localCheckpoint` blocks cannot be
    * recomputed after an executor loss — an acceptable trade ONLY in
    * local mode (one JVM: losing the executor means losing the driver
    * too). On a cluster the memo must survive executor churn, so the
    * mode is resolved per build:
    *  - "local"    — `localCheckpoint()`: lineage truncated, blocks on
    *                 executor memory/disk. Fastest per access; the
    *                 default when the master is local[*].
    *  - "persist"  — `persist(MEMORY_AND_DISK)`: lineage KEPT, so a
    *                 lost block recomputes from source. Per-access cost
    *                 is proportional to the retained plan, but nothing
    *                 is unrecoverable. The default off-local.
    *  - "reliable" — `checkpoint()`: lineage truncated, blocks written
    *                 to the reliable checkpoint dir (point
    *                 `spark.graft.memo.checkpointDir` at shared durable
    *                 storage in a deployment).
    * Override with -Dgraft.memo.mode / $SPARK_GRAFT_MEMO_MODE. */
  private[graft] def mode(spark: SparkSession): String =
    sys.props.get("graft.memo.mode")
      .orElse(sys.env.get("SPARK_GRAFT_MEMO_MODE"))
      .getOrElse(if (spark.sparkContext.isLocal) "local" else "persist")

  /** Mode-aware one-off materialization for frames that are shared
    * WITHIN one plan but not across queries (no memo entry): same
    * local/persist/reliable policy as the memo, so inline sharing
    * never reintroduces unrecoverable localCheckpoint blocks off-local. */
  private[graft] def materializeFrame(spark: SparkSession,
      df: DataFrame): DataFrame = materialize(spark, df)

  private def materialize(spark: SparkSession, built: DataFrame): DataFrame =
    mode(spark) match {
      case "persist" =>
        val df = built.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.foreach(_ => ()) // eager, like the checkpoint modes
        df
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(spark.conf.get(
            "spark.graft.memo.checkpointDir",
            java.nio.file.Files.createTempDirectory("graft_memo_ckpt")
              .toString))
        built.checkpoint()
      case _ => built.localCheckpoint()
    }

  // Weak keys: a dropped session must not be pinned (with its whole
  // sessionState + persisted plans) for the life of the process.
  private val sessions =
    new java.util.WeakHashMap[SparkSession, java.util.LinkedHashMap[String, DataFrame]]()

  private def tableFor(spark: SparkSession) = sessions.synchronized {
    var m = sessions.get(spark)
    if (m == null) {
      // accessOrder = true: get() refreshes recency, giving true LRU
      m = new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true)
      sessions.put(spark, m)
    }
    m
  }

  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val tab = tableFor(spark)
    // access-order maps mutate on get: every touch needs the lock
    val existing = tab.synchronized(tab.get(key))
    if (existing != null) existing
    else {
      // Build OUTSIDE the lock: build closures may re-enter cached()
      // (Stateful.eventsDf -> Scores.scoredShared). A lost race is NOT
      // unpersisted: the loser's checkpoint RDD is freed by the
      // ContextCleaner once unreferenced.
      //
      // localCheckpoint (in local mode), not persist: a persisted frame
      // keeps its FULL plan, and every downstream query re-pays
      // per-execution overhead proportional to that tree even when the
      // data comes from cache (measured ~1.9 s per access on the deep
      // ANN chains vs ~0.1 s through the truncated lineage). The
      // checkpoint materializes the rows once and hands consumers a
      // LogicalRDD — the memo boundary IS the lineage boundary, which
      // is exactly what a shared intermediate means. Off-local the
      // recompute-on-loss trade is NOT acceptable, so [[mode]] swaps in
      // recoverable persist / reliable checkpoint materialization.
      val built = materialize(spark, build)
      tab.synchronized {
        val raced = tab.get(key)
        if (raced != null) raced
        else {
          tab.put(key, built)
          // LRU eviction drops the REFERENCE only. A checkpoint's blocks
          // are its ONLY copy (lineage is truncated — LocalCheckpointRDD
          // cannot recompute), so unpersisting here would crash any
          // already-built plan that still references the frame with
          // "Checkpoint block not found". The ContextCleaner frees the
          // blocks once the last reference is gone — delayed, but safe.
          val it = tab.entrySet().iterator()
          while (tab.size() > MaxResident && it.hasNext) {
            it.next()
            it.remove()
          }
          built
        }
      }
    }
  }

  /** Free a checkpointed frame's storage eagerly. ONLY safe when the
    * caller knows no live plan references the frame: a localCheckpoint's
    * blocks are its only copy (`df.unpersist()` would be a no-op — no
    * CacheManager entry — while the backing RDD cannot recompute), so
    * releasing a frame someone still holds fails their next execution.
    * Used by iterative drivers (label propagation) for superseded
    * per-round snapshots, which by construction nothing references. */
  private[graft] def release(df: DataFrame): Unit =
    try df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        ()
      case _ =>
        df.unpersist()
        ()
    } catch { case _: Throwable => () }

  /** Forget everything (idempotent; tests + long services). References
    * drop; the ContextCleaner frees checkpoint blocks once consumers
    * let go — an eager release here would break frames still held. */
  def clear(): Unit = sessions.synchronized {
    sessions.values.forEach(_.clear())
    sessions.clear()
  }
}
