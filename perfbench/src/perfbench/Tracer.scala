package perfbench

import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder. Spans are taken by the harness around each
  * call it makes into a layer (query builder, result write, live round,
  * query start, sink read, fusion step); Spark's own listener events
  * (task metrics, job call sites, streaming progress) are kept raw with
  * their timestamps and attributed to passes and rounds by time once the
  * run is over, because the listener bus delivers them late. Everything
  * stays in memory until [[metrics]]; `trace.jsonl` holds the spans. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private def msOf(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  final case class Span(name: String, layer: String, pass: Int,
      startMs: Double, endMs: Double, parent: String)
  private val spans = mutable.ArrayBuffer[Span]()

  private final case class Task(endMs: Long, records: Long, bytes: Long,
      shWrite: Long, shRead: Long, spill: Long, cpuNs: Long)
  private final case class Job(startMs: Long, site: String, execId: Long,
      var endMs: Long)
  private final case class Progress(query: String, batch: Long, startMs: Long,
      dur: Map[String, Long], stateCommitMs: Long, stateRows: Long,
      stateMem: Long)
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  // SQL executions whose physical plan writes files (sink commits,
  // derived-table swaps, the batch workloads' result writes)
  private val writeExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.taskInfo.finishTime,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled, m.executorCpuTime))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).fold(-1L)(_.toLong)
      jobs.put(e.jobId, Job(e.time, site, exec, -1L))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") ||
            s.physicalPlanDescription.contains("WriteFiles") =>
        writeExecs.add(s.executionId)
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.endMs = e.time
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      progress.add(Progress(p.id.toString, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum))
    }
  })

  // ---- spans and windows recorded by the harness ----
  private val passWin = mutable.Map[Int, (Double, Double)]()
  private val passGcMs = mutable.Map[Int, Long]()
  private var gcAtStart = 0L
  private final case class BatchOp(name: String, pass: Int, buildS: Double, execS: Double)
  private val batchOps = mutable.ArrayBuffer[BatchOp]()
  private final case class Round(r: Int, pass: Int, startMs: Double, endMs: Double)
  private val rounds = mutable.ArrayBuffer[Round]()

  def span(name: String, layer: String, pass: Int, s: Long, e: Long,
      parent: String = ""): Unit = synchronized {
    spans += Span(name, layer, pass, msOf(s), msOf(e), parent)
  }

  def beginPass(p: Int): Unit = {
    gcAtStart = gcMillis
    passWin(p) = (System.currentTimeMillis().toDouble, Double.NaN)
  }

  def endPass(p: Int): Unit = {
    passGcMs(p) = gcMillis - gcAtStart
    passWin(p) = (passWin(p)._1, System.currentTimeMillis().toDouble)
    span(s"pass_$p", "bench", p, t0Ns + ((passWin(p)._1 - t0Ms) * 1e6).toLong,
      System.nanoTime())
  }

  def batchOp(name: String, pass: Int, s: Long, built: Long, e: Long): Unit = {
    val fam = familyOf(name)
    span(name, "op", pass, s, e, s"pass_$pass")
    span(s"SparkEntry.queries($name)", s"functions.$fam", pass, s, built, name)
    span(s"write($name)", s"operators.$fam", pass, built, e, name)
    batchOps += BatchOp(name, pass, (built - s) / 1e9, (e - built) / 1e9)
  }

  def round(r: Int, pass: Int, s: Long, e: Long): Unit = {
    span(f"round_$r%05d", "op", pass, s, e, s"pass_$pass")
    rounds += Round(r, pass, msOf(s), msOf(e))
  }

  /** Per-layer figures. A `.cold` figure is pass 0; `.warm` and figures
    * without a suffix are the median over the warm passes (or, for the
    * streaming layers, over the warm rounds). */
  def metrics(warmPasses: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val warm = 1 to warmPasses
    def inPass(p: Int, ms: Double) = passWin.get(p).exists { case (a, b) => ms >= a && ms <= b }
    val taskSeq = tasks.asScala.toSeq
    val jobSeq = jobs.values.asScala.toSeq.filter(_.endMs >= 0)
    def perPass(f: Int => Double): (Double, Double) =
      (f(0), median(warm.map(f)))
    def put2(name: String, f: Int => Double): Unit = {
      val (c, w) = perPass(f)
      out(s"$name.cold") = c
      out(s"$name.warm") = w
    }
    def passTasks(p: Int) = taskSeq.filter(t => inPass(p, t.endMs.toDouble))
    put2("sources.records_read", p => passTasks(p).map(_.records).sum.toDouble)
    put2("sources.read_mb", p => passTasks(p).map(_.bytes).sum / MB)
    put2("functions.build_s", p => batchOps.filter(_.pass == p).map(_.buildS).sum)
    def memoJobs(p: Int) = jobSeq.filter(j => inPass(p, j.startMs.toDouble) &&
      j.site.contains("DfMemo.scala"))
    put2("functions.memo_jobs", p => memoJobs(p).size.toDouble)
    put2("functions.memo_job_s", p => memoJobs(p).map(j => j.endMs - j.startMs).sum / 1e3)
    out("functions.cached_mb") = 0.0
    put2("operators.exec_s", p => batchOps.filter(_.pass == p).map(_.execS).sum)
    Families.keys.toSeq.sorted.foreach { fam =>
      put2(s"operators.$fam.build_s", p =>
        batchOps.filter(b => b.pass == p && familyOf(b.name) == fam).map(_.buildS).sum)
      put2(s"operators.$fam.exec_s", p =>
        batchOps.filter(b => b.pass == p && familyOf(b.name) == fam).map(_.execS).sum)
    }
    def warmMed(f: Seq[Task] => Double) = median(warm.map(p => f(passTasks(p))))
    out("operators.shuffle_write_mb") = warmMed(_.map(_.shWrite).sum / MB)
    out("operators.shuffle_read_mb") = warmMed(_.map(_.shRead).sum / MB)
    out("operators.spill_mb") = warmMed(_.map(_.spill).sum / MB)
    out("operators.tasks") = warmMed(_.size.toDouble)
    out("operators.executor_cpu_s") = warmMed(_.map(_.cpuNs).sum / 1e9)
    out("operators.driver_s") = median(warm.map { p =>
      val (a, b) = passWin(p)
      val busy = union(jobSeq.filter(j => j.startMs >= a && j.startMs <= b)
        .map(j => (j.startMs.toDouble, math.min(j.endMs.toDouble, b))))
      (b - a - busy) / 1e3
    })
    put2("jvm.gc_s", p => passGcMs.getOrElse(p, 0L) / 1e3)
    out ++= streamingMetrics(jobSeq)
    out.toMap
  }

  private def streamingMetrics(jobSeq: Seq[Job]): Map[String, Double] = {
    val keys = Seq("trigger_ms" -> "triggerExecution", "planning_ms" -> "queryPlanning",
      "add_batch_ms" -> "addBatch", "latest_offset_ms" -> "latestOffset",
      "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets")
    val rs = rounds.sortBy(_.r).toIndexedSeq
    val warmRounds = rs.indices.filter(i => rs(i).pass > 0)
    if (warmRounds.isEmpty)
      return (keys.map(k => s"streaming.${k._1}" -> 0.0) ++ Seq(
        "streaming.batches_per_round" -> 0.0, "state.commit_ms" -> 0.0,
        "state.rows_total" -> 0.0, "state.memory_mb" -> 0.0,
        "state.step_us" -> 0.0, "app.sink_write_ms" -> 0.0)).toMap
    // a batch belongs to the round in which it started; idle reports
    // repeat the last batch id, so keep one report per (query, batch)
    val prog = progress.asScala.toSeq.groupBy(p => (p.query, p.batch))
      .values.map(_.minBy(_.startMs)).toSeq
    def window(i: Int) = (rs(i).startMs,
      if (i + 1 < rs.length) rs(i + 1).startMs else Double.MaxValue)
    def inRound(i: Int, ms: Double) = { val (a, b) = window(i); ms >= a && ms < b }
    val perRound = warmRounds.map(i => prog.filter(p => inRound(i, p.startMs.toDouble)))
    val out = mutable.LinkedHashMap[String, Double]()
    keys.foreach { case (name, key) =>
      out(s"streaming.$name") = median(perRound.map(_.map(_.dur.getOrElse(key, 0L)).sum.toDouble))
    }
    out("streaming.batches_per_round") = median(perRound.map(_.size.toDouble))
    out("state.commit_ms") = median(perRound.map(_.map(_.stateCommitMs).sum.toDouble))
    val lastPerQuery = prog.groupBy(_.query).values.map(_.maxBy(_.batch)).toSeq
    out("state.rows_total") = lastPerQuery.map(_.stateRows).sum.toDouble
    out("state.memory_mb") = lastPerQuery.map(_.stateMem).sum / MB
    // sink-side jobs: every job of a file-writing SQL execution (the
    // BatchSink commits and the Daily Summary / orders swaps). A
    // stream's jobs all carry the call site of its `start()`, so the call
    // site cannot tell the sink's writes from the micro-batch evaluation.
    def sinkJob(j: Job) = writeExecs.contains(j.execId)
    out("app.sink_write_ms") = median(warmRounds.map { i =>
      jobSeq.filter(j => sinkJob(j) && inRound(i, j.startMs.toDouble))
        .map(j => j.endMs - j.startMs).sum.toDouble
    })
    out.toMap
  }

  /** Writes the harness spans, then one span per Spark job (layer
    * `spark.job`, named by its call site), as JSON lines. */
  def writeSpans(path: String): Unit = {
    val jobSpans = jobs.values.asScala.toSeq.filter(_.endMs >= 0).sortBy(_.startMs)
      .map(j => Span(j.site + (if (writeExecs.contains(j.execId)) " [write]" else ""),
        "spark.job", -1, j.startMs.toDouble, j.endMs.toDouble, ""))
    val lines = (synchronized(spans.toList) ++ jobSpans).map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("name", s.name); m.put("layer", s.layer); m.put("pass", s.pass)
      m.put("start_ms", s.startMs); m.put("end_ms", s.endMs); m.put("parent", s.parent)
      Json.mapper.writeValueAsString(m)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

object Tracer {
  val MB = 1048576.0

  /** Query name -> operator family (the module that registers it), for
    * the families the two batch workloads run. */
  val Families: Map[String, Set[String]] = {
    import graft.operators._
    Map("Flow" -> Flow.queries.keySet, "Bars" -> Bars.queries.keySet,
      "Book" -> Book.queries.keySet, "Scores" -> Scores.queries.keySet,
      "Stateful" -> Stateful.queries.keySet, "MultiSym" -> MultiSym.queries.keySet,
      "Dedup" -> Dedup.queries.keySet, "Similarity" -> Similarity.queries.keySet)
  }

  def familyOf(q: String): String =
    Families.collectFirst { case (f, qs) if qs(q) => f }.getOrElse("Other")

  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
