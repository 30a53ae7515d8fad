package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.app.Live
import graft.sources.Tables

/** One benchmark run of one workload in one fresh JVM.
  *
  * `run.py` generates the inputs, launches this main, and checks what it
  * leaves behind. The main brings the session up (the timed set-up),
  * runs the workload's fixed operation list once cold and then in a
  * fixed number of warm passes, and writes `result.json` into the run
  * directory: set-up time, per-pass wall times, per-operation times of
  * the warm passes, failures, and (traced runs only) the per-layer
  * figures from [[Tracer]].
  *
  * Arguments (`--key value`): launch-ms (epoch ms at which the launcher
  * started this process), workload, run-dir, data-dir, cpus, partitions,
  * warm-passes, trace (0|1); batch workloads add `queries` (comma list,
  * run in that order); live_feed adds cold-rounds, rounds-per-pass.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val launchMs = o("launch-ms").toLong
    val runDir = o("run-dir")
    val cpus = o("cpus").toInt
    val warmPasses = o("warm-passes").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", o("partitions"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def mark(what: String): Unit = System.err.println(
      f"[harness] $what at ${(System.currentTimeMillis() - launchMs) / 1000.0}%.2f s")
    mark("session up")
    val tracer = if (o("trace") == "1") Some(new Tracer(spark)) else None
    val workload: Workload = o("workload") match {
      case "live_feed" => new LiveWorkload(spark, o, tracer)
      case _ => new BatchWorkload(spark, o, tracer)
    }
    workload.setup()
    mark("workload set up")
    // fixed warm-up: the first job of a session pays scheduler and
    // codegen start-up that belongs to set-up, not to the first operation
    spark.range(0L, 200000L, 1L, cpus).selectExpr("sum(id * 7 % 13)").collect()
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    mark("warm-up done")

    val passS = mutable.ArrayBuffer[Double]()
    val warmOpMs = mutable.ArrayBuffer[Double]()
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    for (p <- 0 to warmPasses) {
      tracer.foreach(_.beginPass(p))
      val t0 = System.nanoTime()
      workload.ops(p).foreach { case (name, op) =>
        attempted += 1
        val s = System.nanoTime()
        try op()
        catch {
          case e: Throwable =>
            failures += s"pass $p $name: ${e.getClass.getSimpleName}: ${e.getMessage}"
              .take(400).replace('\n', ' ')
        }
        if (p > 0) warmOpMs += (System.nanoTime() - s) / 1e6
      }
      passS += (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.endPass(p))
      workload.afterPass(p, last = p == warmPasses)
    }
    workload.finish()
    val layers = tracer.map { t =>
      org.apache.spark.BusDrain(spark.sparkContext)
      val m = t.metrics(warmPasses) ++ workload.traceMetrics(t)
      t.writeSpans(s"$runDir/trace.jsonl")
      m
    }.getOrElse(Map.empty)

    def num(d: Double) = if (d.isNaN || d.isInfinite) 0.0 else d
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("setup_s", num(setupS))
    result.put("pass_s", passS.map(num).asJava)
    result.put("warm_op_ms", warmOpMs.map(num).asJava)
    result.put("attempted", attempted)
    result.put("failures", failures.asJava)
    result.put("layers", new java.util.TreeMap[String, Double](
      layers.map { case (k, v) => k -> num(v) }.asJava))
    Json.mapper.writeValue(new File(s"$runDir/result.json"), result)
    spark.stop()
  }
}

/** The one JSON writer of the harness (result.json, trace.jsonl,
  * the oracle dump): Jackson, as shipped with Spark. */
object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** A workload: set-up work that counts into `setup_s`, then a fixed list
  * of named operations per pass. */
trait Workload {
  def setup(): Unit
  def ops(pass: Int): Seq[(String, () => Unit)]
  def afterPass(pass: Int, last: Boolean): Unit = ()
  def finish(): Unit = ()
  def traceMetrics(t: Tracer): Map[String, Double] = Map.empty
}

/** market_backtest / corpus_memo: each operation builds one registered
  * query's DataFrame through `SparkEntry.queries` and writes the full
  * result as parquet (never `count()`, which lets the optimizer prune the
  * work the query exists to do). Cold pass and last warm pass outputs are
  * kept for the oracle check under `out/p<pass>/<query>`. */
final class BatchWorkload(spark: SparkSession, o: Map[String, String],
    tracer: Option[Tracer]) extends Workload {
  private val dataDir = o("data-dir")
  private val outDir = s"${o("run-dir")}/out"
  private val names = o("queries").split(",").toSeq
  private lazy val queries = SparkEntry.queries

  def setup(): Unit = {
    val known = queries
    val missing = names.filterNot(known.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    // register the readers every operation goes through (schema + file
    // index resolved once per session, as a catalog would)
    Seq("events", "documents", "embeddings").foreach { t =>
      if (new File(s"$dataDir/$t.parquet").exists()) t match {
        case "events" => Tables.events(spark, dataDir)
        case "documents" => Tables.documents(spark, dataDir)
        case _ => Tables.embeddings(spark, dataDir)
      }
    }
  }

  def ops(pass: Int): Seq[(String, () => Unit)] = names.map { name =>
    name -> { () =>
      val fn = queries(name)
      val t0 = System.nanoTime()
      val df: DataFrame = fn(spark, dataDir)
      val t1 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"$outDir/p$pass/$name")
      val t2 = System.nanoTime()
      tracer.foreach(_.batchOp(name, pass, t0, t1, t2))
    }
  }

  override def afterPass(pass: Int, last: Boolean): Unit =
    if (pass > 0 && !last) graft.functions.Fs.deleteRecursively(new File(s"$outDir/p$pass"))

  override def traceMetrics(t: Tracer): Map[String, Double] = {
    val storage = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    Map("functions.cached_mb" -> storage / 1048576.0)
  }
}

/** live_feed: the streaming surface, closed loop. Each operation lands
  * one pre-generated burst (trades, plus the signal rows the position
  * machine reads; round 0 is the backfill, every later round one minute)
  * and drains both started queries with
  * `processAllAvailable()`, sink commits included; the next burst lands
  * only after that. Pass 0 is `cold-rounds` rounds, each warm pass
  * `rounds-per-pass` rounds. After the last pass the queries stop and
  * the sinks are exported through their consumer views for the check. */
final class LiveWorkload(spark: SparkSession, o: Map[String, String],
    tracer: Option[Tracer]) extends Workload {
  private val run = o("run-dir")
  private val stage = s"$run/stage"
  private val tradesDir = s"$run/feed/trades"
  private val signalsDir = s"$run/feed/signals"
  private val outDir = s"$run/live"
  private val ckptDir = s"$run/ckpt"
  private val coldRounds = o("cold-rounds").toInt
  private val perPass = o("rounds-per-pass").toInt
  private var queries: Seq[StreamingQuery] = Nil

  def setup(): Unit = {
    Seq(tradesDir, signalsDir, outDir, ckptDir).foreach(d => new File(d).mkdirs())
    queries = Seq(
      traced("Live.fusedQuery")(Live.fusedQuery(spark, tradesDir, outDir, ckptDir)),
      traced("Live.tradesQuery")(Live.tradesQuery(spark, signalsDir, outDir, ckptDir)))
  }

  private def traced[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    tracer.foreach(_.span(name, "app", -1, t0, System.nanoTime()))
    r
  }

  private def land(file: String, dir: String): Unit =
    Files.move(Paths.get(s"$stage/$file"), Paths.get(s"$dir/$file"),
      StandardCopyOption.ATOMIC_MOVE)

  def ops(pass: Int): Seq[(String, () => Unit)] = {
    val first = if (pass == 0) 0 else coldRounds + (pass - 1) * perPass
    val n = if (pass == 0) coldRounds else perPass
    (first until first + n).map { r =>
      f"round_$r%05d" -> { () =>
        val t0 = System.nanoTime()
        land(f"trades_$r%05d.parquet", tradesDir)
        land(f"signals_$r%05d.parquet", signalsDir)
        queries.foreach(_.processAllAvailable())
        tracer.foreach(_.round(r, pass, t0, System.nanoTime()))
      }
    }
  }

  override def finish(): Unit = {
    queries.foreach(_.stop())
    queries.foreach(q => q.exception.foreach(e => throw e))
    val ex = s"$run/export"
    traced("Live.readSink")(Live.readSink(spark, outDir, "fused"))
      .foreach(_.write.mode("overwrite").parquet(s"$ex/fused"))
    Live.readTrades(spark, outDir)
      .foreach(_.write.mode("overwrite").parquet(s"$ex/trades"))
    if (new File(s"$outDir/daily_summary").exists())
      spark.read.parquet(s"$outDir/daily_summary")
        .write.mode("overwrite").parquet(s"$ex/daily_summary")
  }

  /** `Fusion.step` per bar, timed over this run's own finalized bars:
    * the bars are rebuilt in batch from the landed trades with the same
    * aggregation the stream runs, then folded per symbol in bar order,
    * repeatedly, until enough time is sampled. */
  override def traceMetrics(t: Tracer): Map[String, Double] = {
    import graft.state.Fusion
    import graft.streaming.Streams
    val enc = org.apache.spark.sql.Encoders.product[Streams.Trade]
    val trades = spark.read.schema(enc.schema).parquet(tradesDir).as[Streams.Trade](enc)
    val bars = Streams.signalBars(trades).collect()
      .groupBy(_.symbol).values.map(_.sortBy(_.win_start.getTime)).toSeq
    val nBars = bars.map(_.length).sum
    val perBarUs = mutable.ArrayBuffer[Double]()
    val until = System.nanoTime() + 300L * 1000 * 1000
    var sink = 0.0
    while (perBarUs.length < 5 || System.nanoTime() < until) {
      val t0 = System.nanoTime()
      bars.foreach { bs =>
        var st = Fusion.init
        bs.foreach { b =>
          val (s2, out) = Fusion.step(st, b)
          st = s2
          sink += out.cvd
        }
      }
      val t1 = System.nanoTime()
      t.span("Fusion.step", "state", -1, t0, t1)
      perBarUs += (t1 - t0) / 1e3 / math.max(1, nBars)
    }
    if (sink.isNaN) println("") // keeps the fold observable to the JIT
    Map("state.step_us" -> Tracer.median(perBarUs.toSeq))
  }
}
