package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** BPE training-scale bench — measures the shipped trainer,
  * [[graft.operators.Bpe.trainOnLocal]], at production vocabulary sizes
  * and records the wall-vs-N curve at several N, not one.
  *
  * The corpus is a deterministic synthetic word-type table (seeded
  * LCG; 200k types, Zipf frequencies, lengths 3–12) rather than the sf
  * documents: the sf corpora exhaust their pair space near merge ~90,
  * which is a property of the fixture, not of the trainer — a
  * production tokenizer trains on a vocabulary whose pair space
  * survives tens of thousands of merges, which is what this table
  * models. Word-type count, not corpus bytes, is what training cost
  * depends on (the corpus is touched once; training runs on the
  * vocabulary-sized table), so 200k types IS the production-scale
  * knob.
  *
  * Prints ONE JSON line: per-N wall seconds, merges and Spark jobs.
  * Not part of the driver contract — run manually:
  * `SPARK_GRAFT_BPE_NS=1000,4000 sbt "runMain graft.BpeBench"`.
  * Results live in PLANS.md §"text_bpe_merges".
  */
object BpeBench {

  def main(args: Array[String]): Unit = {
    val ns = sys.env.getOrElse("SPARK_GRAFT_BPE_NS", "1000,4000")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic synthetic vocabulary: the same fixture shape as the
    // round-10 manual measurement (200k types, rich pair space)
    val rnd = new scala.util.Random(42)
    val types = (0 until 200000).map { r =>
      val len = 3 + rnd.nextInt(10)
      val w = (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      (w, math.max(1L, (1000000.0 / (r + 1)).toLong))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
    val words = types.toDF("tok", "freq")
      .withColumn("syms",
        transform(sequence(lit(1), length($"tok")),
          i => $"tok".substr(i, lit(1))))
      .repartition(32)

    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })

    val cells = ns.map { n =>
      val j0 = jobs.get
      val t0 = System.nanoTime()
      val (merges, _) =
        graft.operators.Bpe.trainOnLocal(spark, words, n, strict = false)
      val sec = (System.nanoTime() - t0) / 1e9
      (n, merges.size, math.round(sec * 10.0) / 10.0, jobs.get - j0)
    }
    val cellJson = cells.map { case (n, m, s, j) =>
      s""""$n":{"merges":$m,"sec":$s,"jobs":$j}"""
    }.mkString(",")
    println(s"""{"metric":"bpe_train_scale","unit":"sec","n_types":${types.size},"cells":{$cellJson}}""")
    spark.stop()
  }
}
