package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.kernel.ConvertKernel.{ConversionConfig, ConversionResult}

/** `convert_corpus`: a seeded on-disk corpus of mixed formats converted end
  * to end by Pipeline.convertDirectory at the reference-default
  * image_resolution_scale=4, results delivered through the `doclingsink`
  * DocSink. Picture re-encoding dominates; the kernel runs in
  * partition-parallel batch mode. */
final class ConvertCorpus(seed: Long, work: Path, cores: Int) extends Workload {
  import ConvertCorpus._

  private val corpusDir = work.resolve("corpus")
  private val warmDir = work.resolve("warm")
  private var docs: Seq[Gen.Doc] = Nil
  private var warm: Seq[Gen.Doc] = Nil
  private var passNo = 0

  private def write(dir: Path, ds: Seq[Gen.Doc]): Unit = {
    Files.createDirectories(dir)
    ds.foreach(d => Files.write(dir.resolve(d.name), d.bytes))
  }

  def generate(spark: SparkSession): Unit = {
    docs = Gen.corpus(seed)
    write(corpusDir, docs)
    // warm-up inputs: a separate corpus of the same mix, from a fixed seed
    warm = Gen.corpus(WarmSeed)
    write(warmDir, warm)
  }

  private def convert(spark: SparkSession, dir: Path): DataFrame =
    Pipeline.convertDirectory(spark, dir.toString, ConversionConfig(imageResolutionScale = Scale))

  /** One pass: convert the corpus, deliver every document's markdown
    * through the DocSink, collect the results for checking. Returns
    * (results, pass seconds, sink seconds, sink bytes). */
  private def pass(spark: SparkSession, dir: Path): (Seq[ConversionResult], Double, Double, Long) = {
    import spark.implicits._
    passNo += 1
    val out = work.resolve(s"out-$passNo")
    System.gc() // each pass, warm-up passes too, starts from a collected heap
    val t0 = System.nanoTime()
    val res = convert(spark, dir).persist(StorageLevel.MEMORY_ONLY)
    val rows = res.as[ConversionResult].collect().toSeq
    val s0 = System.nanoTime()
    res.select($"filename", coalesce($"markdown", $"error").as("content"))
      .write.format("doclingsink").option("bundleDocs", SinkBundle).mode("append").save(out.toString)
    val t1 = System.nanoTime()
    res.unpersist(blocking = true)
    val bytes = Main.treeBytes(out)
    Main.deleteTree(out)
    (rows, (t1 - t0) / 1e9, (t1 - s0) / 1e9, bytes)
  }

  private def check(expected: Seq[Gen.Doc], rows: Seq[ConversionResult]): Seq[String] = {
    val byStem = rows.groupBy(_.filename)
    val missing = expected.filterNot(d => byStem.contains(graft.kernel.ConvertKernel.stemOf(d.name)))
      .map(d => s"${d.name}: no result row")
    val extra = if (rows.size != expected.size) Seq(s"${rows.size} result rows for ${expected.size} documents") else Nil
    missing ++ extra ++ expected.flatMap(d =>
      byStem.get(graft.kernel.ConvertKernel.stemOf(d.name)).flatMap(rs => Check.converted(d, rs.head, Scale)))
  }

  def setUp(spark: SparkSession): Unit = (1 to WarmPasses).foreach { _ =>
    val (rows, _, _, _) = pass(spark, warmDir)
    check(warm, rows).take(5).foreach(e => Report.log(s"warm-up check failed: $e"))
  }

  def tearDown(): Unit = ()

  private final case class Passes(secs: Seq[Double], sinkSecs: Seq[Double], sinkBytes: Seq[Long],
                                  fails: Seq[String], results: Seq[ConversionResult])

  private def passes(spark: SparkSession, seconds: Double): Passes = {
    val t0 = System.nanoTime()
    val acc = scala.collection.mutable.ArrayBuffer[(Double, Double, Long)]()
    var fails = Seq.empty[String]
    var last = Seq.empty[ConversionResult]
    while (acc.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (rows, s, sink, bytes) = pass(spark, corpusDir)
      acc += ((s, sink, bytes))
      fails ++= check(docs, rows)
      last = rows
    }
    Passes(acc.map(_._1).toSeq, acc.map(_._2).toSeq, acc.map(_._3).toSeq, fails, last)
  }

  private def result(p: Passes, notes: Seq[String]): RunResult =
    RunResult.passes(p.secs, docs.size.toLong, p.fails.size.toLong, notes ++ p.fails.take(5).map("check failed: " + _))

  def run(spark: SparkSession, seconds: Int): RunResult = {
    val ticks0 = Host.cpuTicks()
    val p = passes(spark, seconds)
    result(p, Seq(f"docs=${docs.size} load_avg=${Host.loadAvg1()}%.2f steal_share=${Host.stealShare(ticks0, Host.cpuTicks())}%.4f"))
  }

  def trace(spark: SparkSession, seconds: Int, traceFile: Path): (RunResult, Map[String, Double]) = {
    import spark.implicits._
    val ticks0 = Host.cpuTicks()
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val p = passes(spark, seconds * 0.6)
    counters.snapshot(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    val passMedian = Stats.median(p.secs)
    val sparkM = Layers.spark(counters, p.secs.sum, cores)
    val steal = Host.stealShare(ticks0, Host.cpuTicks())

    // source scan alone: the binaryFile listing + read convertDirectory starts from
    val scanS = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.read.format("binaryFile").load(corpusDir.toString).agg(sum($"length")).collect()
      (System.nanoTime() - t0) / 1e9
    })
    val partitions = convert(spark, corpusDir).rdd.getNumPartitions

    // the kernel on one thread, untraced then traced, document by document
    val config = ConversionConfig(imageResolutionScale = Scale)
    def replay(t: Tracer): (Double, Seq[ConversionResult]) = {
      val t0 = System.nanoTime()
      val rs = docs.zipWithIndex.map { case (d, i) => KernelReplica.convert(t, i, d.name, d.bytes, config, batchMode = true) }
      ((System.nanoTime() - t0) / 1e9, rs)
    }
    // a warm-up replay, then untraced and traced replays alternated
    replay(new Tracer(false))
    val runs = (0 until ReplayPairs).map { _ =>
      val plain = replay(new Tracer(false))._1
      val tracer = new Tracer(true)
      val (traced, rs) = replay(tracer)
      (plain, traced, tracer, rs)
    }
    val plainS = Stats.median(runs.map(_._1))
    val tracedS = Stats.median(runs.map(_._2))
    val (_, lastTracedS, tracer, replayed) = runs.last
    tracer.write(traceFile)
    val byStem = p.results.map(r => r.filename -> r).toMap
    val mismatches = replayed.filterNot(r => byStem.get(r.filename).exists(KernelReplica.same(r, _)))
      .map(r => s"replica differs from the pipeline on ${r.filename}")
    mismatches.take(3).foreach(m => Report.log(m))

    val layerS = tracer.selfNs.filter(_._1 != "kernel.convert").values.sum / 1e9
    val layers = Layers.kernel(tracer, replayed) ++ sparkM ++ Map(
      "sources.files" -> docs.size.toDouble,
      "sources.input_mb" -> docs.map(_.bytes.length.toLong).sum / 1048576.0,
      "sources.partitions" -> partitions.toDouble,
      "sources.scan_s" -> scanS,
      "sink.write_s" -> Stats.median(p.sinkSecs),
      "sink.mb" -> Stats.median(p.sinkBytes.map(_.toDouble)) / 1048576.0,
      "spark.parallel_eff" -> plainS / cores / passMedian,
      "trace.overhead_share" -> (tracedS - plainS) / plainS,
      "trace.accounted_share" -> layerS / lastTracedS,
      "host.load_avg" -> Host.loadAvg1(), "host.steal_share" -> steal)
    val r = result(p, Seq(f"replay plain=${plainS}%.3fs traced=${tracedS}%.3fs partitions=$partitions"))
    (r.copy(failed = r.failed + mismatches.size), layers)
  }
}

object ConvertCorpus {
  /** The reference's default image_resolution_scale. */
  val Scale = 4
  val MinPasses = 3
  /** Warm-up passes over the separate warm corpus: enough that the kernel's
    * and Spark's hot code is compiled before the first measured pass. */
  val WarmPasses = 6
  val WarmSeed = -2L
  val SinkBundle = 64
  val ReplayPairs = 2
}
