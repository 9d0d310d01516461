package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.operators.{Dedup, MinHashDedup}

/** `curate_corpus`: a seeded `documents` table with planted exact and near
  * duplicates and low-quality rows, curated by the registered operators:
  * exact dedup (d1) → MinHash LSH pairs → connected components → Gopher
  * quality gate (t6) → a curated parquet set written to disk. Shuffles and
  * Spark jobs run one after another dominate; the conversion kernel is idle. */
final class CurateCorpus(seed: Long, work: Path, cores: Int) extends Workload {
  import CurateCorpus._

  private val tableDir = work.resolve("tables")
  private val warmDir = work.resolve("warm-tables")
  private var corpus: Gen.TextCorpus = _
  private var warm: Gen.TextCorpus = _
  private var passNo = 0

  private def writeTable(spark: SparkSession, dir: Path, rows: Seq[Gen.TextDoc]): Unit = {
    import spark.implicits._
    rows.toDS().repartition(cores).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
  }

  def generate(spark: SparkSession): Unit = {
    corpus = Gen.textCorpus(seed, Docs)
    writeTable(spark, tableDir, corpus.rows)
    warm = Gen.textCorpus(-3L, WarmDocs)
    writeTable(spark, warmDir, warm.rows)
  }

  /** The curation chain over `dir`, curated rows written to `out`. `stage`
    * wraps each operator call; the traced run uses it to materialize and
    * time each stage on its own. Returns (connected-components rounds,
    * near-dup pairs kept by the rerank). */
  private def curate(spark: SparkSession, dir: Path, out: Path, stage: Stage): (Int, DataFrame) = {
    import spark.implicits._
    val d = dir.toString
    val docs = Tables(spark, d, "documents")
    val keep = stage("operators.exact_dedup")(
      SparkEntry.queries("d1_exact_dedup")(spark, d).select($"keep_id".as("doc_id")))
    val uniq = docs.join(keep, "doc_id").select($"doc_id", $"text")
    val pairs = stage("operators.minhash")(MinHashDedup.minhashPairsOn(spark, uniq, Threshold))
    var rounds = 0
    val nonRep = stage("operators.cc") {
      val (labels, r) = Dedup.connectedComponents(spark, pairs.select($"a_id", $"b_id"))
      rounds = r
      labels.filter($"doc_id" =!= $"cluster_id").select($"doc_id")
    }
    val good = stage("operators.quality")(
      SparkEntry.queries("t6_gopher_quality_flags")(spark, d).filter($"keep").select($"doc_id"))
    val curated = docs.join(keep, "doc_id").join(nonRep, Seq("doc_id"), "left_anti").join(good, "doc_id")
    stage("sink.write") { curated.write.mode("overwrite").parquet(out.toString); curated }
    (rounds, pairs)
  }

  private def survivors(spark: SparkSession, out: Path): Set[Long] = {
    import spark.implicits._
    spark.read.parquet(out.toString).select($"doc_id").as[Long].collect().toSet
  }

  private def check(expected: Set[Long], got: Set[Long]): Seq[String] = {
    val missing = (expected -- got).toSeq.sorted
    val extra = (got -- expected).toSeq.sorted
    missing.map(id => s"doc $id should survive curation") ++ extra.map(id => s"doc $id should have been removed")
  }

  private def pass(spark: SparkSession, dir: Path, expected: Set[Long],
                   stage: Stage = Stage.Lazy): (Double, Seq[String], Int, DataFrame, Long) = {
    passNo += 1
    val out = work.resolve(s"curated-$passNo")
    System.gc() // each pass, warm-up passes too, starts from a collected heap
    val t0 = System.nanoTime()
    val (rounds, pairs) = curate(spark, dir, out, stage)
    val secs = (System.nanoTime() - t0) / 1e9
    val got = survivors(spark, out)
    val bytes = Main.treeBytes(out)
    Main.deleteTree(out)
    (secs, check(expected, got), rounds, pairs, bytes)
  }

  def setUp(spark: SparkSession): Unit = (1 to WarmPasses).foreach { _ =>
    pass(spark, warmDir, warm.survivors)._2.take(5).foreach(e => Report.log(s"warm-up check failed: $e"))
  }

  def tearDown(): Unit = ()

  private def passes(spark: SparkSession, seconds: Double): (Seq[Double], Seq[String]) = {
    val t0 = System.nanoTime()
    val secs = scala.collection.mutable.ArrayBuffer[Double]()
    var fails = Seq.empty[String]
    while (secs.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (s, f, _, _, _) = pass(spark, tableDir, corpus.survivors)
      secs += s
      fails ++= f
    }
    (secs.toSeq, fails)
  }

  private def result(secs: Seq[Double], fails: Seq[String], notes: Seq[String]): RunResult =
    RunResult.passes(secs, corpus.rows.size.toLong, fails.size.toLong,
      ((s"docs=${corpus.rows.size} survivors=${corpus.survivors.size} exact_groups=${corpus.exactGroups} " +
        s"near_groups=${corpus.nearGroups} low_quality=${corpus.lowQuality}") +: notes) ++
        fails.take(5).map("check failed: " + _))

  def run(spark: SparkSession, seconds: Int): RunResult = {
    val ticks0 = Host.cpuTicks()
    val (secs, fails) = passes(spark, seconds)
    result(secs, fails, Seq(f"load_avg=${Host.loadAvg1()}%.2f steal_share=${Host.stealShare(ticks0, Host.cpuTicks())}%.4f"))
  }

  def trace(spark: SparkSession, seconds: Int, traceFile: Path): (RunResult, Map[String, Double]) = {
    import spark.implicits._
    val ticks0 = Host.cpuTicks()
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val (secs, fails) = passes(spark, seconds * 0.6)
    counters.snapshot(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    val sparkM = Layers.spark(counters, secs.sum, cores)
    val steal = Host.stealShare(ticks0, Host.cpuTicks())

    // one staged pass: every operator's output is materialized inside its
    // own span, so each stage's time is its own
    val tracer = new Tracer(true)
    val staged = new Stage {
      def apply(name: String)(df: => DataFrame): DataFrame = tracer.span(name, 0) {
        if (name == "sink.write") df else df.localCheckpoint(eager = true)
      }
    }
    val (stagedS, stagedFails, rounds, pairs, sinkBytes) =
      tracer.span("curate.pass", 0)(pass(spark, tableDir, corpus.survivors, staged))
    tracer.write(traceFile)

    // candidate pairs the LSH banding proposed (the rerank keeps `pairs`)
    val uniq = Tables(spark, tableDir.toString, "documents").join(
      SparkEntry.queries("d1_exact_dedup")(spark, tableDir.toString).select($"keep_id".as("doc_id")), "doc_id")
      .select($"doc_id", $"text")
    val (bands, _) = MinHashDedup.lshIndex(spark, uniq)
    val candidates = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.hv" === $"y.hv" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id", $"y.doc_id").distinct().count().toDouble
    val kept = pairs.count().toDouble

    val self = tracer.selfNs.withDefaultValue(0L)
    def s(n: String) = self(n) / 1e9
    val medianPass = Stats.median(secs)
    val layers = sparkM ++ Map(
      "operators.exact_dedup_s" -> s("operators.exact_dedup"),
      "operators.minhash_s" -> s("operators.minhash"),
      "operators.cc_s" -> s("operators.cc"),
      "operators.cc_rounds" -> rounds.toDouble,
      "operators.quality_s" -> s("operators.quality"),
      "operators.candidates" -> candidates,
      "operators.pairs_kept" -> kept,
      "operators.pair_yield" -> (if (candidates > 0) kept / candidates else 0.0),
      "operators.docs_out" -> corpus.survivors.size.toDouble,
      "sources.files" -> Files.list(tableDir.resolve("documents.parquet")).iterator().asScala
        .count(_.toString.endsWith(".parquet")).toDouble,
      "sources.input_mb" -> Main.treeBytes(tableDir) / 1048576.0,
      "sources.partitions" -> Tables(spark, tableDir.toString, "documents").rdd.getNumPartitions.toDouble,
      "sink.write_s" -> s("sink.write"),
      "sink.mb" -> sinkBytes / 1048576.0,
      "trace.overhead_share" -> (stagedS - medianPass) / medianPass,
      "trace.accounted_share" -> (self.values.sum - self("curate.pass")) / 1e9 / stagedS,
      "host.load_avg" -> Host.loadAvg1(), "host.steal_share" -> steal)
    (result(secs, fails ++ stagedFails, Seq(f"staged pass=${stagedS}%.3fs")), layers)
  }
}

object CurateCorpus {
  /** Wraps one stage of the chain: lazily (the measured run) or
    * materialized inside a span (the traced run). */
  trait Stage {
    def apply(name: String)(df: => DataFrame): DataFrame
  }
  object Stage {
    val Lazy: Stage = new Stage { def apply(name: String)(df: => DataFrame): DataFrame = df }
  }

  /** Rows in the seeded documents table. */
  val Docs = 20000
  /** Rows in the separate warm-up table: enough that the chain's hot code
    * is compiled before the first measured pass. */
  val WarmDocs = 20000
  val WarmPasses = 4
  /** Jaccard distance at or under which two documents are near duplicates. */
  val Threshold = 0.5
  val MinPasses = 3
}
