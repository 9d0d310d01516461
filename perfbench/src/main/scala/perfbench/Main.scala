package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  * {{{
  *   Main --workload <api_mixed|convert_corpus|curate_corpus> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> [--trace-dir <dir>]
  * }}}
  *
  * Generates the seed's inputs under `--work`, sets up (Spark session,
  * server, warm-up), then runs the workload for `--seconds` (at most
  * MaxSeconds). `setup_s` runs from JVM launch to the end of set-up, minus
  * input generation. Prints notes on stderr and, as the last stdout line, the
  * result object: the end-to-end metrics with `--trace 0`, the per-layer
  * metrics with `--trace 1` (whose spans go to `--trace-dir`). */
object Main {

  val Workloads: Seq[String] = Seq("api_mixed", "convert_corpus", "curate_corpus")
  /** The longest run; api_mixed generates requests for this many seconds. */
  val MaxSeconds = 60

  def main(args: Array[String]): Unit = {
    val launched = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", usage("missing --workload"))
    if (!Workloads.contains(name)) usage(s"unknown workload $name")
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage("--seed must be an integer"))
    val seconds = opts.get("seconds").flatMap(_.toIntOption).filter(s => s > 0 && s <= MaxSeconds)
      .getOrElse(usage(s"--seconds must be in 1..$MaxSeconds"))
    val traced = opts.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case other => usage(s"--trace must be 0 or 1, got $other")
    }
    val work = Paths.get(opts.getOrElse("work", usage("missing --work"))).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val wl: Workload = name match {
      case "api_mixed" => new ApiMixed(seed, work, cores)
      case "convert_corpus" => new ConvertCorpus(seed, work, cores)
      case "curate_corpus" => new CurateCorpus(seed, work, cores)
    }

    // set-up runs from JVM launch (JVM start, class loading, Spark session,
    // server bind, warm-up); input generation is excluded from it
    val spark = session(work, cores)
    val g0 = System.nanoTime()
    wl.generate(spark)
    val genS = (System.nanoTime() - g0) / 1e9
    wl.setUp(spark)
    val setupS = (System.currentTimeMillis() - launched) / 1000.0 - genS
    Report.log(f"workload=$name seed=$seed seconds=$seconds trace=$traced cores=$cores gen=${genS}%.2fs " +
      f"setup=${setupS}%.3fs")

    val line =
      try {
        if (!traced) {
          val r = wl.run(spark, seconds)
          r.notes.foreach(Report.log)
          require(r.attempted > 0 && r.wallS > 0, "the run measured nothing")
          Report.line(r.failed == 0, r.attempted, r.failed, Seq(
            Metric("setup_s", setupS, "s"),
            Metric("peak_rss_mb", Host.peakRssMb(), "MB"),
            Metric("ok_share", 1.0 - r.failed.toDouble / r.attempted, "share"),
            Metric("docs_per_s", r.docs / r.wallS, "1/s"),
            Metric("p50_ms", r.p50Ms, "ms"),
            Metric("tail_ms", r.tailMs, "ms")))
        } else {
          val traceFile = Paths.get(opts.getOrElse("trace-dir", work.resolve("traces").toString))
            .toAbsolutePath.resolve(s"$name-$seed.jsonl")
          val (r, layers) = wl.trace(spark, seconds, traceFile)
          r.notes.foreach(Report.log)
          Report.log(s"trace written to $traceFile")
          val metrics = Layers.all.map { case (n, u) => Metric(n, layers.getOrElse(n, 0.0), u) }
          metrics.foreach(m => Report.log(f"$name ${m.name} = ${m.value}%.4f ${m.unit} (moves ${Layers.moves(m.name)})"))
          Report.line(r.failed == 0, r.attempted, r.failed, metrics)
        }
      } finally {
        wl.tearDown()
        spark.stop()
        deleteTree(work)
      }
    println(line)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def session(work: Path, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
}
