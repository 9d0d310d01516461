package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.ingest.{FormatDetection, Transcode}
import graft.kernel.{ConvertKernel, DocModel, ImageRenderer, ImageSplicer, OutputSerializers}
import graft.kernel.ConvertKernel.{ConversionConfig, ConversionResult, ImageData}

/** What one measured run hands back to Main: the operation latency median
  * and tail, and `docs` completed in `wallS` seconds for `docs_per_s`. */
final case class RunResult(attempted: Long, failed: Long, p50Ms: Double, tailMs: Double,
                           docs: Long, wallS: Double, notes: Seq[String])

object RunResult {
  /** A batch workload's passes: the median pass, and the slowest pass as the
    * tail whatever the pass count, so the tail means the same thing when a
    * faster program fits more passes into the run. */
  def passes(secs: Seq[Double], docsPerPass: Long, failed: Long, notes: Seq[String]): RunResult = {
    val ms = secs.map(_ * 1000)
    RunResult(secs.size * docsPerPass, failed, Stats.median(ms), ms.max,
      secs.size * docsPerPass - failed, secs.sum,
      s"passes ms: ${ms.map(m => f"$m%.0f").mkString(" ")} (tail_ms is the slowest)" +: notes)
  }
}

/** One benchmark workload. Main calls, in order: `generate` (not part of
  * set-up time), `setUp`, then `run` (end-to-end metrics) or `trace`
  * (per-layer metrics), then `tearDown`. */
trait Workload {
  def generate(spark: SparkSession): Unit
  /** Server bind and warm-up on separate inputs, never the measured ones. */
  def setUp(spark: SparkSession): Unit
  def tearDown(): Unit
  def run(spark: SparkSession, seconds: Int): RunResult
  /** The traced run: per-layer metrics by name (Layers.all fills the rest
    * with zeros), plus the run's own end-to-end result for the checks. */
  def trace(spark: SparkSession, seconds: Int, traceFile: Path): (RunResult, Map[String, Double])
}

/** Every per-layer metric the traced run prints, with its unit. A layer a
  * workload does not exercise reads 0 on that workload. */
object Layers {
  val Formats: Seq[String] = Seq("md", "csv", "html", "docx", "pptx", "pdf", "image")

  val all: Seq[(String, String)] = Seq(
    "api.requests" -> "count", "api.multipart_ms" -> "ms", "api.json_ms" -> "ms",
    "api.response_kb" -> "KB", "api.transport_ms" -> "ms",
    "api.sync_p50_ms" -> "ms", "api.sync_tail_ms" -> "ms",
    "api.batch_p50_ms" -> "ms", "api.batch_tail_ms" -> "ms",
    "ingest.validate_ms" -> "ms", "ingest.detect_ms" -> "ms", "ingest.transcode_ms" -> "ms",
    "ingest.rejected" -> "count",
    "kernel.docs" -> "count", "kernel.parse_ms" -> "ms") ++
    Formats.map(f => s"kernel.parse_ms.$f" -> "ms") ++ Seq(
    "kernel.render_ms" -> "ms", "kernel.images" -> "count", "kernel.image_mb" -> "MB",
    "kernel.serialize_ms" -> "ms", "kernel.splice_ms" -> "ms", "kernel.error_rows" -> "count",
    "jobs.submit_ms" -> "ms", "jobs.process_ms" -> "ms", "jobs.status_ms" -> "ms",
    "jobs.wait_ms" -> "ms", "jobs.polls" -> "count", "jobs.spark_jobs" -> "count",
    "jobs.job_p50_ms" -> "ms", "jobs.job_tail_ms" -> "ms",
    "sources.files" -> "count", "sources.input_mb" -> "MB", "sources.partitions" -> "count",
    "sources.scan_s" -> "s", "sink.write_s" -> "s", "sink.mb" -> "MB",
    "operators.exact_dedup_s" -> "s", "operators.minhash_s" -> "s", "operators.cc_s" -> "s",
    "operators.cc_rounds" -> "count", "operators.quality_s" -> "s",
    "operators.candidates" -> "count", "operators.pairs_kept" -> "count",
    "operators.pair_yield" -> "share", "operators.docs_out" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.busy_share" -> "share", "spark.task_skew" -> "ratio",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.parallel_eff" -> "share",
    "gen.late_p99_ms" -> "ms", "trace.overhead_share" -> "share",
    "trace.accounted_share" -> "share", "host.load_avg" -> "count", "host.steal_share" -> "share")

  /** The end-to-end metric and workload each layer's metrics should move. */
  private val Moves: Seq[(String, String)] = Seq(
    "api." -> "p50_ms, tail_ms on api_mixed",
    "ingest." -> "p50_ms on api_mixed; docs_per_s on convert_corpus",
    "kernel." -> "docs_per_s, p50_ms on convert_corpus; p50_ms on api_mixed",
    "jobs." -> "tail_ms, docs_per_s on api_mixed",
    "sources." -> "docs_per_s on convert_corpus and curate_corpus",
    "sink." -> "docs_per_s on convert_corpus and curate_corpus",
    "operators." -> "docs_per_s, p50_ms on curate_corpus",
    "spark." -> "tail_ms on api_mixed; docs_per_s on convert_corpus and curate_corpus")

  def moves(metric: String): String =
    Moves.collectFirst { case (prefix, target) if metric.startsWith(prefix) => target }
      .getOrElse("none (validity check)")

  /** Spark counters over a phase of `wallS` seconds on `cores` cores. */
  def spark(c: SparkCounters, wallS: Double, cores: Int): Map[String, Double] = {
    val taskS = c.runMs.get / 1000.0
    Map(
      "spark.jobs" -> c.jobs.get.toDouble, "spark.stages" -> c.stages.get.toDouble,
      "spark.tasks" -> c.tasks.get.toDouble, "spark.task_s" -> taskS,
      "spark.cpu_s" -> c.cpuNs.get / 1e9, "spark.gc_s" -> c.gcMs.get / 1000.0,
      "spark.busy_share" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "spark.task_skew" -> c.taskSkew,
      "spark.shuffle_mb" -> c.shuffleBytes.get / 1048576.0,
      "spark.spill_mb" -> c.spillBytes.get / 1048576.0)
  }

  /** Kernel and ingest self times (ms) and counts from a tracer. */
  def kernel(t: Tracer, results: Seq[ConversionResult]): Map[String, Double] = {
    val self = t.selfNs.withDefaultValue(0L)
    def ms(n: String) = self(n) / 1e6
    val parse = Formats.map(f => s"kernel.parse_ms.$f" -> ms(s"kernel.parse.$f")).toMap
    parse ++ Map(
      "kernel.docs" -> t.count("kernel.convert").toDouble,
      "kernel.parse_ms" -> parse.values.sum,
      "kernel.render_ms" -> ms("kernel.render"),
      "kernel.serialize_ms" -> ms("kernel.serialize"),
      "kernel.splice_ms" -> ms("kernel.splice"),
      "kernel.images" -> results.map(_.images.size).sum.toDouble,
      "kernel.image_mb" -> results.flatMap(_.images).map(_.image.length * 3.0 / 4).sum / 1048576.0,
      "kernel.error_rows" -> results.count(_.error != null).toDouble,
      "ingest.detect_ms" -> ms("ingest.detect"),
      "ingest.transcode_ms" -> ms("ingest.transcode"))
  }
}

/** ConvertKernel.convertOne composed from the kernel's public functions, so
  * the traced run can time detection, transcode, parse, render, serialize
  * and splice separately. Traced runs compare its output with the
  * program's own convertOne and count any difference as a failure, so the
  * trace always measures the work the program really does. */
object KernelReplica {

  def convert(t: Tracer, req: Long, filename: String, content: Array[Byte],
              config: ConversionConfig, batchMode: Boolean): ConversionResult =
    t.span("kernel.convert", req) {
      val errorName = if (batchMode) filename else ConvertKernel.stemOf(filename)
      t.span("ingest.detect", req)(FormatDetection.guessFormat(content, filename)) match {
        case None => ConversionResult(errorName, null, Seq.empty, s"Unsupported file format: $filename")
        case Some(format) =>
          val csv =
            if (FormatDetection.isCsvFile(filename)) Some(t.span("ingest.transcode", req)(Transcode.transcodeCsv(content)))
            else None
          csv.flatMap(_.error) match {
            case Some(err) => ConversionResult(filename, null, Seq.empty, err)
            case None =>
              val bytes = csv.map(_.utf8Bytes).getOrElse(content)
              t.span(s"kernel.parse.$format", req)(ConvertKernel.ParserPool.parsers(format).parse(filename, bytes)) match {
                case Left(err) => ConversionResult(errorName, null, Seq.empty, err)
                case Right(tree) =>
                  val items = t.span("kernel.render", req)(tree.items.map {
                    case p: DocModel.PictureElement if p.imagePng.isEmpty =>
                      p.copy(imagePng = Some(p.rawMedia
                        .flatMap(ImageRenderer.renderEmbedded(_, config.imageResolutionScale))
                        .getOrElse(ImageRenderer.renderPicture(config.imageResolutionScale))))
                    case tb: DocModel.TableElement if config.extractTablesAsImages && tb.imagePng.isEmpty =>
                      tb.copy(imagePng = Some(ImageRenderer.renderTable(tb.numRows, tb.numCols, config.imageResolutionScale)))
                    case e => e
                  })
                  val rendered = t.span("kernel.serialize", req)(
                    OutputSerializers.byFormat(config.outputFormat).serialize(DocModel.DocTree(tree.name, items)))
                  val (out, images) = t.span("kernel.splice", req)(ImageSplicer.splice(rendered, items))
                  ConversionResult(ConvertKernel.stemOf(filename), out,
                    images.map(i => ImageData(i.imageType, i.filename, i.base64Png)), null)
              }
          }
      }
    }

  /** Equal outputs (image payloads compared by content). */
  def same(a: ConversionResult, b: ConversionResult): Boolean =
    a.filename == b.filename && a.markdown == b.markdown && a.error == b.error &&
      a.images.map(i => (i.`type`, i.filename, i.image)) == b.images.map(i => (i.`type`, i.filename, i.image))
}
