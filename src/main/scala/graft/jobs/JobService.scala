package graft.jobs

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.{Base64, UUID}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.kernel.ConvertKernel
import graft.kernel.ConvertKernel.{ConversionConfig, ConversionResult, FileOptions, ImageData}

/** Async job orchestration (SURVEY.md O18-O22) — the reference's
  * Celery/Redis plane (worker/tasks.py, service.py:204-273) re-expressed as
  * a filesystem jobs ledger that its worker converts in-process:
  *
  *   submit  → payload bytes persisted as `<idx>.bin` under
  *             `<ledger>/requests/<job_id>/` with client filenames in a
  *             base64 `_MANIFEST` sidecar (the Redis broker boundary) —
  *             filenames never become paths, so traversal is impossible —
  *             and the request's conversion options in an `_OPTIONS`
  *             sidecar ([[FileOptions]]' string form as a JSON object);
  *   process → [[ConvertKernel.convertOne]] per document in submission
  *             order, like the reference's convert_all
  *             (service.py:171-186), written as one JSON-lines file
  *             `<ledger>/results/<job_id>/results.jsonl` (the result
  *             backend boundary) by temp name and atomic rename — the
  *             file is the completion marker, and a write cut short
  *             leaves the job pending;
  *   status  → read-side state machine, reproducing the reference exactly:
  *             * unknown job_id ⇒ IN_PROGRESS (Celery PENDING means
  *               "unknown", service.py:230-231 — deliberately NOT "fixed"),
  *             * single job: result error ⇒ job FAILURE (service.py:233-237),
  *             * batch job: SUCCESS as long as the task ran, even if every
  *               document failed (service.py:247-251); per-document
  *               statuses nested inside,
  *             * task-level exception ⇒ FAILURE with the message.
  *
  * No ledger call touches Spark. The `spark` parameters (and `process`'s
  * `config`) are unused; they stay so the benchmark harness, which
  * compiles against these signatures, keeps building.
  */
object JobService {

  val InProgress = "IN_PROGRESS"
  val Success = "SUCCESS"
  val Failure = "FAILURE"

  /** How long a completed job's results are kept: Celery's
    * `result_expires` default, 24 h (see [[Ledger.sweepExpired]]). */
  val ResultExpiresMillis: Long = 24L * 60 * 60 * 1000

  final case class JobResult(
      jobId: String,
      result: Option[ConversionResult],
      error: Option[String],
      status: String)

  final case class BatchJobResult(
      jobId: String,
      conversionResults: Seq[JobResult],
      status: String,
      error: Option[String])

  private val Json = new ObjectMapper()

  /** One results line; Jackson escapes control characters, so a result
    * never spans lines. Null fields stay JSON null. */
  private[jobs] def resultJson(r: ConversionResult): String = {
    val n = Json.createObjectNode()
      .put("filename", r.filename).put("markdown", r.markdown).put("error", r.error)
    val images = n.putArray("images")
    r.images.foreach(i => images.addObject()
      .put("type", i.`type`).put("filename", i.filename).put("image", i.image))
    Json.writeValueAsString(n)
  }

  private[jobs] def parseResult(line: String): ConversionResult = {
    val n = Json.readTree(line)
    def text(node: JsonNode, field: String): String =
      Option(node.get(field)).filterNot(_.isNull).map(_.asText).orNull
    ConversionResult(text(n, "filename"), text(n, "markdown"),
      n.get("images").elements().asScala.map(i =>
        ImageData(text(i, "type"), text(i, "filename"), text(i, "image"))).toSeq,
      text(n, "error"))
  }

  final class Ledger(val root: String) {
    private def reqDir(id: String) = Paths.get(root, "requests", id)
    private def resDir(id: String) = Paths.get(root, "results", id)
    private def failFile(id: String) = resDir(id).resolve("_TASK_FAILED")
    private def resultsFile(id: String) = resDir(id).resolve("results.jsonl")
    private def optionsFile(id: String) = reqDir(id).resolve("_OPTIONS")
    private def manifestFile(id: String) = reqDir(id).resolve("_MANIFEST")

    /** Enqueue: persist payload rows as index-named files plus a filename
      * manifest and the conversion options; returns the job id. Client
      * filenames go through base64 — never interpreted as paths (no
      * traversal, no name mangling). */
    def submit(docs: Seq[(String, Array[Byte])], batch: Boolean,
               config: ConversionConfig = ConversionConfig()): String = {
      val id = UUID.randomUUID().toString
      val dir = reqDir(id)
      Files.createDirectories(dir)
      // empty → "unnamed" like the reference's `filename or "unnamed"`
      // (Python-falsy ""), and so no manifest line is ever empty (an empty
      // line would shift the idx→name mapping on read)
      val manifest = docs.map { case (name, _) =>
        Base64.getEncoder.encodeToString(
          Option(name).filter(_.nonEmpty).getOrElse("unnamed")
            .getBytes(StandardCharsets.UTF_8))
      }.mkString("\n")
      Files.write(manifestFile(id), manifest.getBytes(StandardCharsets.UTF_8))
      docs.zipWithIndex.foreach { case ((_, bytes), i) =>
        Files.write(dir.resolve(f"$i%05d.bin"), bytes)
      }
      Files.write(optionsFile(id),
        Json.writeValueAsBytes(FileOptions(config, batchMode = batch).toOptions.asJava))
      id
    }

    private def readManifest(id: String): IndexedSeq[String] =
      Files.readAllLines(manifestFile(id), StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty)
        .map(l => new String(Base64.getDecoder.decode(l), StandardCharsets.UTF_8))
        .toIndexedSeq

    private def readOptions(id: String): FileOptions =
      FileOptions.fromOptions(Json.readValue(Files.readAllBytes(optionsFile(id)),
        classOf[java.util.Map[String, String]]).asScala.toMap)

    def pendingJobs(): Seq[String] = {
      val req = Paths.get(root, "requests")
      if (!Files.isDirectory(req)) return Seq.empty
      Files.list(req).iterator().asScala.map(_.getFileName.toString)
        .filterNot(id => Files.exists(resultsFile(id)) || Files.exists(failFile(id)))
        .toSeq.sorted
    }

    def isBatch(id: String): Boolean =
      Files.exists(optionsFile(id)) && readOptions(id).batchMode

    /** Worker drain: convert one pending job in this thread with the
      * options stored at submit; `spark` and `config` are unused. Never
      * throws: an exception is a task failure, except that an interrupt
      * (server stop) records nothing, so the job stays pending. */
    def process(spark: SparkSession, id: String,
                config: ConversionConfig = ConversionConfig()): Unit =
      try {
        val dir = reqDir(id)
        if (!Files.isDirectory(dir))
          throw new IllegalStateException(s"no such job: $id")
        val options = readOptions(id)
        val names = readManifest(id)
        Files.createDirectories(resDir(id))
        // a temp name of its own, so two servers draining one ledger
        // never write into each other's file
        val tmp = Files.createTempFile(resDir(id), "results.jsonl.", ".tmp")
        val out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
        try names.zipWithIndex.foreach { case (name, i) =>
          val bytes = Files.readAllBytes(dir.resolve(f"$i%05d.bin"))
          out.write(resultJson(ConvertKernel.convertOne(
            name, bytes, options.config, batchMode = options.batchMode)))
          out.write('\n')
        } finally out.close()
        Files.move(tmp, resultsFile(id), StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: Exception if Thread.currentThread().isInterrupted => ()
        case e: Exception =>
          Files.createDirectories(resDir(id))
          Files.write(failFile(id), e.toString.getBytes("UTF-8"),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      }

    /** Convert every pending job, in id order; `spark` is unused. */
    def processAllPending(spark: SparkSession): Unit =
      pendingJobs().foreach(process(spark, _))

    /** Retention sweep (VERDICT r12 #8): the reference's Celery result
      * backend expires results after a TTL (`result_expires`, 24 h
      * default); without an analog this filesystem ledger grows without
      * bound in a long-lived server. Deletes the request AND result
      * dirs of COMPLETED jobs (results or task-failure file present) whose
      * completion file is older than `ttlMillis`; in-progress jobs are
      * never touched, however old — only completion starts the clock,
      * exactly like Celery's backend. After expiry a status lookup
      * naturally falls back to the unknown-id ⇒ IN_PROGRESS quirk — the
      * same answer the reference gives once Celery forgets a task id
      * (service.py:230-231), spec-pinned. Returns the swept job ids
      * (sorted) so a caller can log them. `now` is injectable for
      * deterministic tests. */
    def sweepExpired(ttlMillis: Long,
                     now: Long = System.currentTimeMillis()): Seq[String] = {
      val res = Paths.get(root, "results")
      if (!Files.isDirectory(res)) return Seq.empty
      val ids = {
        val st = Files.list(res)
        try st.iterator().asScala.map(_.getFileName.toString).toSeq
        finally st.close()
      }
      val expired = ids.filter { id =>
        Seq(resultsFile(id), failFile(id)).find(Files.exists(_)).exists(m =>
          now - Files.getLastModifiedTime(m).toMillis >= ttlMillis)
      }.sorted
      expired.foreach { id =>
        deleteRecursively(reqDir(id))
        deleteRecursively(resDir(id))
      }
      expired
    }

    private def deleteRecursively(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        val st = Files.walk(p)
        try st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
        finally st.close()
      }

    /** Results in submission order, one line per submitted document. */
    private def readResults(id: String): Seq[ConversionResult] =
      Files.readAllLines(resultsFile(id), StandardCharsets.UTF_8).asScala.map(parseResult).toSeq

    private def taskError(id: String): String =
      new String(Files.readAllBytes(failFile(id)), StandardCharsets.UTF_8)

    /** Single-job status (service.py:220-242). `head` is deterministic:
      * the first-submitted document. `spark` is unused. */
    def singleStatus(spark: SparkSession, id: String): JobResult = {
      if (Files.exists(failFile(id)))
        JobResult(id, None, Some(taskError(id)), Failure)
      else if (Files.exists(resultsFile(id))) {
        readResults(id).headOption match {
          case None =>
            JobResult(id, None, Some("job produced no results"), Failure)
          case Some(r) if r.error != null =>
            JobResult(id, None, Some(r.error), Failure)
          case Some(r) => JobResult(id, Some(r), None, Success)
        }
      } else JobResult(id, None, None, InProgress) // unknown ⇒ IN_PROGRESS quirk
    }

    /** Batch-job status (service.py:244-273), per-document results in
      * submission order. `spark` is unused. */
    def batchStatus(spark: SparkSession, id: String): BatchJobResult = {
      if (Files.exists(failFile(id)))
        BatchJobResult(id, Seq.empty, Failure, Some(taskError(id)))
      else if (Files.exists(resultsFile(id))) {
        val per = readResults(id).map { r =>
          if (r.error != null) JobResult(id, None, Some(r.error), Failure)
          else JobResult(id, Some(r), None, Success)
        }
        // batch is SUCCESS even if every document failed
        BatchJobResult(id, per, Success, None)
      } else BatchJobResult(id, Seq.empty, InProgress, None)
    }
  }
}
