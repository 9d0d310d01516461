package graft.api

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import scala.util.matching.Regex

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.Health
import graft.ingest.UploadValidation
import graft.ingest.UploadValidation.{Upload, ValidationError}
import graft.jobs.JobService
import graft.kernel.ConvertKernel
import graft.kernel.ConvertKernel.{ConversionConfig, ConversionResult}

/** The reference's HTTP query surface (route.py:38-156, main.py:11-50) on
  * the JDK's built-in HTTP server — zero new dependencies. Endpoints:
  *
  *   POST /documents/convert            sync single   (route.py:38-59)
  *   POST /documents/batch-convert      sync batch    (route.py:62-84)
  *   POST /conversion-jobs              async single  (route.py:88-110)
  *   GET  /conversion-jobs/{id}         job status    (route.py:113-119)
  *   POST /batch-conversion-jobs        async batch   (route.py:122-145)
  *   GET  /batch-conversion-jobs/{id}   batch status  (route.py:148-156)
  *   GET  /health                       liveness      (main.py:32-34)
  *   GET  /health/ready                 readiness     (main.py:37-47)
  *
  * Request/response semantics mirror the reference: multipart/form-data
  * uploads (field `document` / `documents`), query params
  * `extract_tables_as_images` (default false) and `image_resolution_scale`
  * (default 4, 422 outside [1,4] like FastAPI's Query(ge, le)), validation
  * failures as `{"detail": ...}` with the reference's 400/413 texts, and
  * `response_model_exclude_unset` rendering (unset/None fields omitted
  * from JSON). Async jobs submit to the [[JobService.Ledger]] and convert
  * one at a time on a single background thread (the Celery-worker
  * analog), which first drains the jobs a previous server left pending;
  * status endpoints read the ledger with the unknown-id⇒IN_PROGRESS
  * quirk intact.
  *
  * CORS (O23, main.py:20-30): `corsOrigins` is the comma-separated
  * CORS_ALLOW_ORIGINS string — split, trimmed, empties dropped, default
  * `*`; credentials are allowed exactly when the origin list is not
  * `["*"]`. Preflight OPTIONS answers 200 with the allow headers; every
  * response carries Access-Control-Allow-Origin when the request origin
  * is allowed.
  *
  * Scale note: this is the DRIVER-EDGE of the engine, like the reference's
  * FastAPI front-end — uploads are bounded by the same byte accounting
  * (UploadValidation), conversion runs through the same kernel, and the
  * async path hands off to the ledger's worker thread, which runs the
  * same kernel in-process. The HTTP layer holds no per-request state
  * beyond the exchange. Every
  * accepted connection has TCP_NODELAY set, as uvicorn's asyncio
  * transport does for the reference: the JDK server writes the headers
  * and the body of a reply as two segments, and with Nagle's algorithm
  * on, the body would wait for the client's delayed ACK of the headers
  * (~40 ms on Linux) on every busy keep-alive connection.
  */
object HttpApi {

  // ------------------------------------------------------------- multipart

  /** One part of a multipart/form-data body. */
  final case class Part(name: String, filename: Option[String],
                        data: Array[Byte])

  private val BoundaryRe: Regex = """boundary="?([^";,]+)"?""".r.unanchored
  private val NameRe: Regex = """name="([^"]*)"""".r.unanchored
  private val FilenameRe: Regex = """filename="([^"]*)"""".r.unanchored

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(0, from)
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Parse a multipart/form-data body given the request Content-Type.
    * Returns parts in document order; parts without a Content-Disposition
    * name are dropped. Tolerates a missing terminal CRLF and quoted
    * boundaries; malformed bodies yield Seq.empty (the caller 400s on "no
    * usable parts", matching FastAPI's behavior of rejecting a request
    * whose File(...) field is absent). */
  def parseMultipart(contentType: String, body: Array[Byte]): Seq[Part] = {
    val boundary = contentType match {
      case BoundaryRe(b) => b
      case _ => return Seq.empty
    }
    val delim = ("--" + boundary).getBytes(StandardCharsets.ISO_8859_1)
    val parts = Seq.newBuilder[Part]
    var pos = indexOf(body, delim, 0)
    while (pos >= 0) {
      val next = indexOf(body, delim, pos + delim.length)
      if (next < 0) {
        pos = -1 // terminal "--boundary--" (or truncated body): done
      } else {
        // part content sits between the two delimiters, framed by CRLFs
        var start = pos + delim.length
        if (start + 1 < body.length && body(start) == '\r' && body(start + 1) == '\n')
          start += 2
        var end = next
        if (end - 2 >= start && body(end - 2) == '\r' && body(end - 1) == '\n')
          end -= 2
        if (end > start) {
          val hdrEnd = indexOf(body, "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1), start)
          if (hdrEnd >= 0 && hdrEnd < end) {
            val headers = new String(body, start, hdrEnd - start, StandardCharsets.UTF_8)
            val data = java.util.Arrays.copyOfRange(body, hdrEnd + 4, end)
            val disp = headers.linesIterator
              .find(_.toLowerCase.startsWith("content-disposition:"))
              .getOrElse("")
            val name = NameRe.findFirstMatchIn(disp).map(_.group(1))
            val filename = FilenameRe.findFirstMatchIn(disp).map(_.group(1))
            name.foreach(n => parts += Part(n, filename, data))
          }
        }
        pos = next
        // stop scanning after the terminal marker
        val tail = pos + delim.length
        if (tail + 1 < body.length && body(tail) == '-' && body(tail + 1) == '-')
          pos = -1
      }
    }
    parts.result()
  }

  // ----------------------------------------------------------------- JSON

  /** `s` as the body of a JSON string: `"`, `\\`, `\n`, `\r` and `\t`
    * get their short escapes, other control chars `\u00XX`; everything
    * else, non-ASCII too, is copied. Returns `s` itself when nothing needs
    * escaping (base64 payloads never do). */
  private[api] def esc(s: String): String = {
    var i = 0
    while (i < s.length && s.charAt(i) >= ' ' && s.charAt(i) != '"' && s.charAt(i) != '\\') i += 1
    if (i == s.length) return s
    val out = new java.lang.StringBuilder(s.length + 16).append(s, 0, i)
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => out.append("\\\"")
        case '\\' => out.append("\\\\")
        case '\n' => out.append("\\n")
        case '\r' => out.append("\\r")
        case '\t' => out.append("\\t")
        case c if c < ' ' => out.append("\\u00").append(Hex(c >> 4)).append(Hex(c & 0xF))
        case c => out.append(c)
      }
      i += 1
    }
    out.toString
  }
  private val Hex = "0123456789abcdef"

  private def jStr(s: String): String = "\"" + esc(s) + "\""

  /** ConversionResult with exclude_unset semantics: success rows carry
    * filename/markdown/images, failure rows filename/error
    * (service.py:150-158 constructs exactly those field sets). */
  def conversionResultJson(r: ConversionResult): String = {
    val fields = Seq.newBuilder[String]
    fields += s""""filename":${jStr(r.filename)}"""
    if (r.error == null) {
      fields += s""""markdown":${jStr(if (r.markdown == null) "" else r.markdown)}"""
      val imgs = r.images.map(i =>
        s"""{"type":${jStr(i.`type`)},"filename":${jStr(i.filename)},"image":${jStr(i.image)}}""")
      fields += s""""images":[${imgs.mkString(",")}]"""
    } else {
      fields += s""""error":${jStr(r.error)}"""
    }
    fields.result().mkString("{", ",", "}")
  }

  def jobResultJson(r: JobService.JobResult): String = {
    val fields = Seq.newBuilder[String]
    fields += s""""job_id":${jStr(r.jobId)}"""
    r.result.foreach(cr => fields += s""""result":${conversionResultJson(cr)}""")
    r.error.foreach(e => fields += s""""error":${jStr(e)}""")
    fields += s""""status":${jStr(r.status)}"""
    fields.result().mkString("{", ",", "}")
  }

  def batchJobResultJson(r: JobService.BatchJobResult): String = {
    val fields = Seq.newBuilder[String]
    fields += s""""job_id":${jStr(r.jobId)}"""
    fields += s""""conversion_results":[${r.conversionResults.map(jobResultJson).mkString(",")}]"""
    fields += s""""status":${jStr(r.status)}"""
    r.error.foreach(e => fields += s""""error":${jStr(e)}""")
    fields.result().mkString("{", ",", "}")
  }

  // ---------------------------------------------------------- query string

  /** The value of an ASCII hex digit byte, or -1. */
  private def hexValue(b: Byte): Int = if (b >= 0) Character.digit(b.toChar, 16) else -1

  /** One form-urlencoded component decoded as Python's `parse_qsl` does:
    * `+` is a space, `%XX` with two ASCII hex digits is a byte, any other
    * `%` (`%zz`, a trailing `%`) stays literal, and bytes that are not
    * UTF-8 decode to U+FFFD. Never throws, unlike URLDecoder. Works on
    * the UTF-8 bytes: `%`, `+` and hex digits never occur inside a
    * multi-byte sequence. */
  private def formDecode(s: String): String = {
    val in = s.getBytes(StandardCharsets.UTF_8)
    val out = new java.io.ByteArrayOutputStream(in.length)
    var i = 0
    while (i < in.length) {
      if (in(i) == '+') {
        out.write(' '); i += 1
      } else if (in(i) == '%' && i + 2 < in.length &&
                 hexValue(in(i + 1)) >= 0 && hexValue(in(i + 2)) >= 0) {
        out.write(hexValue(in(i + 1)) * 16 + hexValue(in(i + 2))); i += 3
      } else {
        out.write(in(i)); i += 1
      }
    }
    new String(out.toByteArray, StandardCharsets.UTF_8)
  }

  /** The raw query string (null when absent) as `name -> value`; the
    * last value wins for a repeated name, like Starlette's QueryParams. */
  private[api] def queryParams(rawQuery: String): Map[String, String] =
    Option(rawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        formDecode(k) -> formDecode(v)
      }.toMap

  /** FastAPI Query(ge=1, le=4) semantics: out-of-range or non-integer
    * params are a 422 validation error before the handler runs. */
  private[api] def parseConfig(params: Map[String, String]): Either[String, ConversionConfig] = {
    val extract = params.get("extract_tables_as_images")
      .map(_.toLowerCase).map {
        case "true" | "1" => Right(true)
        case "false" | "0" => Right(false)
        case other => Left(s"extract_tables_as_images: invalid boolean '$other'")
      }.getOrElse(Right(false))
    val scale = params.get("image_resolution_scale").map { s =>
      s.toIntOption match {
        case Some(n) if n >= 1 && n <= 4 => Right(n)
        case Some(n) => Left(s"image_resolution_scale: $n not in [1, 4]")
        case None => Left(s"image_resolution_scale: invalid integer '$s'")
      }
    }.getOrElse(Right(4))
    for (e <- extract; sc <- scale)
      yield ConversionConfig(extractTablesAsImages = e, imageResolutionScale = sc)
  }

  // --------------------------------------------------------------- server

  /** How much of an over-cap request body is read and dropped before the
    * 413, in multiples of the endpoint's payload budget. */
  private val LingerBudgets = 4

  /** How often the worker thread sweeps expired jobs. */
  private val SweepEveryMillis: Long = 60L * 60 * 1000

  /** A running API server bound to `port` (0 = ephemeral; read the actual
    * one from `boundPort`). `ledgerRoot` hosts the async jobs ledger. */
  final class Server(spark: SparkSession, port: Int, ledgerRoot: String,
                     corsOrigins: String = "*",
                     maxFileMb: Int = UploadValidation.DefaultMaxFileMb,
                     maxBatchMb: Int = UploadValidation.DefaultMaxBatchMb) {

    private val ledger = new JobService.Ledger(ledgerRoot)
    private val http = {
      // sendResponseHeaders flushes the status line and headers as their
      // own segment and respond() writes the body as a second one; with
      // Nagle's algorithm on, that second segment waits for the client's
      // ACK of the first, which a Linux client in interactive mode delays
      // by ~40 ms. The JDK reads this property once, when ServerConfig
      // initialises at the first HttpServer.create in the JVM, so it must
      // be set before that call; this class is the only code that
      // creates one.
      System.setProperty("sun.net.httpserver.nodelay", "true")
      HttpServer.create(new InetSocketAddress(port), 0)
    }
    private val pool = Executors.newFixedThreadPool(8)
    private val workers = Executors.newSingleThreadExecutor()

    /** main.py:20-23: comma-split, trim, drop empties; empty list ⇒ ["*"]. */
    private val origins: Seq[String] = {
      val parsed = corsOrigins.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (parsed.isEmpty) Seq("*") else parsed
    }
    private val allowCredentials = origins != Seq("*")

    def boundPort: Int = http.getAddress.getPort

    /** When the worker thread next sweeps expired jobs (epoch ms); only
      * that thread touches it. */
    private var nextSweep = 0L

    /** Deletes jobs completed more than [[JobService.ResultExpiresMillis]]
      * ago, at most once an hour, so a long-lived server's ledger stays
      * bounded. Runs on the worker thread only, after a job, so it never
      * races a conversion. */
    private def sweepIfDue(): Unit = {
      val now = System.currentTimeMillis()
      if (now >= nextSweep) {
        nextSweep = now + SweepEveryMillis
        ledger.sweepExpired(JobService.ResultExpiresMillis, now)
      }
    }

    def start(): this.type = {
      // jobs a previous server accepted but never finished; submits made
      // from here on queue behind this drain on the one worker thread
      workers.execute { () => ledger.processAllPending(spark); sweepIfDue() }
      http.setExecutor(pool)
      http.createContext("/", handler)
      http.start()
      this
    }

    def stop(): Unit = {
      http.stop(0)
      pool.shutdownNow()
      // interrupting a job mid-conversion is safe: its results land by
      // atomic rename, so it leaves no results file and stays pending
      // for the next start's drain
      workers.shutdownNow()
      ()
    }

    // ---- CORS ----

    private def corsHeaders(ex: HttpExchange): Unit = {
      val reqOrigin = Option(ex.getRequestHeaders.getFirst("Origin"))
      val allow =
        if (origins == Seq("*")) Some("*")
        else reqOrigin.filter(origins.contains)
      allow.foreach { o =>
        ex.getResponseHeaders.set("Access-Control-Allow-Origin", o)
        if (allowCredentials)
          ex.getResponseHeaders.set("Access-Control-Allow-Credentials", "true")
      }
    }

    private def preflight(ex: HttpExchange): Unit = {
      corsHeaders(ex)
      ex.getResponseHeaders.set("Access-Control-Allow-Methods", "*")
      ex.getResponseHeaders.set("Access-Control-Allow-Headers", "*")
      ex.sendResponseHeaders(200, -1)
      ex.close()
    }

    // ---- plumbing ----

    private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
      val bytes = json.getBytes(StandardCharsets.UTF_8)
      corsHeaders(ex)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os: OutputStream = ex.getResponseBody
      os.write(bytes)
      os.close()
    }

    private def detail(ex: HttpExchange, status: Int, msg: String): Unit =
      respond(ex, status, s"""{"detail":${jStr(msg)}}""")

    /** Bounded body read — the server-edge twin of UploadValidation's
      * bounded reads: never buffer more than the endpoint's payload budget
      * plus multipart framing slack (25% + 1 MiB — per-part framing is
      * ~200 bytes, so the slack covers any batch whose average part is a
      * kilobyte or more; beyond that the cap's memory bound deliberately
      * wins over 413-text fidelity). A Content-Length above the cap is
      * refused before reading a byte; otherwise the buffer is pre-sized
      * to the declared length. Returns None when the body overruns the
      * cap; an over-cap body is over the payload budget by construction,
      * so no such valid request is ever truncated. */
    private def readBodyBounded(ex: HttpExchange, budgetBytes: Long): Option[Array[Byte]] = {
      val cap = budgetBytes + math.max(1L << 20, budgetBytes / 4)
      val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
        .flatMap(_.toLongOption)
      if (declared.exists(_ > cap)) return None
      val in = ex.getRequestBody
      val out = new java.io.ByteArrayOutputStream(
        declared.filter(d => d > 0 && d <= cap).map(_.toInt).getOrElse(8192))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0 && out.size <= cap) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      if (out.size > cap) None else Some(out.toByteArray)
    }

    /** Lingering close: read and drop up to `limit` more body bytes. */
    private def discard(in: java.io.InputStream, limit: Long): Unit = {
      val buf = new Array[Byte](64 * 1024)
      var left = limit
      var n = 0
      while (left > 0 && n >= 0) {
        n = in.read(buf, 0, math.min(buf.length.toLong, left).toInt)
        if (n > 0) left -= n
      }
    }

    /** None ⇒ the body overran the endpoint's cap and a 413 was already
      * sent — the single-doc endpoint caps at the FILE budget with the
      * file error text, the batch endpoint at the BATCH budget with the
      * batch text (mirroring which limit readAndValidate* would have
      * reported for an over-budget payload). */
    private def uploadsOf(ex: HttpExchange, field: String,
                          batch: Boolean): Option[Seq[Upload]] = {
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      val budget =
        if (batch) UploadValidation.mbToBytes(maxBatchMb)
        else UploadValidation.mbToBytes(maxFileMb)
      readBodyBounded(ex, budget) match {
        case None =>
          // the JDK server drains only 64 KB of a body left unread, and a
          // socket closed on unread data sends a TCP reset, which can
          // destroy the 413 before the client reads it; the rest is
          // dropped, not kept, and a body past the limit still gets reset
          discard(ex.getRequestBody, LingerBudgets * budget)
          detail(ex, 413,
            if (batch) UploadValidation.batchTooLargeError(maxBatchMb)
            else UploadValidation.fileTooLargeError(maxFileMb))
          None
        case Some(body) =>
          Some(parseMultipart(ct, body).filter(_.name == field).map { p =>
            new Upload {
              val filename: String = p.filename.getOrElse("unnamed")
              val declaredSize: Option[Long] = Some(p.data.length.toLong)
              def read(n: Long): Array[Byte] =
                p.data.take(math.min(n, p.data.length.toLong).toInt)
            }
          })
      }
    }

    // ---- handlers ----

    private val handler = new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        try route(ex)
        catch {
          case e: Exception =>
            try detail(ex, 500, String.valueOf(e.getMessage))
            catch { case _: Exception => () }
        } finally ex.close()
    }

    private def route(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val method = ex.getRequestMethod.toUpperCase
      (method, path) match {
        case ("OPTIONS", _) => preflight(ex)
        case ("GET", "/health") =>
          respond(ex, 200, """{"status":"ok"}""")
        case ("GET", "/health/ready") =>
          // main.py:37-47 probes the broker; our "broker" is the Spark
          // session the ledger worker drains with
          if (Health.ready(spark)) respond(ex, 200, """{"status":"ok","broker":"ok"}""")
          else respond(ex, 200, """{"status":"degraded","broker":"unreachable"}""")
        case ("POST", "/documents/convert") => syncConvert(ex, batch = false)
        case ("POST", "/documents/batch-convert") => syncConvert(ex, batch = true)
        case ("POST", "/conversion-jobs") => submitJob(ex, batch = false)
        case ("POST", "/batch-conversion-jobs") => submitJob(ex, batch = true)
        case ("GET", p) if p.startsWith("/conversion-jobs/") =>
          val id = p.stripPrefix("/conversion-jobs/")
          respond(ex, 200, jobResultJson(ledger.singleStatus(spark, id)))
        case ("GET", p) if p.startsWith("/batch-conversion-jobs/") =>
          val id = p.stripPrefix("/batch-conversion-jobs/")
          respond(ex, 200, batchJobResultJson(ledger.batchStatus(spark, id)))
        case _ => detail(ex, 404, "Not Found")
      }
    }

    private def validated(ex: HttpExchange, batch: Boolean): Either[Unit, Seq[(String, Array[Byte])]] = {
      val field = if (batch) "documents" else "document"
      val uploads = uploadsOf(ex, field, batch) match {
        case None => return Left(()) // body overran the cap; 413 already sent
        case Some(ups) => ups
      }
      if (uploads.isEmpty) {
        detail(ex, 400, s"Field '$field' is required")
        return Left(())
      }
      val result =
        if (batch) UploadValidation.readAndValidateBatch(uploads, maxFileMb, maxBatchMb)
        else UploadValidation.readAndValidateDocument(uploads.head, maxFileMb).map(Seq(_))
      result match {
        case Left(ValidationError(status, msg)) => detail(ex, status, msg); Left(())
        case Right(docs) => Right(docs)
      }
    }

    private def syncConvert(ex: HttpExchange, batch: Boolean): Unit =
      parseConfig(queryParams(ex.getRequestURI.getRawQuery)) match {
        case Left(msg) => detail(ex, 422, msg)
        case Right(config) =>
          validated(ex, batch).foreach { docs =>
            val results = docs.map { case (name, bytes) =>
              ConvertKernel.convertOne(name, bytes, config, batchMode = batch)
            }
            if (batch)
              respond(ex, 200, results.map(conversionResultJson).mkString("[", ",", "]"))
            else if (results.head.error != null)
              // O17 sync error escalation (service.py:196-199): a single
              // sync conversion error is a 500, not an error row
              detail(ex, 500, results.head.error)
            else respond(ex, 200, conversionResultJson(results.head))
          }
      }

    private def submitJob(ex: HttpExchange, batch: Boolean): Unit =
      parseConfig(queryParams(ex.getRequestURI.getRawQuery)) match {
        case Left(msg) => detail(ex, 422, msg)
        case Right(config) =>
          validated(ex, batch).foreach { docs =>
            val id = ledger.submit(docs, batch, config)
            // the Celery-worker analog: convert off the request thread
            workers.execute { () => ledger.process(spark, id); sweepIfDue() }
            val json =
              if (batch)
                batchJobResultJson(JobService.BatchJobResult(id, Seq.empty, JobService.InProgress, None))
              else jobResultJson(JobService.JobResult(id, None, None, JobService.InProgress))
            respond(ex, 200, json)
          }
      }
  }
}
