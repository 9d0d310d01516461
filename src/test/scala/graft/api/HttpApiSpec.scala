package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import graft.SparkTestBase

/** Drives the HTTP surface end-to-end over real sockets: multipart
  * uploads, validation failures with the reference's status/detail
  * shapes, sync+async conversion, the unknown-job⇒IN_PROGRESS quirk,
  * batch-SUCCESS-despite-doc-failures, health probes, and CORS. */
class HttpApiSpec extends SparkTestBase {

  private lazy val ledgerDir =
    java.nio.file.Files.createTempDirectory("graft_api_ledger").toString
  private lazy val server =
    new HttpApi.Server(spark, 0, ledgerDir).start()
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private val Boundary = "graftspecboundary42"

  private def multipart(parts: (String, String, Array[Byte])*): Array[Byte] = {
    val sb = new java.io.ByteArrayOutputStream()
    parts.foreach { case (field, filename, data) =>
      sb.write((s"--$Boundary\r\n" +
        s"""Content-Disposition: form-data; name="$field"; filename="$filename"\r\n""" +
        "Content-Type: application/octet-stream\r\n\r\n").getBytes(StandardCharsets.UTF_8))
      sb.write(data)
      sb.write("\r\n".getBytes(StandardCharsets.UTF_8))
    }
    sb.write(s"--$Boundary--\r\n".getBytes(StandardCharsets.UTF_8))
    sb.toByteArray
  }

  private def post(path: String, body: Array[Byte],
                   headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", s"multipart/form-data; boundary=$Boundary")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  /** Reads one response (status line, headers, Content-Length body) off a
    * raw connection, leaving the connection at the next response. */
  private def readResponse(in: java.io.InputStream): (Int, String) = {
    def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed mid-response")
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }
    val status = line().split(" ")(1).toInt
    var length = 0
    var header = line()
    while (header.nonEmpty) {
      val colon = header.indexOf(':')
      if (header.substring(0, colon).trim.equalsIgnoreCase("Content-Length"))
        length = header.substring(colon + 1).trim.toInt
      header = line()
    }
    (status, new String(in.readNBytes(length), StandardCharsets.UTF_8))
  }

  /** A raw client socket to the shared server, configured as a real
    * client would be (TCP_NODELAY on, so its own requests never wait). */
  private def rawSocket(): java.net.Socket = {
    val sock = new java.net.Socket("127.0.0.1", server.boundPort)
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(10000)
    sock
  }

  test("JSON escaping: one pass, same output as the per-char form, input returned when clean") {
    // the per-char form it replaced, as the reference
    def perChar(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val cases = Seq("", "plain ascii", "say \"hi\"", "C:\\path\\to", "a\nb\rc\td",
      (0 until 32).map(_.toChar).mkString, "\u007f\u0080 \u00e9t\u00e9 \u4e2d\u6587 \uD83D\uDE00",
      "mixed \"\u0001\\\n\u001f\u00ff end", "\u0000")
    cases.foreach(c => assert(HttpApi.esc(c) == perChar(c), c.map(_.toInt)))
    val clean = "aGVsbG8gd29ybGQ=" * 100
    assert(HttpApi.esc(clean) eq clean)
  }

  test("multipart parser: parts, filenames, binary-safe bodies") {
    val body = multipart(
      ("document", "a.md", "# Hi\r\nbody".getBytes(StandardCharsets.UTF_8)),
      ("documents", "b.csv", Array[Byte](0, 1, 2, '\r', '\n', 3)))
    val parts = HttpApi.parseMultipart(
      s"multipart/form-data; boundary=$Boundary", body)
    assert(parts.map(_.name) == Seq("document", "documents"))
    assert(parts.map(_.filename) == Seq(Some("a.md"), Some("b.csv")))
    assert(new String(parts.head.data, StandardCharsets.UTF_8) == "# Hi\r\nbody")
    assert(parts(1).data.toSeq == Seq[Byte](0, 1, 2, '\r', '\n', 3))
    // quoted boundary + garbage bodies
    assert(HttpApi.parseMultipart(
      s"""multipart/form-data; boundary="$Boundary"""", body).size == 2)
    assert(HttpApi.parseMultipart("text/plain", body).isEmpty)
    assert(HttpApi.parseMultipart(
      s"multipart/form-data; boundary=$Boundary", "junk".getBytes).isEmpty)
  }

  test("sync convert: markdown in, exclude-unset ConversionResult out") {
    val r = post("/documents/convert",
      multipart(("document", "note.md", "# Title\n\nText.".getBytes(StandardCharsets.UTF_8))))
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains(""""filename":"note""""), r.body()) // stem in single mode
    assert(r.body().contains(""""markdown":"# Title\n\nText.""""), r.body())
    assert(r.body().contains(""""images":[]"""))
    assert(!r.body().contains(""""error""""), "success must omit unset error")
  }

  test("sync batch convert returns an array of per-document results") {
    val r = post("/documents/batch-convert", multipart(
      ("documents", "a.md", "# A".getBytes(StandardCharsets.UTF_8)),
      ("documents", "b.csv", "x,y\n1,2\n".getBytes(StandardCharsets.UTF_8))))
    assert(r.statusCode() == 200, r.body())
    assert(r.body().startsWith("["))
    // success rows use the stem in BOTH modes (service.py:178,186); only
    // batch ERROR rows keep the full filename (service.py:182)
    assert(r.body().contains(""""filename":"a""""), r.body())
    assert(r.body().contains("| x | y |"))
  }

  test("validation: unsupported format 400, oversize 413, bad scale 422") {
    val bad = post("/documents/convert",
      multipart(("document", "x.xyz", "opaque".getBytes(StandardCharsets.UTF_8))))
    assert(bad.statusCode() == 400)
    assert(bad.body() == """{"detail":"Unsupported file format: x.xyz"}""", bad.body())

    val big = new Array[Byte](1024 * 1024 + 1) // maxFileMb default is 25; use a 1MB-limit server
    val small = new HttpApi.Server(spark, 0, ledgerDir, maxFileMb = 1).start()
    try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${small.boundPort}/documents/convert"))
        .header("Content-Type", s"multipart/form-data; boundary=$Boundary")
        .POST(HttpRequest.BodyPublishers.ofByteArray(
          multipart(("document", "big.md", big)))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 413)
      assert(r.body().contains("File size exceeds the maximum allowed size of 1 MB"))
    } finally small.stop()

    val scale = post("/documents/convert?image_resolution_scale=9",
      multipart(("document", "a.md", "# A".getBytes(StandardCharsets.UTF_8))))
    assert(scale.statusCode() == 422)
    assert(scale.body().contains("not in [1, 4]"))

    // a malformed escape stays literal, as with the reference's parse_qsl,
    // so it reaches the 422 "invalid integer" path instead of a 500
    assert(HttpApi.parseConfig(HttpApi.queryParams("image_resolution_scale=%zz")) ==
      Left("image_resolution_scale: invalid integer '%zz'"))
    assert(HttpApi.parseConfig(HttpApi.queryParams("image_resolution_scale=4%")) ==
      Left("image_resolution_scale: invalid integer '4%'"))
    assert(HttpApi.queryParams("a=x+y%20z&b=%E2%82%ac&c=%&d=%f&e=caf\u00e9%zz&f=%ff") ==
      Map("a" -> "x y z", "b" -> "\u20ac", "c" -> "%", "d" -> "%f",
        "e" -> "caf\u00e9%zz", "f" -> "\ufffd"))
    assert(HttpApi.queryParams(null) == Map.empty)
    // over the wire the JDK server refuses such a request line itself
    // (it is not a valid java.net.URI) before the handler runs: never a 500
    val sock = rawSocket()
    try {
      sock.getOutputStream.write(("POST /documents/convert?image_resolution_scale=%zz " +
        "HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Length: 0\r\n\r\n")
        .getBytes(StandardCharsets.US_ASCII))
      val (status, body) = readResponse(sock.getInputStream)
      assert(status == 400, body)
    } finally sock.close()

    val missing = post("/documents/convert", multipart())
    assert(missing.statusCode() == 400)
    assert(missing.body().contains("Field 'document' is required"))
  }

  test("over-cap request body stops reading at the bound and answers 413") {
    // caps of 1 MB ⇒ edge read cap 2 MB (budget + framing slack); a 3 MB
    // body must 413 with the ENDPOINT's limit text — the batch text on
    // batch-convert, the file text on single convert — never a 400 from
    // a truncated multipart parse
    val small = new HttpApi.Server(spark, 0, ledgerDir, maxFileMb = 1, maxBatchMb = 1).start()
    try {
      // the server legitimately answers before the client finishes
      // streaming 3 MB; under heavy load the client can observe the
      // early close as an IOException instead of the response — retry
      // the transport race (the assertion itself never retries)
      def post(path: String, field: String): HttpResponse[String] = {
        def once() = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${small.boundPort}$path"))
          .header("Content-Type", s"multipart/form-data; boundary=$Boundary")
          .POST(HttpRequest.BodyPublishers.ofByteArray(
            multipart((field, "huge.md", new Array[Byte](3 * 1024 * 1024))))).build(),
          HttpResponse.BodyHandlers.ofString())
        try once() catch { case _: java.io.IOException => once() }
      }
      val b = post("/documents/batch-convert", "documents")
      assert(b.statusCode() == 413, b.body())
      assert(b.body().contains("Batch size exceeds the maximum allowed total size of 1 MB"), b.body())
      val s1 = post("/documents/convert", "document")
      assert(s1.statusCode() == 413, s1.body())
      assert(s1.body().contains("File size exceeds the maximum allowed size of 1 MB"), s1.body())
    } finally small.stop()
  }

  test("sync single escalates conversion errors to 500; batch keeps error rows") {
    // passes the zip sniff as docx, fails structural parsing
    val broken = "PKword/document.xml but not a real zip"
      .getBytes(StandardCharsets.ISO_8859_1)
    val single = post("/documents/convert",
      multipart(("document", "broken.docx", broken)))
    assert(single.statusCode() == 500, single.body()) // service.py:196-199
    assert(single.body().contains("detail"), single.body())

    val batch = post("/documents/batch-convert", multipart(
      ("documents", "ok.md", "# Fine".getBytes(StandardCharsets.UTF_8)),
      ("documents", "broken.docx", broken)))
    assert(batch.statusCode() == 200, batch.body()) // batch: error-as-row
    assert(batch.body().contains(""""error":"""), batch.body())
    assert(batch.body().contains(""""markdown":"# Fine""""), batch.body())
  }

  test("image upload converts to a picture document over HTTP (no 500)") {
    val png = graft.kernel.ImageRenderer.renderPicture(1)
    val r = post("/documents/convert", multipart(("document", "photo.png", png)))
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains(""""markdown":"picture-1.png""""), r.body())
    assert(r.body().contains(""""filename":"picture-1.png""""), r.body())
  }

  test("async job lifecycle: submit IN_PROGRESS, poll to SUCCESS; unknown id quirk") {
    val sub = post("/conversion-jobs",
      multipart(("document", "job.md", "# Job\n\nAsync.".getBytes(StandardCharsets.UTF_8))))
    assert(sub.statusCode() == 200, sub.body())
    assert(sub.body().contains(""""status":"IN_PROGRESS""""))
    val id = """"job_id":"([0-9a-f-]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)

    var status = ""
    var body = ""
    val deadline = System.currentTimeMillis() + 60000
    while (status != "SUCCESS" && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      body = get(s"/conversion-jobs/$id").body()
      status = """"status":"([A-Z_]+)"""".r.findFirstMatchIn(body).get.group(1)
      assert(status != "FAILURE", body)
    }
    assert(status == "SUCCESS", s"job never completed: $body")
    assert(body.contains(""""markdown":"# Job\n\nAsync.""""), body)

    // unknown job id ⇒ IN_PROGRESS (the reference's Celery PENDING quirk)
    val unknown = get("/conversion-jobs/no-such-id")
    assert(unknown.statusCode() == 200)
    assert(unknown.body().contains(""""status":"IN_PROGRESS""""))
  }

  test("batch job: SUCCESS despite per-document failure rows") {
    // zip magic passes the format sniff, then fails structural parsing →
    // an error ROW, not a batch failure (service.py:247-251 semantics)
    val badDocx = "PK\u0003\u0004word/document.xml but not a real zip"
      .getBytes(StandardCharsets.ISO_8859_1)
    val sub = post("/batch-conversion-jobs", multipart(
      ("documents", "good.md", "# OK".getBytes(StandardCharsets.UTF_8)),
      ("documents", "bad.docx", badDocx)))
    assert(sub.statusCode() == 200, sub.body())
    val id = """"job_id":"([0-9a-f-]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)

    var body = ""
    var status = ""
    val deadline = System.currentTimeMillis() + 60000
    while (status != "SUCCESS" && status != "FAILURE" &&
      System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      body = get(s"/batch-conversion-jobs/$id").body()
      status = """"status":"([A-Z_]+)"""".r.findFirstMatchIn(body).get.group(1)
    }
    assert(status == "SUCCESS", body) // batch succeeds even with failed docs
    assert(body.contains(""""status":"FAILURE""""), "bad doc must carry FAILURE inside")
    assert(body.contains(""""markdown":"# OK""""), body)
  }

  test("jobs accepted before a restart are converted when the next server starts") {
    val root = java.nio.file.Files.createTempDirectory("graft_api_restart").toString
    // accepted by an earlier server that never processed it
    val id = new graft.jobs.JobService.Ledger(root).submit(
      Seq(("photo.png", graft.kernel.ImageRenderer.renderPicture(1))), batch = true,
      graft.kernel.ConvertKernel.ConversionConfig(imageResolutionScale = 2))
    val restarted = new HttpApi.Server(spark, 0, root).start()
    try {
      var body = ""
      var status = "IN_PROGRESS"
      val deadline = System.currentTimeMillis() + 30000
      while (status == "IN_PROGRESS" && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        body = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${restarted.boundPort}/batch-conversion-jobs/$id")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()
        // the job's own status is the last one in the body
        status = """"status":"([A-Z_]+)"""".r.findAllMatchIn(body).toSeq.last.group(1)
      }
      assert(status == "SUCCESS", body)
      val png = """"image":"([^"]+)"""".r.findFirstMatchIn(body).get.group(1)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        java.util.Base64.getDecoder.decode(png)))
      assert((img.getWidth, img.getHeight) == ((graft.kernel.ImageRenderer.PictureBaseW * 2,
        graft.kernel.ImageRenderer.PictureBaseH * 2)), body)
    } finally restarted.stop()
  }

  test("finished jobs expire after 24 h, swept on the worker after a job at most hourly") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = java.nio.file.Files.createTempDirectory("graft_api_sweep").toString
    val ledger = new graft.jobs.JobService.Ledger(root)
    val md = Seq(("a.md", "# A".getBytes(StandardCharsets.UTF_8)))
    def results(id: String) = Paths.get(root, "results", id, "results.jsonl")
    def backdate(id: String, hours: Long): Unit = Files.setLastModifiedTime(results(id),
      FileTime.fromMillis(System.currentTimeMillis() - hours * 60 * 60 * 1000))
    def exists(id: String) =
      Files.exists(Paths.get(root, "requests", id)) || Files.exists(Paths.get(root, "results", id))
    val stale = ledger.submit(md, batch = false)
    ledger.process(spark, stale)
    backdate(stale, 25)
    val fresh = ledger.submit(md, batch = false)
    ledger.process(spark, fresh)
    backdate(fresh, 23)
    // accepted by an earlier server, processed when this one starts
    val pending = ledger.submit(md, batch = false)
    val srv = new HttpApi.Server(spark, 0, root).start()
    def jobDone(id: String): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (!Files.exists(results(id)) && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(Files.exists(results(id)), s"job $id never completed")
    }
    // one job through the worker queue: it runs after the start-up drain
    // and its sweep, so both are done once its results exist
    def oneJob(): Unit = {
      val body = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${srv.boundPort}/conversion-jobs"))
        .header("Content-Type", s"multipart/form-data; boundary=$Boundary")
        .POST(HttpRequest.BodyPublishers.ofByteArray(multipart(("document", "b.md", md.head._2))))
        .build(), HttpResponse.BodyHandlers.ofString()).body()
      jobDone(""""job_id":"([0-9a-f-]+)"""".r.findFirstMatchIn(body).get.group(1))
    }
    try {
      jobDone(pending)
      oneJob()
      assert(!exists(stale), "a job completed 25 h ago must be swept")
      assert(exists(fresh) && exists(pending), "jobs younger than 24 h must stay")
      // the next sweep is an hour away: a job expiring now waits for it
      backdate(fresh, 25)
      oneJob()
      assert(exists(fresh), "the worker swept again within the hour")
    } finally srv.stop()
  }

  test("health probes") {
    assert(get("/health").body() == """{"status":"ok"}""")
    val ready = get("/health/ready")
    assert(ready.statusCode() == 200)
    assert(ready.body().contains(""""broker":"ok""""), ready.body())
  }

  test("keep-alive: back-to-back requests on one connection answer without a delayed-ACK stall") {
    // the JDK server sends headers and body as two segments; unless the
    // server socket has TCP_NODELAY, the body waits for the client's
    // delayed ACK of the headers, ~40 ms on every request after the first
    val sock = rawSocket()
    try {
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      val request = "GET /health HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n"
        .getBytes(StandardCharsets.US_ASCII)
      val roundTripsMs = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        out.write(request)
        out.flush()
        val (status, body) = readResponse(in)
        val ms = (System.nanoTime() - t0) / 1e6
        assert(status == 200 && body == """{"status":"ok"}""", body)
        ms
      }
      // the median, so that one GC pause cannot fail the test
      val median = roundTripsMs.sorted.apply(roundTripsMs.size / 2)
      assert(median < 20.0,
        s"median round trip $median ms; all: ${roundTripsMs.map(m => f"$m%.2f").mkString(", ")}")
    } finally sock.close()
  }

  test("CORS: wildcard default, configured origins echo + credentials") {
    val pre = client.send(HttpRequest.newBuilder(URI.create(base + "/documents/convert"))
      .header("Origin", "http://any.example")
      .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(pre.statusCode() == 200)
    assert(pre.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    assert(pre.headers().firstValue("Access-Control-Allow-Credentials").isEmpty,
      "wildcard origin must not allow credentials (main.py:18-23)")

    val cfg = new HttpApi.Server(spark, 0, ledgerDir,
      corsOrigins = "http://a.example, http://b.example").start()
    try {
      def probe(origin: String) = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${cfg.boundPort}/health"))
        .header("Origin", origin).GET().build(), HttpResponse.BodyHandlers.ofString())
      val ok = probe("http://b.example")
      assert(ok.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "http://b.example")
      assert(ok.headers().firstValue("Access-Control-Allow-Credentials").orElse("") == "true")
      val no = probe("http://evil.example")
      assert(no.headers().firstValue("Access-Control-Allow-Origin").isEmpty)
    } finally cfg.stop()
  }
}
