package graft.jobs

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{Base64, UUID}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.imageio.ImageIO

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkTestBase
import graft.jobs.JobService._
import graft.kernel.{ConvertKernel, ImageRenderer}
import graft.kernel.ConvertKernel.ConversionConfig

/** O18-O21 state machine (reference service.py:204-273 + worker/tasks.py),
  * previously implemented-but-unverified (VERDICT r1 top gap).
  */
class JobServiceSpec extends SparkTestBase {

  private def newLedger(): Ledger =
    new Ledger(Files.createTempDirectory("graft-jobs").toString)

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def pngDims(base64Png: String): (Int, Int) = {
    val img = ImageIO.read(new ByteArrayInputStream(Base64.getDecoder.decode(base64Png)))
    (img.getWidth, img.getHeight)
  }

  test("submit returns a job id that reports IN_PROGRESS before processing (O18)") {
    val ledger = newLedger()
    val id = ledger.submit(Seq(("a.md", b("# A"))), batch = false)
    assert(ledger.singleStatus(spark, id) == JobResult(id, None, None, InProgress))
  }

  test("unknown job ids report IN_PROGRESS, not an error (service.py:230-231 quirk)") {
    val ledger = newLedger()
    assert(ledger.singleStatus(spark, "no-such-id").status == InProgress)
    assert(ledger.batchStatus(spark, "no-such-id").status == InProgress)
  }

  test("single job: success path returns the conversion result (O19)") {
    val ledger = newLedger()
    val id = ledger.submit(Seq(("notes.md", b("# Hello\n\nWorld."))), batch = false)
    ledger.process(spark, id)
    val s = ledger.singleStatus(spark, id)
    assert(s.status == Success)
    assert(s.error.isEmpty)
    assert(s.result.map(_.filename) == Some("notes"))
    assert(s.result.map(_.markdown) == Some("# Hello\n\nWorld."))
  }

  test("single job: a conversion error makes the JOB a FAILURE (service.py:233-237)") {
    val ledger = newLedger()
    val id = ledger.submit(Seq(("scan.pdf", b("%PDF-fake"))), batch = false)
    ledger.process(spark, id)
    val s = ledger.singleStatus(spark, id)
    assert(s.status == Failure)
    assert(s.result.isEmpty)
    assert(s.error.exists(_.toLowerCase.contains("pdf")))
  }

  test("batch job: SUCCESS despite per-document failures, in submission order (O20)") {
    val ledger = newLedger()
    val docs = Seq(
      ("zulu.md", b("# Z doc")),
      ("bad.pdf", b("%PDF-fake")),
      ("alpha.csv", b("h1,h2\n1,2\n")))
    val id = ledger.submit(docs, batch = true)
    ledger.process(spark, id)
    val s = ledger.batchStatus(spark, id)
    assert(s.status == Success) // batch succeeds even with failed documents
    assert(s.error.isEmpty)
    assert(s.conversionResults.map(_.status) == Seq(Success, Failure, Success))
    // submission order, NOT alphabetical/arbitrary shuffle order
    assert(s.conversionResults.flatMap(_.result).map(_.filename) == Seq("zulu", "alpha"))
    // batch mode reports the FULL filename in errors (service.py:182)
    assert(s.conversionResults(1).error.exists(_.toLowerCase.contains("pdf")))
  }

  test("task-level exception makes the whole job FAILURE with the message (O19/O20)") {
    val ledger = newLedger()
    // a job id with no request dir: process records a task failure
    ledger.process(spark, "vanished-job")
    val single = ledger.singleStatus(spark, "vanished-job")
    assert(single.status == Failure)
    assert(single.error.exists(_.contains("no such job")))
    val batch = ledger.batchStatus(spark, "vanished-job")
    assert(batch.status == Failure)
    assert(batch.conversionResults.isEmpty)
  }

  test("processAllPending drains every submitted job exactly once (O18)") {
    val ledger = newLedger()
    val id1 = ledger.submit(Seq(("a.md", b("# A"))), batch = false)
    val id2 = ledger.submit(Seq(("b.md", b("# B"))), batch = true)
    assert(ledger.pendingJobs().toSet == Set(id1, id2))
    ledger.processAllPending(spark)
    assert(ledger.pendingJobs().isEmpty)
    assert(ledger.singleStatus(spark, id1).status == Success)
    assert(ledger.batchStatus(spark, id2).status == Success)
  }

  test("empty filename becomes 'unnamed' without shifting the manifest mapping") {
    val ledger = newLedger()
    val id = ledger.submit(Seq(("", b("# anon")), ("b.md", b("# B"))), batch = true)
    ledger.process(spark, id)
    val s = ledger.batchStatus(spark, id)
    assert(s.status == Success)
    // reference semantics: `filename or "unnamed"` (Python-falsy "") — and
    // "unnamed" has no extension, so it converts to an unsupported-format
    // error row; the second doc must still map to ITS name and bytes
    // (an empty manifest line used to shift the idx→name mapping)
    assert(s.conversionResults.map(_.status) == Seq(Failure, Success))
    assert(s.conversionResults.head.error.exists(_.contains("unnamed")))
    assert(s.conversionResults.flatMap(_.result).map(_.filename) == Seq("b"))
    assert(s.conversionResults.flatMap(_.result).map(_.markdown) == Seq("# B"))
  }

  test("adversarial filenames cannot escape the ledger (path traversal)") {
    val ledger = newLedger()
    // starts with a segment (not "."), so format detection still accepts it
    val evil = "a/../../../../tmp/evil.md"
    val id = ledger.submit(Seq((evil, b("# owned"))), batch = false)
    // every written file stays under <ledger>/requests/<id>/
    val reqDir = Paths.get(ledger.root, "requests", id)
    val files = Files.walk(Paths.get(ledger.root)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    assert(files.nonEmpty && files.forall(_.startsWith(reqDir)))
    // and the client-visible filename survives conversion untouched
    ledger.process(spark, id)
    val s = ledger.singleStatus(spark, id)
    assert(s.status == Success)
    assert(s.result.map(_.markdown) == Some("# owned"))
  }

  test("TTL sweep deletes only completed-and-expired jobs; lookup-after-expiry " +
      "returns the unknown-id quirk unchanged (VERDICT r12 #8)") {
    val ledger = newLedger()
    val done = ledger.submit(Seq(("a.md", b("# A"))), batch = false)
    ledger.process(spark, done)
    val pending = ledger.submit(Seq(("b.md", b("# B"))), batch = false)
    // injectable clock: "now" is one hour past the completion marker
    val hour = 60L * 60 * 1000
    val later = System.currentTimeMillis() + hour
    // a fresh completion survives a 2h TTL ...
    assert(ledger.sweepExpired(2 * hour, later) == Seq.empty)
    assert(ledger.singleStatus(spark, done).status == Success)
    // ... and falls to a 30min TTL; the never-completed job is untouched
    // no matter how old (only completion starts the clock)
    assert(ledger.sweepExpired(hour / 2, later) == Seq(done))
    assert(!Files.exists(Paths.get(ledger.root, "requests", done)))
    assert(!Files.exists(Paths.get(ledger.root, "results", done)))
    assert(Files.isDirectory(Paths.get(ledger.root, "requests", pending)))
    assert(ledger.pendingJobs() == Seq(pending))
    // the swept id now answers like any unknown id: IN_PROGRESS, both
    // lookup shapes (service.py:230-231 — Celery forgetting a task)
    assert(ledger.singleStatus(spark, done).status == InProgress)
    assert(ledger.batchStatus(spark, done).status == InProgress)
  }

  test("TTL sweep also expires task-FAILED jobs (the failure marker starts the clock)") {
    val ledger = newLedger()
    val id = ledger.submit(Seq(("a.md", b("# A"))), batch = false)
    // corrupt the manifest so process() takes the task-failure path
    Files.delete(Paths.get(ledger.root, "requests", id, "_MANIFEST"))
    ledger.process(spark, id)
    assert(ledger.singleStatus(spark, id).status == Failure)
    val later = System.currentTimeMillis() + 60L * 60 * 1000
    assert(ledger.sweepExpired(60L * 1000, later) == Seq(id))
    assert(ledger.singleStatus(spark, id).status == InProgress)
  }

  test("a job converts with the options it was submitted with, whatever process is given") {
    val ledger = newLedger()
    val cfg = ConversionConfig(extractTablesAsImages = true, imageResolutionScale = 1)
    val docs = Seq(("photo.png", ImageRenderer.renderPicture(1)), ("t.csv", b("h1,h2\n1,2\n")))
    val id = ledger.submit(docs, batch = true, cfg)
    assert(ledger.isBatch(id))
    ledger.process(spark, id) // default config: scale 4, no table images
    val rs = ledger.batchStatus(spark, id).conversionResults
    assert(rs.map(_.status) == Seq(Success, Success))
    // the picture decodes at native × 1, not × 4
    assert(pngDims(rs.head.result.get.images.head.image) ==
      ((ImageRenderer.PictureBaseW, ImageRenderer.PictureBaseH)))
    // and the table comes back as an image, as the submit asked
    assert(rs(1).result.get.images.nonEmpty)
    assert(rs(1).result == Some(ConvertKernel.convertOne("t.csv", docs(1)._2, cfg, batchMode = true)))
  }

  test("submit, process and status run no Spark job") {
    val group = "ledger-" + UUID.randomUUID()
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ledger")
      val ledger = newLedger()
      val id = ledger.submit(Seq(("a.md", b("# A")), ("b.csv", b("x,y\n1,2\n"))), batch = true)
      ledger.process(spark, id)
      assert(ledger.batchStatus(spark, id).status == Success)
      // a marker job of our own closes the window: the listener bus
      // delivers one queue's events in order, so once the marker is seen
      // every job the ledger started has been seen too
      sc.setJobDescription("marker")
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains("marker") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.contains("marker"))
      assert(seen.asScala.count(_ != "marker") == 0, seen)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("ledger results equal convertOne field for field, in submission order") {
    val ledger = newLedger()
    val docs = Seq(
      ("notes \"q\" é.md", b("# Café \"quoted\"\n\nSecond line — ünïcödé ✓")),
      ("table.csv", b("h1,h2\n1,2\n")),
      ("broken.pdf", b("%PDF-fake")),
      ("photo.png", ImageRenderer.renderPicture(1)))
    val cfg = ConversionConfig(imageResolutionScale = 2)
    val want = docs.map { case (n, bytes) => ConvertKernel.convertOne(n, bytes, cfg, batchMode = true) }
    assert(want.map(_.error != null) == Seq(false, false, true, false))
    // the results line keeps every field, nulls included
    want.foreach(r => assert(parseResult(resultJson(r)) == r))
    val id = ledger.submit(docs, batch = true, cfg)
    ledger.process(spark, id)
    assert(ledger.batchStatus(spark, id) == BatchJobResult(id, want.map { r =>
      if (r.error != null) JobResult(id, None, Some(r.error), Failure)
      else JobResult(id, Some(r), None, Success)
    }, Success, None))
  }

  test("a stray temp results file from a cut-short write leaves the job pending") {
    val ledger = newLedger()
    val id = ledger.submit(Seq(("a.md", b("# A"))), batch = false)
    val res = Paths.get(ledger.root, "results", id)
    Files.createDirectories(res)
    Files.write(res.resolve("results.jsonl.tmp"), b("""{"filename":"a","mark"""))
    assert(ledger.singleStatus(spark, id).status == InProgress)
    assert(ledger.pendingJobs() == Seq(id))
    ledger.process(spark, id)
    val s = ledger.singleStatus(spark, id)
    assert(s.status == Success)
    assert(s.result.map(_.markdown) == Some("# A"))
    assert(ledger.pendingJobs().isEmpty)
  }

  test("two workers converting one job at once both leave it SUCCESS") {
    // two servers started on one ledger root both drain its pending jobs
    val ledger = newLedger()
    val id = ledger.submit(Seq.tabulate(50)(i => (s"d$i.md", b(s"# D$i"))), batch = true)
    val workers = Seq.fill(2)(new Thread(() => ledger.process(spark, id)))
    workers.foreach(_.start())
    workers.foreach(_.join())
    val s = ledger.batchStatus(spark, id)
    assert(s.status == Success, s.error)
    assert(s.conversionResults.flatMap(_.result).map(_.markdown) == (0 until 50).map(i => s"# D$i"))
  }
}
