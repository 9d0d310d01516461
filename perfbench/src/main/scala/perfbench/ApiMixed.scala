package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.api.HttpApi
import graft.ingest.{FormatDetection, UploadValidation}
import graft.ingest.UploadValidation.{Upload, ValidationError}
import graft.jobs.JobService
import graft.kernel.ConvertKernel
import graft.kernel.ConvertKernel.ConversionConfig

/** `api_mixed`: an in-process HttpApi.Server under open-loop traffic at a
  * fixed offered rate over persistent keep-alive connections, beside one
  * closed-loop async batch-job client. Documents are small, so the
  * per-request path (HTTP, multipart, validation, job ledger) dominates. */
final class ApiMixed(seed: Long, work: Path, cores: Int) extends Workload {
  import ApiMixed._

  private sealed trait Req {
    def path: String
    def ct: String
    def body: Array[Byte]
  }
  private final case class Single(doc: Gen.Doc, scale: Int, ct: String, body: Array[Byte]) extends Req {
    def path = s"/documents/convert?image_resolution_scale=$scale"
  }
  private final case class Batch(docs: Seq[Gen.Doc], scale: Int, ct: String, body: Array[Byte]) extends Req {
    def path = s"/documents/batch-convert?image_resolution_scale=$scale"
  }
  private final case class Bad(inv: Gen.Invalid, ct: String, body: Array[Byte]) extends Req {
    def path = "/documents/convert"
  }
  private final case class Job(docs: Seq[Gen.Doc], scale: Int, ct: String, body: Array[Byte])
  private final case class Window(start: Long, end: Long, outcomes: IndexedSeq[Outcome],
                                  jobs: Seq[(Job, JobOutcome, Option[String])], loadAvg: Double, steal: Double)

  private var reqs: IndexedSeq[Req] = IndexedSeq.empty
  private var jobs: IndexedSeq[Job] = IndexedSeq.empty
  private var server: HttpApi.Server = _

  private def boundary(i: Long) = f"perfbench$seed%x$i%08x"

  private def single(doc: Gen.Doc, scale: Int, i: Long): Single = {
    val (ct, body) = HttpConn.multipart("document", Seq(doc.name -> doc.bytes), boundary(i))
    Single(doc, scale, ct, body)
  }
  private def batch(docs: Seq[Gen.Doc], scale: Int, i: Long): Batch = {
    val (ct, body) = HttpConn.multipart("documents", docs.map(d => d.name -> d.bytes), boundary(i))
    Batch(docs, scale, ct, body)
  }
  private def job(docs: Seq[Gen.Doc], scale: Int, i: Long): Job = {
    val (ct, body) = HttpConn.multipart("documents", docs.map(d => d.name -> d.bytes), boundary(i))
    Job(docs, scale, ct, body)
  }

  /** Enough requests for a run of up to Main.MaxSeconds; a run of `s`
    * seconds sends the first Rate * s, a whole number of blocks. */
  def generate(spark: SparkSession): Unit = {
    val rng = new Gen.Rng(seed)
    // single converts take even document numbers from their own counter,
    // batches and jobs odd ones: the n-th single has the same format,
    // picture count and scale on every seed, so every seed sends the same
    // singles in a different order
    var s, d = 0
    def nextSingle(): Gen.Doc = { s += 1; Gen.smallDoc(2 * s, rng.split()) }
    def next(): Gen.Doc = { d += 1; Gen.smallDoc(2 * d + 1, rng.split()) }
    // one second's requests form a block with a fixed mix; the seed orders it
    val block = Seq.fill(InvalidPerBlock)("bad") ++ Seq.fill(BatchPerBlock)("batch") ++
      Seq.fill(Rate - InvalidPerBlock - BatchPerBlock)("single")
    val kinds = (0 until Main.MaxSeconds).flatMap(_ => rng.shuffle(block))
    var bad, batches = 0
    reqs = kinds.zipWithIndex.map {
      case ("bad", i) =>
        bad += 1
        val inv = Gen.invalid(bad, rng.split(), MaxFileMb)
        val (ct, body) = HttpConn.multipart("document", Seq(inv.name -> inv.bytes), boundary(i))
        Bad(inv, ct, body)
      case ("batch", i) =>
        batches += 1
        batch(Seq.fill(BatchDocs)(next()), 1 + batches % 4, i)
      case (_, i) =>
        val doc = nextSingle()
        single(doc, 1 + (s / Gen.Formats.size) % 4, i)
    }
    jobs = (0 until Main.MaxSeconds * 2).map(j => job(Seq.fill(JobDocs)(next()), 1 + j % 4, 1000000L + j))
  }

  def setUp(spark: SparkSession): Unit = {
    server = new HttpApi.Server(spark, 0, work.resolve("ledger").toString,
      maxFileMb = MaxFileMb, maxBatchMb = MaxBatchMb).start()
    // warm-up on separate inputs: every format at every scale, a few
    // batches and one async job; each on a fresh connection, so the
    // warm-up does not wait out keep-alive stalls
    val rng = new Gen.Rng(-1L)
    val warm = (0 until WarmRequests).map(i => Gen.smallDoc(-1 - i, rng.split()))
    def fresh[T](f: HttpConn => T): T = {
      val conn = new HttpConn(server.boundPort)
      try f(conn) finally conn.close()
    }
    val errs = warm.zipWithIndex.map { case (d, i) =>
        fresh(c => Check.syncReply(d, send(c, single(d, 1 + i % 4, -1)), 1 + i % 4))
      } ++ warm.grouped(BatchDocs).map(ds => fresh(c => Check.batchReply(ds, send(c, batch(ds, 2, -2)), 2))) :+
      fresh(c => runJob(c, job(warm.take(2), 2, -3))._2)
    errs.flatten.foreach(e => Report.log(s"warm-up check failed: $e"))
  }

  def tearDown(): Unit = if (server != null) { server.stop(); server = null }

  private def send(conn: HttpConn, r: Req): HttpConn.Response = conn.request("POST", r.path, Some(r.ct), r.body)

  /** One async job: submit, poll at a fixed interval until a final status.
    * Returns (outcome, check failure). */
  private def runJob(conn: HttpConn, j: Job): (JobOutcome, Option[String]) = {
    val t0 = System.nanoTime()
    val sub = conn.request("POST", s"/batch-conversion-jobs?image_resolution_scale=${j.scale}", Some(j.ct), j.body)
    val tSub = System.nanoTime()
    if (sub.status != 200) return (JobOutcome(t0, tSub, tSub, tSub, 0), Some(s"job submit: status ${sub.status}"))
    val id = Check.json(sub.body).get("job_id").asText
    var polls = 0
    var last: HttpConn.Response = null
    var lastSend = tSub
    var done = false
    while (!done) {
      LockSupport.parkNanos(PollMs * 1000000L)
      lastSend = System.nanoTime()
      last = conn.request("GET", s"/batch-conversion-jobs/$id")
      polls += 1
      val st = Check.json(last.body).get("status").asText
      done = st != JobService.InProgress || System.nanoTime() - t0 > JobTimeoutNs
    }
    val end = System.nanoTime()
    (JobOutcome(t0, tSub, lastSend, end, polls), Check.jobStatus(j.docs, Check.json(last.body), j.scale))
  }

  /** Seeded send times (ns from the window start) of one connection's
    * `m` requests: a Poisson process of rate m / seconds conditioned on
    * sending exactly m, i.e. m sorted uniform times. */
  private def sendTimes(c: Int, m: Int, seconds: Int): Array[Long] = {
    val rng = new Gen.Rng(seed * 31 + c)
    Array.fill(m)((rng.double() * seconds * 1e9).toLong).sorted
  }

  /** The measured window: open-loop senders on `Conns` connections plus the
    * job client on one more. */
  private def window(seconds: Int): Window = {
    val n = Rate * seconds
    val outcomes = new Array[Outcome](n)
    val port = server.boundPort
    val start = System.nanoTime() + 50000000L
    val deadline = start + seconds * 1000000000L
    val senders = (0 until Conns).map { c =>
      val ks = c until n by Conns
      val times = sendTimes(c, ks.size, seconds)
      new Thread(() => {
        var conn = new HttpConn(port)
        try {
          ks.indices.foreach { j =>
            val k = ks(j)
            val due = start + times(j)
            var now = System.nanoTime()
            while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
            val sent = System.nanoTime()
            val (resp, err) =
              try (send(conn, reqs(k)), None)
              catch { case e: java.io.IOException =>
                conn.close(); conn = new HttpConn(port); (null, Some(s"request $k: $e"))
              }
            outcomes(k) = Outcome(due, sent, System.nanoTime(), resp, err)
          }
        } finally conn.close()
      }, s"perfbench-sender-$c")
    }
    val jobOut = ArrayBuffer[(Job, JobOutcome, Option[String])]()
    val jobThread = new Thread(() => {
      val conn = new HttpConn(port)
      try {
        var j = 0
        LockSupport.parkNanos(math.max(0L, start - System.nanoTime()))
        while (System.nanoTime() < deadline && j < jobs.size) {
          val (o, err) = runJob(conn, jobs(j))
          jobOut.synchronized(jobOut += ((jobs(j), o, err)))
          j += 1
          LockSupport.parkNanos(JobThinkMs * 1000000L)
        }
      } finally conn.close()
    }, "perfbench-jobs")
    val ticks0 = Host.cpuTicks()
    (senders :+ jobThread).foreach(_.start())
    (senders :+ jobThread).foreach(_.join())
    val end = System.nanoTime()
    Window(start, end, outcomes.toIndexedSeq, jobOut.toSeq, Host.loadAvg1(), Host.stealShare(ticks0, Host.cpuTicks()))
  }

  /** Check every reply and turn a window into a RunResult. */
  private def judge(w: Window): (RunResult, Judged) = {
    val fails = ArrayBuffer[String]()
    val syncMs, batchMs, lateMs = ArrayBuffer[Double]()
    var docs = 0L
    w.outcomes.indices.foreach { k =>
      val o = w.outcomes(k)
      val lat = (o.done - o.due) / 1e6
      lateMs += (o.sent - o.due) / 1e6
      val err = o.err.orElse(reqs(k) match {
        case s: Single => Check.syncReply(s.doc, o.resp, s.scale)
        case b: Batch => Check.batchReply(b.docs, o.resp, b.scale)
        case b: Bad => Check.invalidReply(b.inv, o.resp)
      })
      err.foreach(fails += _)
      reqs(k) match {
        case _: Single => syncMs += (if (err.isEmpty) lat else FailedLatencyMs); if (err.isEmpty) docs += 1
        case b: Batch => batchMs += (if (err.isEmpty) lat else FailedLatencyMs); if (err.isEmpty) docs += b.docs.size
        case _: Bad =>
      }
    }
    val jobMs = w.jobs.map { case (j, o, err) =>
      err.foreach(fails += _)
      if (err.isEmpty) docs += j.docs.size
      if (err.isEmpty) (o.end - o.start) / 1e6 else FailedLatencyMs
    }
    val wallS = (w.end - w.start) / 1e9
    // the operation is a single sync convert; its count is fixed by the
    // offered rate, so the tail percentile is the same on every run
    val (level, tail) = Stats.tail(syncMs.toSeq)
    val notes = Seq(
      Stats.describe("sync", syncMs.toSeq, "ms"), Stats.describe("batch", batchMs.toSeq, "ms"),
      Stats.describe("job", jobMs, "ms"), Stats.describe("late", lateMs.toSeq, "ms"),
      f"tail_ms is p${level * 100}%.1f of ${syncMs.size} sync converts",
      f"load_avg=${w.loadAvg}%.2f steal_share=${w.steal}%.4f") ++ fails.take(5).map("check failed: " + _)
    (RunResult(w.outcomes.size + w.jobs.size.toLong, fails.size.toLong, Stats.median(syncMs.toSeq), tail,
      docs, wallS, notes),
      Judged(syncMs.toSeq, batchMs.toSeq, jobMs, lateMs.toSeq))
  }

  def run(spark: SparkSession, seconds: Int): RunResult = judge(window(seconds))._1

  // ------------------------------------------------------------- traced

  private def uploadOf(name: String, data: Array[Byte]): Upload = new Upload {
    val filename: String = name
    val declaredSize: Option[Long] = Some(data.length.toLong)
    def read(n: Long): Array[Byte] = data.take(math.min(n, data.length.toLong).toInt)
  }

  /** One sync request through the layers' public functions, in the order
    * HttpApi.Server runs them. Returns (response bytes, results). */
  private def replay(t: Tracer, k: Long, r: Req): (Int, Seq[ConvertKernel.ConversionResult]) =
    t.span("api.request", k) {
      val isBatch = r.isInstanceOf[Batch]
      val field = if (isBatch) "documents" else "document"
      val uploads = t.span("api.multipart", k)(HttpApi.parseMultipart(r.ct, r.body))
        .filter(_.name == field).map(p => uploadOf(p.filename.getOrElse("unnamed"), p.data))
      val detect = (b: Array[Byte], n: String) => t.span("ingest.detect", k)(FormatDetection.isSupported(b, n))
      val validated = t.span("ingest.validate", k)(
        if (isBatch) UploadValidation.readAndValidateBatch(uploads, MaxFileMb, MaxBatchMb, formatSupported = detect)
        else UploadValidation.readAndValidateDocument(uploads.head, MaxFileMb, formatSupported = detect).map(Seq(_)))
      val scale = r match { case s: Single => s.scale; case b: Batch => b.scale; case _ => 4 }
      val config = ConversionConfig(imageResolutionScale = scale)
      validated match {
        case Left(ValidationError(_, msg)) =>
          t.span("ingest.reject", k)(())
          (t.span("api.json", k)(s"""{"detail":"$msg"}""").getBytes(UTF_8).length, Nil)
        case Right(docs) =>
          val results = docs.map { case (name, bytes) => KernelReplica.convert(t, k, name, bytes, config, isBatch) }
          val json = t.span("api.json", k)(
            if (isBatch) results.map(HttpApi.conversionResultJson).mkString("[", ",", "]")
            else HttpApi.conversionResultJson(results.head))
          (json.getBytes(UTF_8).length, results)
      }
    }

  /** One async batch job through JobService.Ledger's public functions. */
  private def replayJob(t: Tracer, k: Long, spark: SparkSession, ledger: JobService.Ledger, j: Job): String =
    t.span("api.job", k) {
      val uploads = t.span("api.multipart", k)(HttpApi.parseMultipart(j.ct, j.body))
        .map(p => uploadOf(p.filename.getOrElse("unnamed"), p.data))
      val docs = t.span("ingest.validate", k)(UploadValidation.readAndValidateBatch(uploads, MaxFileMb, MaxBatchMb))
        .getOrElse(sys.error("job upload refused"))
      val config = ConversionConfig(imageResolutionScale = j.scale)
      val id = t.span("jobs.submit", k)(ledger.submit(docs, batch = true, config))
      t.span("jobs.process", k)(ledger.process(spark, id, config))
      val st = t.span("jobs.status", k)(ledger.batchStatus(spark, id))
      t.span("api.json", k)(HttpApi.batchJobResultJson(st))
    }

  def trace(spark: SparkSession, seconds: Int, traceFile: Path): (RunResult, Map[String, Double]) = {
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val w = window(seconds)
    counters.snapshot(spark.sparkContext)
    val sparkM = Layers.spark(counters, (w.end - w.start) / 1e9, cores)
    spark.sparkContext.removeSparkListener(counters)
    val (res, jd) = judge(w)

    val sent = reqs.take(w.outcomes.size)
    def replaySync(t: Tracer): (Double, Seq[(Req, Int, Seq[ConvertKernel.ConversionResult])]) = {
      val t0 = System.nanoTime()
      val out = sent.zipWithIndex.map { case (r, k) => val (n, rs) = replay(t, k, r); (r, n, rs) }
      ((System.nanoTime() - t0) / 1e9, out)
    }
    // a warm-up replay, then untraced and traced replays alternated
    replaySync(new Tracer(false))
    val runs = (0 until ReplayPairs).map { _ =>
      val plain = replaySync(new Tracer(false))._1
      val tracer = new Tracer(true)
      val (traced, out) = replaySync(tracer)
      (plain, traced, tracer, out)
    }
    val plainS = Stats.median(runs.map(_._1))
    val tracedS = Stats.median(runs.map(_._2))
    val (_, lastTracedS, tracer, out) = runs.last

    // async jobs through the ledger, traced, counting their Spark jobs
    val ledger = new JobService.Ledger(work.resolve("ledger-replay").toString)
    counters.reset()
    spark.sparkContext.addSparkListener(counters)
    val j0 = System.nanoTime()
    val jobBytes = jobs.take(ReplayJobs).zipWithIndex
      .map { case (j, i) => replayJob(tracer, 1000000L + i, spark, ledger, j).length.toLong }.sum
    val jobsS = (System.nanoTime() - j0) / 1e9
    counters.snapshot(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    val sparkJobsPerJob = counters.jobs.get.toDouble / ReplayJobs
    tracer.write(traceFile)

    // the replica must reproduce the program's own conversion exactly
    val mismatches = out.flatMap { case (r, _, rs) =>
      val inputs = r match {
        case s: Single => Seq(s.doc -> s.scale)
        case b: Batch => b.docs.map(_ -> b.scale)
        case _ => Nil
      }
      inputs.zip(rs).collect { case ((d, sc), got)
        if !KernelReplica.same(got, ConvertKernel.convertOne(d.name, d.bytes, ConversionConfig(imageResolutionScale = sc),
          batchMode = r.isInstanceOf[Batch])) => s"replica differs from convertOne on ${d.name}" }
    }
    mismatches.take(3).foreach(m => Report.log(m))

    val self = tracer.selfNs.withDefaultValue(0L)
    def ms(n: String) = self(n) / 1e6
    val rootNames = Set("api.request", "api.job")
    val layerS = self.filter { case (n, _) => !rootNames(n) }.values.sum / 1e9
    // client latency of valid singles minus their in-process time
    val validSingles = out.zipWithIndex.collect { case ((_: Single, _, _), k) if w.outcomes(k).err.isEmpty => k.toLong }.toSet
    val inProcMs = tracer.all.filter(sp => sp.name == "api.request" && validSingles(sp.req)).map(sp => (sp.end - sp.start) / 1e6)
    val clientMs = validSingles.toSeq.map(k => (w.outcomes(k.toInt).done - w.outcomes(k.toInt).sent) / 1e6)
    val jobLat = w.jobs.map(_._2)
    val layers = Layers.kernel(tracer, out.flatMap(_._3)) ++ sparkM ++ Map(
      "api.requests" -> out.size.toDouble,
      "api.multipart_ms" -> ms("api.multipart"),
      "api.json_ms" -> ms("api.json"),
      "api.response_kb" -> (out.map(_._2.toLong).sum + jobBytes) / 1024.0,
      "api.transport_ms" -> (Stats.mean(clientMs) - Stats.mean(inProcMs)),
      "api.sync_p50_ms" -> Stats.median(jd.sync), "api.sync_tail_ms" -> Stats.tail(jd.sync)._2,
      "api.batch_p50_ms" -> Stats.median(jd.batch), "api.batch_tail_ms" -> Stats.tail(jd.batch)._2,
      "ingest.validate_ms" -> ms("ingest.validate"),
      "ingest.rejected" -> tracer.count("ingest.reject").toDouble,
      "jobs.submit_ms" -> ms("jobs.submit"), "jobs.process_ms" -> ms("jobs.process"),
      "jobs.status_ms" -> ms("jobs.status"),
      "jobs.wait_ms" -> Stats.mean(jobLat.map(o => (o.lastSend - o.submitted) / 1e6)),
      "jobs.polls" -> Stats.mean(jobLat.map(_.polls.toDouble)),
      "jobs.spark_jobs" -> sparkJobsPerJob,
      "jobs.job_p50_ms" -> Stats.median(jd.jobs), "jobs.job_tail_ms" -> Stats.tail(jd.jobs)._2,
      "gen.late_p99_ms" -> Stats.quantile(jd.late, 0.99),
      "trace.overhead_share" -> (tracedS - plainS) / plainS,
      "trace.accounted_share" -> layerS / (lastTracedS + jobsS),
      "host.load_avg" -> w.loadAvg, "host.steal_share" -> w.steal)
    val notes = res.notes :+ f"replay plain=${plainS}%.3fs traced=${tracedS}%.3fs jobs=${jobsS}%.3fs"
    (res.copy(failed = res.failed + mismatches.size, notes = notes), layers)
  }
}

object ApiMixed {
  val Conns = 3
  /** Offered open-loop rate over all sender connections, requests/s: each
    * connection sends Rate / Conns per second at seeded Poisson times. */
  val Rate = 12
  /** Of each second's Rate requests: planted invalid uploads and 8-document
    * batches; the rest are single converts. */
  val InvalidPerBlock = 1
  val BatchPerBlock = 1
  val BatchDocs = 8
  val JobDocs = 4
  val PollMs = 100L
  /** The job client's think time between one job's final status and the
    * next submit. */
  val JobThinkMs = 500L
  val WarmRequests = 140
  /** Per-file and per-batch upload limits of the server under test (a
    * deployment setting; small so a planted 413 upload stays small). */
  val MaxFileMb = 1
  val MaxBatchMb = 8
  val ReplayJobs = 3
  val ReplayPairs = 9
  val FailedLatencyMs = 60000.0
  val JobTimeoutNs = 60L * 1000000000L

  final case class Outcome(due: Long, sent: Long, done: Long, resp: HttpConn.Response, err: Option[String])
  final case class JobOutcome(start: Long, submitted: Long, lastSend: Long, end: Long, polls: Int)
  final case class Judged(sync: Seq[Double], batch: Seq[Double], jobs: Seq[Double], late: Seq[Double])
}
