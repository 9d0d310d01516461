package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. A span is one call into a layer's public
  * function made by the benchmark; spans nest per thread, and spans of one
  * request share its id. When disabled, `span` runs the body and records
  * nothing, so the traced and untraced replays run the same code. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, req: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, req, start, end))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name in ns: a span's duration minus the part of it
    * its children cover. Children run on the span's own thread, one after
    * another, so that part is the sum of their durations. */
  def selfNs: Map[String, Long] = {
    val s = all
    val childNs = mutable.Map[Long, Long]().withDefaultValue(0L)
    s.foreach(sp => if (sp.parent != 0) childNs(sp.parent) += sp.end - sp.start)
    s.groupMapReduce(_.name)(sp => sp.end - sp.start - childNs(sp.id))(_ + _)
  }

  def count(name: String): Long = all.count(_.name == name).toLong

  /** Writes every span as one JSON line. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.start).map(sp =>
      s"""{"id":${sp.id},"parent":${sp.parent},"name":"${sp.name}","req":${sp.req},"start_ns":${sp.start},"end_ns":${sp.end}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, req: Long, start: Long, end: Long)
}

/** Spark execution counters gathered by a listener: jobs, stages, tasks,
  * task/CPU/GC time, shuffle and spill bytes, and per-stage task times for
  * skew. `snapshot` drains the listener bus first so counts are complete. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val stageTasks = new AtomicReference(Map.empty[(Int, Int), Vector[Long]])

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val key = (e.stageId, e.stageAttemptId)
      stageTasks.updateAndGet(st => st.updated(key, st.getOrElse(key, Vector.empty) :+ m.executorRunTime))
    }
    ()
  }

  def reset(): Unit = {
    Seq(jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleBytes, spillBytes).foreach(_.set(0))
    stageTasks.set(Map.empty)
  }

  /** max / median task time in the stage with the most tasks. */
  def taskSkew: Double = {
    val st = stageTasks.get
    if (st.isEmpty) 0.0
    else {
      val widest = st.values.maxBy(_.size).map(_.toDouble)
      val med = Stats.median(widest)
      if (med <= 0) 1.0 else widest.max / med
    }
  }

  def snapshot(sc: SparkContext): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)
}
