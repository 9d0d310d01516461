package graft.sources

import java.util
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The WRITE half of the connector tier — a native DataSource V2 sink
  * that materializes `(filename STRING, content STRING)` rows as one
  * file per row under the target directory:
  *
  * {{{
  *   df.write.format("doclingsink").mode("append").save(outDir)
  * }}}
  *
  * **Bundled delivery** (`option("bundleDocs", n)`, n > 0): instead of
  * one file per row — correct as a connector proof, but at 100 TB
  * one-file-per-document IS the small-files anti-pattern the shard sink
  * (p3) exists to avoid — each task packs up to n documents per
  * artifact shard: `bundle-<partition>-<task>-<seq>.bin` holds the
  * concatenated UTF-8 payloads, and a sidecar
  * `bundle-….bin.idx` carries one JSON line per document
  * `{"bundle":…,"name":…,"offset":…,"len":…}` — exact byte/offset
  * accounting a reader uses to slice any document back out without
  * parsing the payload (the reference's batch endpoints likewise return
  * N results in one payload; route.py:123-146). Bundles ride the same
  * per-attempt staging + task-side publish protocol, so speculation/
  * retry safety is identical to per-row mode. k7's oracle row slices
  * every document back out of the delivered bundles by (offset, len)
  * and md5-matches the source text — a wrong offset, a swapped length
  * or a torn bundle cannot hash-match.
  *
  * This is the delivery shape the reference's consumers end with (a
  * directory of per-document markdown/text artifacts) expressed through
  * the full V2 write protocol rather than a driver-side loop:
  *
  *  - executors write IN PARALLEL, each task streaming its rows straight
  *    to the filesystem — no collect, no single-writer funnel;
  *  - staged two-phase delivery with TASK-SIDE publish: every ATTEMPT
  *    writes under its own hidden staging subdir
  *    (`_staging_<jobId>/<partitionId>-<taskId>`) and publishes its own
  *    files (delete-then-rename, so re-delivery of a filename
  *    overwrites cleanly) in its commit() — which Spark's output-commit
  *    coordinator invokes for AT MOST ONE attempt per task, so retries
  *    and speculation cannot double-publish. The per-attempt subdir is
  *    what makes that safe under speculation: two live attempts of the
  *    same task never share a staging path, so a losing attempt's
  *    abort() (which removes only ITS subdir) cannot delete files a
  *    sibling winning attempt staged but has not yet renamed, and two
  *    attempts never race a create(overwrite) on the same staged file.
  *    A task that fails or aborts before commit leaves only its own
  *    staged subdir, removed by task abort and the driver-side job
  *    abort backstop. This is the
  *    FileOutputCommitter-v2 shape: the first cut published from the
  *    DRIVER's job commit (v1, strictly atomic-ish) and its serial
  *    per-file renames measured 21 s for 5 000 artifacts — task-side
  *    publish parallelizes delivery across the cluster at the standard
  *    v2 tradeoff (a mid-job failure can leave committed tasks' files,
  *    like every v2 deployment; DocSinkSpec pins publish/abort paths);
  *  - Hadoop FileSystem API throughout, so the same code path targets
  *    HDFS/object stores on a real cluster.
  *
  * Filenames are sanitized to their basename (no path traversal out of
  * the target dir). Schema is validated at write-build time: exactly the
  * two string columns, by name.
  */
class DocSink extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "doclingsink"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DocSink.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DocSinkTable(properties.asScala.toMap)
}

object DocSink {
  val schema: StructType = StructType(Seq(
    StructField("filename", StringType, nullable = false),
    StructField("content", StringType, nullable = false)))
}

final class DocSinkTable(properties: Map[String, String])
    extends Table with SupportsWrite {
  override def name(): String = s"doclingsink(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = DocSink.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val dir = properties.getOrElse("path",
      throw new IllegalArgumentException("doclingsink requires a path"))
    // Spark validates the incoming frame against the declared table
    // schema before this builder runs (INCOMPATIBLE_DATA_FOR_TABLE on a
    // mismatch — DocSinkSpec pins it); this require is the belt to that
    // suspender for direct-API callers
    val s = info.schema()
    require(s.fieldNames.toSet == Set("filename", "content") &&
      s.fields.forall(_.dataType == StringType),
      s"doclingsink expects (filename STRING, content STRING), got ${s.simpleString}")
    val fi = s.fieldIndex("filename")
    val ci = s.fieldIndex("content")
    val bundle = info.options().getInt("bundleDocs", 0)
    require(bundle >= 0, s"doclingsink: bundleDocs must be >= 0, got $bundle")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DocSinkBatchWrite(dir, fi, ci, bundle)
      }
    }
  }
}

final class DocSinkBatchWrite(dir: String, filenameIdx: Int, contentIdx: Int,
                              bundleDocs: Int = 0)
    extends BatchWrite {

  private val jobId = UUID.randomUUID().toString
  private def stagingPath = new Path(dir, s"_staging_$jobId")

  // the driver's resolved Hadoop conf — the same credential/filesystem
  // plumbing the read connector ships to the executors
  private val conf = new SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  // broadcast once per write job: a conf held by value in the factory is
  // re-serialized into every task
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DocSinkWriterFactory(dir, jobId, filenameIdx, contentIdx, bundleDocs,
      org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(conf))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // tasks already published their files in their own commit();
    // the job commit only clears the staging dir
    val fs = new Path(dir).getFileSystem(conf.value)
    fs.delete(stagingPath, true)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf.value)
    fs.delete(stagingPath, true)
    ()
  }
}

final case class DocSinkCommit(files: Seq[String]) extends WriterCommitMessage

final class DocSinkWriterFactory(dir: String, jobId: String,
                                 filenameIdx: Int, contentIdx: Int,
                                 bundleDocs: Int,
                                 conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DocSinkWriter(dir, jobId, partitionId, taskId, filenameIdx, contentIdx,
      bundleDocs, conf.value)
}

final class DocSinkWriter(dir: String, jobId: String,
                          partitionId: Int, taskId: Long,
                          filenameIdx: Int, contentIdx: Int,
                          bundleDocs: Int,
                          conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {

  // per-ATTEMPT staging subdir: taskId is unique per attempt, so
  // speculative twins of the same partition never share a path
  private val staging =
    new Path(new Path(dir, s"_staging_$jobId"), s"$partitionId-$taskId")
  private lazy val fs = {
    val f = staging.getFileSystem(conf.value)
    // local ChecksumFileSystem would shadow every artifact with a .crc
    // side-file; HDFS/object stores carry checksums internally
    f.setWriteChecksum(false)
    f
  }
  private val written = scala.collection.mutable.ArrayBuffer.empty[String]

  // bundled-mode state: the open shard stream plus its offset index
  private var bundleSeq = 0
  private var bundleOut: org.apache.hadoop.fs.FSDataOutputStream = null
  private var bundleOffset = 0L
  private val bundleIndex =
    scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  private def bundleName = s"bundle-$partitionId-$taskId-$bundleSeq.bin"

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Seal the open shard: close the payload stream, write the sidecar
    * index (one JSON line per document: bundle, name, offset, len), and
    * queue both for this attempt's publish. */
  private def closeBundle(): Unit = {
    if (bundleOut != null) {
      bundleOut.close()
      val idx = fs.create(new Path(staging, bundleName + ".idx"), true)
      try bundleIndex.foreach { case (name, off, len) =>
        idx.write((s"""{"bundle":${jsonStr(bundleName)},"name":${jsonStr(name)}""" +
          s""","offset":$off,"len":$len}""" + "\n").getBytes("UTF-8"))
      } finally idx.close()
      written += bundleName
      written += bundleName + ".idx"
      bundleOut = null
      bundleOffset = 0L
      bundleIndex.clear()
      bundleSeq += 1
    }
  }

  override def write(row: InternalRow): Unit = {
    // basename only: a filename carrying separators cannot escape dir.
    // Take the substring after the last separator explicitly so that
    // separator-only ("/") and trailing-separator ("a/") names fall
    // into the require below with its clear diagnostic instead of an
    // opaque empty.last or a silent collapse to the parent segment.
    val raw = row.getUTF8String(filenameIdx).toString
    val cut = math.max(raw.lastIndexOf('/'), raw.lastIndexOf('\\'))
    val name = raw.substring(cut + 1)
    require(name.nonEmpty && name != "." && name != "..",
      s"doclingsink: unusable filename '$raw'")
    val bytes = row.getUTF8String(contentIdx).getBytes
    if (bundleDocs > 0) {
      if (bundleOut == null)
        bundleOut = fs.create(new Path(staging, bundleName), true)
      bundleOut.write(bytes)
      bundleIndex += ((name, bundleOffset, bytes.length.toLong))
      bundleOffset += bytes.length
      if (bundleIndex.size >= bundleDocs) closeBundle()
    } else {
      val out = fs.create(new Path(staging, name), true)
      try out.write(bytes)
      finally out.close()
      written += name
    }
    ()
  }

  override def commit(): WriterCommitMessage = {
    closeBundle() // seal a partially-filled trailing shard, if any
    // task-side publish (invoked for at most one attempt per task by
    // the output-commit coordinator): move this task's staged files
    // into place in parallel with every other committing task
    val target = new Path(dir)
    fs.mkdirs(target)
    written.foreach { name =>
      val src = new Path(staging, name)
      val dst = new Path(target, name)
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"doclingsink: publish failed for $name")
    }
    DocSinkCommit(written.toSeq)
  }

  override def abort(): Unit = {
    if (bundleOut != null) { bundleOut.close(); bundleOut = null }
    // attempt-level abort: drop ONLY this attempt's staging subdir —
    // a sibling attempt's staged files live under their own subdir and
    // are untouched; the job-level abort removes the whole per-job
    // staging tree as the backstop
    fs.delete(staging, true)
    ()
  }

  override def close(): Unit = ()
}
