package graft.sources

import java.util
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.ingest.UploadValidation
import graft.kernel.ConvertKernel
import graft.kernel.ConvertKernel.{ConversionResult, FileOptions}

/** The conversion kernel as a native DataSource V2 table, and the ONE
  * code path that runs the kernel over files:
  *
  * {{{
  *   spark.read.format("graft.sources.ConvertDataSource").load(dir)
  *   -- or, after META-INF/services registration --
  *   spark.read.format("docling").load(dir)
  *   spark.read.format("docling").load(paths: _*)
  * }}}
  *
  * yields `(filename, markdown, images, error)` rows.
  * [[graft.Pipeline.convertDirectory]], its incremental variant and the
  * streaming inbox (graft.streaming.EventStreams) are all reads of this
  * table. Each `path`/`paths` entry names a directory (listed flat,
  * skipping names that start with `_` or `.`, as Spark's file sources
  * do) or a file. What the connector tier buys:
  *
  *  - COLUMN PRUNING reaches the kernel: a `SELECT filename` (or a
  *    count(*)) prunes the schema to metadata-only columns, and the
  *    reader never parses a byte — at 100 TB, listing-level queries cost
  *    listing-level work.
  *  - partitions sized for the cores: `min(#files, 4 × defaultParallelism)`
  *    buckets filled largest file first onto the lightest bucket
  *    ([[ConvertDataSource.plan]]), so one big document or a run of
  *    same-format files cannot straggle a wave, and 5000 tiny docs don't
  *    become 5000 tasks.
  *  - the size check runs before any read (the reference's bounded-read
  *    rule): an over-limit file becomes a 413 error row unread.
  *
  * Options are [[ConvertKernel.FileOptions]]' string form:
  * `extractTablesAsImages` (bool, default false), `imageResolutionScale`
  * (int 1-4, default 4), `outputFormat` (default md), `ocrEngine`,
  * `maxFileMb` (int), `batchMode` (bool, DEFAULT TRUE — a directory is
  * the batch-convert surface; pass false for the single-document stem
  * naming) — mirroring the reference's query parameters (route.py:46-51).
  *
  * The reader itself is the SAME [[ConvertKernel.convertOne]] every other
  * plane uses; this file is only the planner plumbing.
  */
class ConvertDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "docling"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ConvertDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ConvertTable(properties.asScala.toMap)
}

object ConvertDataSource {
  val schema: StructType = StructType(Seq(
    StructField("filename", StringType),
    StructField("markdown", StringType),
    StructField("images", ArrayType(StructType(Seq(
      StructField("type", StringType),
      StructField("filename", StringType),
      StructField("image", StringType))))),
    StructField("error", StringType)))

  /** Kernel invocations observed by readers in this JVM — lets specs
    * prove that a pruned scan never converted anything. Test-observable
    * in local mode only (executors share the JVM). */
  val kernelCalls = new AtomicLong(0)

  /** Input partitions per core: enough buckets that LPT's imbalance is a
    * small share of each core's work, few enough that per-task overhead
    * stays amortized. */
  val BucketsPerCore = 4

  /** The `path` and `paths` options (`load(paths: _*)` sets the latter as
    * a JSON array, like Spark's file sources read it). */
  private[sources] def paths(options: Map[String, String]): Seq[String] =
    options.get("paths").toSeq.flatMap(json =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]]).toSeq) ++
      options.get("path").toSeq

  /** The files `paths` name: a directory lists flat, skipping names that
    * start with `_` or `.` (`_SUCCESS`, `.crc` — Spark's file-source
    * rule); a file stands for itself. */
  def listFiles(paths: Seq[String], hadoopConf: Configuration): Seq[FileStatus] =
    paths.flatMap { dir =>
      val p = new Path(dir)
      val fs = p.getFileSystem(hadoopConf)
      if (fs.isDirectory(p))
        fs.listStatus(p).toSeq.filter { f =>
          val name = f.getPath.getName
          f.isFile && !name.startsWith("_") && !name.startsWith(".")
        }
      else Seq(fs.getFileStatus(p))
    }

  /** LPT planning: `(path, bytes)` files, largest first, each onto the
    * currently lightest of `min(#files, buckets)` buckets — the classic
    * greedy makespan bound (the heaviest bucket holds at most
    * total/k + the largest file). Empty files weigh 1 so they spread
    * too; ties break by path and bucket index, so a listing always plans
    * the same way. Pure and property-tested (ConvertDataSourceSpec). */
  private[sources] def plan(files: Seq[(String, Long)], buckets: Int): Seq[Vector[(String, Long)]] = {
    val k = math.min(files.length, buckets)
    val lightest = mutable.PriorityQueue.tabulate(k)(i => (0L, i))(
      Ordering[(Long, Int)].reverse)
    val out = Array.fill(k)(Vector.newBuilder[(String, Long)])
    files.sortBy { case (path, len) => (-len, path) }.foreach { f =>
      val (load, i) = lightest.dequeue()
      out(i) += f
      lightest.enqueue((load + math.max(f._2, 1L), i))
    }
    out.toSeq.map(_.result())
  }
}

final class ConvertTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"docling(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = ConvertDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ConvertScanBuilder((properties ++ options.asScala).map {
      case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
    })
}

final class ConvertScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = ConvertDataSource.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new ConvertScan(options, required)
}

final class ConvertScan(options: Map[String, String], required: StructType)
    extends Scan with Batch {
  // parsed once per scan, on the driver: a bad option fails the query at
  // planning instead of inside every task
  private val fileOptions = FileOptions.fromOptions(options)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val paths = ConvertDataSource.paths(options)
    require(paths.nonEmpty, "docling source requires a path")
    val files = ConvertDataSource.listFiles(paths, spark.sessionState.newHadoopConf())
    ConvertDataSource.plan(files.map(f => (f.getPath.toString, f.getLen)),
        ConvertDataSource.BucketsPerCore * spark.sparkContext.defaultParallelism)
      .map(ConvertInputPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the SESSION Hadoop conf (spark.hadoop.* credentials, object-store
    // endpoints, filesystem impls) — executors have no session, and a
    // bare `new Configuration()` there would break against any configured
    // remote store. Broadcast once per scan, as Spark's file scans do: a
    // Configuration held by value is re-serialized into every task.
    val spark = SparkSession.active
    new ConvertReaderFactory(required, fileOptions,
      spark.sparkContext.broadcast(
        new SerializableConfiguration(spark.sessionState.newHadoopConf())))
  }
}

final case class ConvertInputPartition(files: Vector[(String, Long)]) extends InputPartition

final class ConvertReaderFactory(
    required: StructType, options: FileOptions,
    hadoopConf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ConvertReader(partition.asInstanceOf[ConvertInputPartition], required, options,
      hadoopConf.value.value)
}

final class ConvertReader(part: ConvertInputPartition, required: StructType,
                          options: FileOptions, hadoopConf: Configuration)
    extends PartitionReader[InternalRow] {

  private val it = part.files.iterator
  private var current: InternalRow = _

  // conversion only runs when a converted column is actually required —
  // the pruning contract this connector exists for
  private val needsConversion =
    required.fieldNames.exists(f => f == "markdown" || f == "images" || f == "error")

  override def next(): Boolean = {
    if (!it.hasNext) return false
    val (path, length) = it.next()
    val name = new Path(path).getName
    val result =
      if (!needsConversion) ConversionResult(name, null, Seq.empty, null)
      // size check BEFORE any read (the reference's bounded-read rule,
      // O2): an over-limit multi-GB file must 413 without buffering —
      // reading it first would also overflow the Int array size
      else if (length > UploadValidation.mbToBytes(options.maxFileMb)) {
        val errorName = if (options.batchMode) name else ConvertKernel.stemOf(name)
        ConversionResult(errorName, null, Seq.empty,
          UploadValidation.fileTooLargeError(options.maxFileMb))
      } else {
        val fsPath = new Path(path)
        val fs = fsPath.getFileSystem(hadoopConf)
        val in = fs.open(fsPath)
        val bytes =
          try {
            val buf = new Array[Byte](length.toInt)
            in.readFully(0, buf)
            buf
          } finally in.close()
        ConvertDataSource.kernelCalls.incrementAndGet()
        ConvertKernel.convertOne(name, bytes, options.config, options.batchMode)
      }
    current = toRow(result)
    true
  }

  /** The required columns of `r` as a fresh row — built by hand, not
    * through an ExpressionEncoder that every task would derive and
    * code-generate again; a fresh row per file also never aliases the
    * next file's buffers. */
  private def toRow(r: ConversionResult): InternalRow = {
    def str(s: String) = UTF8String.fromString(s) // null stays null
    InternalRow.fromSeq(required.fieldNames.toIndexedSeq.map {
      case "filename" => str(r.filename)
      case "markdown" => str(r.markdown)
      case "images" => new GenericArrayData(r.images.map(i =>
        InternalRow(str(i.`type`), str(i.filename), str(i.image))))
      case "error" => str(r.error)
    })
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
