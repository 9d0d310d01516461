package graft

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.UploadValidation
import graft.kernel.ConvertKernel.{ConversionConfig, FileOptions}
import graft.sources.ConvertDataSource

/** The composed ingest→convert pipeline (SURVEY §3.1 trace as a library
  * entry point): a directory read through the `docling` scan
  * (graft.sources.ConvertDataSource) — listing → core-sized LPT
  * partitions → size check before any read → ConvertKernel.convertOne
  * per file → error-as-column results.
  *
  * A user of the reference's batch-convert endpoint points this at a
  * directory instead:
  *  - over-limit files become 413 error rows without their content ever
  *    being read;
  *  - unsupported formats and parse failures become error rows from the
  *    kernel's one format-detection decision tree, exactly like
  *    ConvertKernel.convertOne;
  *  - error messages match the reference's (413 size text, unsupported
  *    format text), and batchMode controls the stem/full-filename
  *    asymmetry the same way.
  */
object Pipeline {

  def convertDirectory(spark: SparkSession, dir: String,
                       config: ConversionConfig = ConversionConfig(),
                       maxFileMb: Int = UploadValidation.DefaultMaxFileMb,
                       batchMode: Boolean = true): DataFrame =
    scan(spark, Seq(dir), FileOptions(config, maxFileMb, batchMode))

  private def scan(spark: SparkSession, paths: Seq[String],
                   options: FileOptions): DataFrame =
    spark.read.format("docling").options(options.toOptions).load(paths: _*)

  /** INCREMENTAL [[convertDirectory]]: convert only files not yet
    * recorded in the `ledgerDir` parquet of done `(filename, length)`
    * rows, then append the newly-done rows to the ledger — the daily-drop
    * ingest shape (the orchestration-plane analog of d11's incremental
    * dedup: never re-convert the corpus to ingest a batch). The pending
    * set is a LISTING-level left-anti join — the scan's own listing of
    * `(filename, length, path)`, never a byte of content — and only the
    * pending paths reach the `docling` scan. A file whose length changed
    * re-converts (filename+length is the change key; a real deployment
    * would use modificationTime too).
    *
    * Commit-order contract: the ledger append runs at CALL time, before
    * the caller materializes the returned results — at-most-once
    * semantics (a crash between ledger append and result consumption
    * skips those files on retry). A production deployment flips the
    * order — write results, then the ledger — or commits both behind a
    * transactional table format; the join shape stays identical.
    * Returns (results for the NEW files only, n_previously_done). */
  def convertDirectoryIncremental(spark: SparkSession, dir: String,
                                  ledgerDir: String,
                                  config: ConversionConfig = ConversionConfig(),
                                  maxFileMb: Int = UploadValidation.DefaultMaxFileMb,
                                  batchMode: Boolean = true): (DataFrame, Long) = {
    import spark.implicits._

    val hadoopConf = spark.sessionState.newHadoopConf()
    val listing = ConvertDataSource.listFiles(Seq(dir), hadoopConf)
      .map(f => (f.getPath.getName, f.getLen, f.getPath.toString))
      .toDF("filename", "length", "path")

    // probe through the Hadoop FileSystem API, not java.io.File: the
    // ledger lives wherever the deployment points it (HDFS/object
    // store), and a local-only probe would read "absent" there — every
    // run re-converting the whole directory while appending duplicate
    // ledger rows, silently defeating the incremental contract
    val ledgerPath = new org.apache.hadoop.fs.Path(ledgerDir)
    val ledgerFs = ledgerPath.getFileSystem(hadoopConf)
    val ledgerExists = ledgerFs.exists(ledgerPath) &&
      ledgerFs.listStatus(ledgerPath)
        .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val done =
      if (ledgerExists) spark.read.parquet(ledgerDir)
      else Seq.empty[(String, Long)].toDF("filename", "length")

    val nDone = done.count()
    // a file is done iff the ledger holds exactly its (filename, length)
    // — a changed file's new length isn't there, so it re-converts, and
    // its stale ledger row is harmless
    val pending = listing.join(done, Seq("filename", "length"), "left_anti")
      .select($"filename", $"length", $"path")
      .as[(String, Long, String)].collect()

    val results =
      if (pending.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ConvertDataSource.schema)
      else scan(spark, pending.map(_._3).toSeq, FileOptions(config, maxFileMb, batchMode))

    // record the newly-converted files (append-only ledger)
    pending.map { case (name, len, _) => (name, len) }.toSeq
      .toDF("filename", "length")
      .write.mode("append").parquet(ledgerDir)

    (results, nDone)
  }

  /** [[convertDirectory]] with run metrics attached via Spark's
    * Observation API — the engine analog of the reference's per-job
    * result stats (service.py:244-273 aggregates success/failure counts
    * per batch). The metrics ride the SAME action as accumulators:
    * no second pass over the data, where a bookkeeping `.count()` at
    * 100 TB would re-run the kernel. After any action on the returned
    * frame, `observation.get` yields n_docs / n_errors / markdown_chars. */
  def convertDirectoryObserved(spark: SparkSession, dir: String,
                               config: ConversionConfig = ConversionConfig(),
                               maxFileMb: Int = UploadValidation.DefaultMaxFileMb,
                               batchMode: Boolean = true): (DataFrame, Observation) = {
    val obs = Observation()
    val out = convertDirectory(spark, dir, config, maxFileMb, batchMode)
      .observe(obs,
        count(lit(1)).as("n_docs"),
        count(col("error")).as("n_errors"),
        sum(length(coalesce(col("markdown"), lit("")))).cast("long")
          .as("markdown_chars"))
    (out, obs)
  }
}
