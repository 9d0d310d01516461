package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkTestBase

/** The DSv2 conversion table: same results as Pipeline.convertDirectory,
  * registered under the `docling` short name, and — the point of the
  * connector tier — column pruning that reaches the kernel: a scan that
  * needs no converted column must never parse a byte. */
class ConvertDataSourceSpec extends SparkTestBase {

  import spark.implicits._

  private def stage(): String = {
    val dir = Files.createTempDirectory("graft-dsv2")
    Files.write(dir.resolve("a.md"), "# A\n\nAlpha.".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("b.csv"), "x,y\n1,2\n".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("weird.xyz"), "???".getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  test("docling short name reads a directory with pipeline-identical results") {
    val dir = stage()
    val viaSource = spark.read.format("docling").load(dir)
      .select($"filename", $"markdown", $"error")
      .collect().map(_.toSeq).toSet
    val viaPipeline = graft.Pipeline.convertDirectory(spark, dir)
      .select($"filename", $"markdown", $"error")
      .collect().map(_.toSeq).toSet
    assert(viaSource.nonEmpty)
    assert(viaSource == viaPipeline)
  }

  test("pruned scans never invoke the kernel; full scans do") {
    val dir = stage()
    val before = ConvertDataSource.kernelCalls.get()
    // filename-only projection: conversion must be skipped entirely
    val names = spark.read.format("docling").load(dir)
      .select($"filename").as[String].collect().toSet
    assert(names == Set("a.md", "b.csv", "weird.xyz"))
    assert(ConvertDataSource.kernelCalls.get() == before,
      "a filename-only scan ran the conversion kernel")

    // asking for markdown converts exactly once per file (collect, not
    // count: count prunes every column away and would skip the kernel)
    val md = spark.read.format("docling").load(dir)
      .select($"markdown").collect()
    assert(md.length == 3)
    assert(ConvertDataSource.kernelCalls.get() == before + 3,
      s"expected +3 kernel calls, got +${ConvertDataSource.kernelCalls.get() - before}")
  }

  test("_ and . files are skipped by the scan and the pipeline alike") {
    val dir = Files.createTempDirectory("graft-dsv2-hidden")
    Files.write(dir.resolve("a.md"), "# A".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve(".hidden.md"), "# H".getBytes(StandardCharsets.UTF_8))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"filename", $"markdown", $"error").collect().map(_.toSeq).toSet
    val viaSource = rows(spark.read.format("docling").load(dir.toString))
    assert(viaSource == rows(graft.Pipeline.convertDirectory(spark, dir.toString)))
    assert(viaSource == Set(Seq("a", "# A", null)))
  }

  test("scan rows equal convertOne per file (batch mode, error rows)") {
    val dir = Files.createTempDirectory("graft-dsv2-kernel")
    val files = Seq("a.md" -> "# A", "bad.pdf" -> "%PDF-junk", "c.csv" -> "x,y\n1,2\n")
      .map { case (n, c) => n -> c.getBytes(StandardCharsets.UTF_8) }
    files.foreach { case (n, bytes) => Files.write(dir.resolve(n), bytes) }
    val got = spark.read.format("docling").load(dir.toString)
      .as[graft.kernel.ConvertKernel.ConversionResult].collect().sortBy(_.filename)
    val want = files.map { case (n, bytes) =>
      graft.kernel.ConvertKernel.convertOne(n, bytes, batchMode = true)
    }.sortBy(_.filename)
    assert(got.toSeq == want)
    assert(got.count(_.error != null) == 1) // one failure never poisons the batch
  }

  test("SQL DDL reaches the connector: CREATE TEMP VIEW ... USING docling") {
    val dir = stage()
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW inbox USING docling OPTIONS (path '$dir')")
    val got = spark.sql(
      "SELECT filename, error IS NULL AS ok FROM inbox ORDER BY filename")
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(got == Seq(("a", true), ("b", true), ("weird.xyz", false)))
  }

  test("LPT plan: each file once, min(n, k) buckets, makespan bound") {
    val gen = new scala.util.Random(42)
    (1 to 300).foreach { _ =>
      val n = gen.nextInt(60)
      val files = (0 until n).map(i => (s"f$i", 1L + gen.nextInt(1000)))
      val buckets = 1 + gen.nextInt(16)
      val parts = ConvertDataSource.plan(files, buckets)
      assert(parts.flatten.sorted == files.sorted, s"coverage broke: $files -> $parts")
      val k = math.min(n, buckets)
      assert(parts.length == k && parts.forall(_.nonEmpty))
      if (n > 0) {
        val loads = parts.map(_.map(_._2).sum)
        assert(loads.max <= files.map(_._2).sum.toDouble / k + files.map(_._2).max,
          s"LPT bound broke: loads=$loads")
      }
    }
  }

  test("LPT plan places largest first; empty files weigh 1") {
    val files = Seq(("small", 1L), ("big1", 100L), ("big2", 90L), ("mid", 50L))
    val parts = ConvertDataSource.plan(files, 2)
    assert(parts == Seq(Vector(("big1", 100L), ("small", 1L)),
      Vector(("big2", 90L), ("mid", 50L))))
    val empties = (0 until 6).map(i => (s"e$i", 0L))
    assert(ConvertDataSource.plan(empties, 3).map(_.length) == Seq(2, 2, 2))
  }

  test("options thread through: maxFileMb 413s oversized files in-scan") {
    val dir = Files.createTempDirectory("graft-dsv2-big")
    Files.write(dir.resolve("big.md"),
      ("# big\n\n" + "x" * (1100 * 1024)).getBytes(StandardCharsets.UTF_8))
    val r = spark.read.format("docling").option("maxFileMb", 1).load(dir.toString)
      .select($"filename", $"error").collect()
    assert(r.length == 1)
    assert(r.head.getString(1) == graft.ingest.UploadValidation.fileTooLargeError(1))
  }

  test("rows buffered across next() calls keep their own images (no buffer aliasing)") {
    // the serializer reuses its output buffer between files, so a reader
    // that hands out views would let file 2 overwrite file 1's images for
    // any consumer that buffers rows — drive the PartitionReader directly
    // and hold the first row across the second next()
    val dir = Files.createTempDirectory("graft-dsv2-imgs")
    Files.write(dir.resolve("p1.png"), graft.kernel.ImageRenderer.renderPicture(1))
    Files.write(dir.resolve("p2.png"), graft.kernel.ImageRenderer.renderPicture(2))
    val files = dir.toFile.listFiles().sortBy(_.getName)
      .map(f => (f.getAbsolutePath, f.length())).toVector
    val reader = new ConvertReader(ConvertInputPartition(files),
      ConvertDataSource.schema, graft.kernel.ConvertKernel.FileOptions(),
      spark.sessionState.newHadoopConf())
    val schema = ConvertDataSource.schema
    def imageB64(row: org.apache.spark.sql.catalyst.InternalRow): String = {
      val images = row.getArray(schema.fieldIndex("images"))
      images.getStruct(0, 3).getString(2) // the base64 payload field
    }
    assert(reader.next())
    val first = reader.get()
    val firstImage = imageB64(first)
    assert(reader.next())
    val secondImage = imageB64(reader.get())
    assert(!reader.next())
    reader.close()
    // re-reading the BUFFERED first row must still yield file 1's image,
    // byte-for-byte different from file 2's
    assert(imageB64(first) == firstImage)
    assert(firstImage != secondImage)
  }
}
