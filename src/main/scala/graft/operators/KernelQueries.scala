package graft.operators

import java.nio.charset.StandardCharsets

import graft.{Pipeline, QuerySpec, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.kernel.ConvertKernel.ConversionConfig

/** The conversion-kernel plane (SURVEY §2.1 O1/O5/O6/O9/O13/O15/O16) as
  * oracle-checked queries, so the kernel gets CORRECTNESS rows like every
  * operator plane (reference trace: §3.1 / route.py:38-59 batch convert).
  *
  * The staging corpus is synthesized deterministically from the
  * `documents` table — filename and bytes are a pure function of
  * `(doc_id, length(text))`, cycling the three exactly-parsed text formats
  * (md / csv / html-with-image) plus an unsupported-extension slice that
  * must surface through the error channel and a real-PNG slice that must
  * convert through the image InputFormat's structural path (one picture,
  * no OCR text). Because the construction is
  * pure, the DuckDB oracle recomputes the EXPECTED conversion output
  * (markdown length, spliced image count, element-kind counts, error
  * text) from the same `documents` rows without running any converter —
  * the same fixture pattern m1–m4 use for binary payloads.
  *
  * Scale shape: the corpus write is a `foreachPartition` (each executor
  * writes its own partition's files — on a cluster this is a shared
  * filesystem, here java.io.tmpdir), staged write-once per sf dir, and
  * the read side is the real [[Pipeline.convertDirectory]] plan: one
  * `docling` scan whose partition readers run the kernel, no shuffle
  * before the final sort. Measured cost note (sf0.1, 5000 docs, on the
  * earlier binaryFile read): the warm file scan alone was ~3 s —
  * per-file Hadoop open overhead on thousands of KB-sized files — while
  * the conversion kernel added only ~0.3 s on top; this is the classic small-files shape, and
  * at real corpus scale (MB-sized documents) the per-open cost amortizes
  * per byte. The kernel itself is not the bottleneck.
  */
object KernelQueries {

  /** Deterministic staging file for doc `id` whose text has `len` chars.
    * doc_id%10==7 → unsupported plain-text `.xyz` (error channel);
    * doc_id%10==4 → a real PNG (the image InputFormat's structural
    * conversion path: one picture, no OCR text);
    * otherwise doc_id%3 cycles md / csv / html-with-one-image. */
  def fileFor(id: Long, len: Long): (String, Array[Byte]) = {
    if (id % 10 == 4)
      return (s"doc$id.png", graft.kernel.ImageRenderer.renderPicture(1))
    val (name, text) =
      if (id % 10 == 7) (s"doc$id.xyz", s"opaque payload $id")
      else (id % 3) match {
        case 0 => (s"doc$id.md",
          s"# Doc $id\n\nThis document has $len characters of source text.\n")
        case 1 => (s"doc$id.csv", s"doc_id,chars\n$id,$len\n")
        case _ => (s"doc$id.html",
          s"""<html><body><h1>Doc $id</h1><p>Contains $len characters.</p>""" +
            s"""<img src="fig.png"/><p>End of $id.</p></body></html>""")
      }
    (name, text.getBytes(StandardCharsets.UTF_8))
  }

  /** Stage the deterministic corpus for `dir` (write-once per sf dir: a
    * sibling marker records a source-parquet fingerprint; source drift
    * rebuilds from scratch), shared by k1/k2 — re-running a kernel query
    * then only pays the convert plan, not thousands of file creates.
    * Returns the staging directory path. */
  /** k8's staged archive fixture: one ZIP per source under
    * `data/archives_<sf>/src<k>.zip`, each holding that source's
    * documents as `doc<id>.txt` entries (null text → empty entry) — the
    * container shape every crawl pipeline ingests (CommonCrawl WARCs,
    * upload bundles). Same write-once marker convention as mediaTable;
    * construction is distributed (repartition by source, each partition
    * streams its sources' zips). */
  private[graft] def stagedArchives(s: SparkSession, dir: String): String = {
    import s.implicits._
    val root = new java.io.File(sys.props.getOrElse("graft.fixture.dir",
      sys.props("user.dir") + "/data"))
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = new java.io.File(root, "archives_" + base)
    val stagingPath = path.getAbsolutePath
    if (verifiedCorpora.contains(stagingPath)) return stagingPath
    val stamp = s"v1:${Multimodal.sourceFingerprint(
      new java.io.File(dir, "documents.parquet"))}"
    val marker = new java.io.File(stagingPath + ".staged")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      if (path.isDirectory) path.listFiles().foreach(f => { f.delete(); () })
      path.mkdirs()
      Tables(s, dir, "documents")
        .select($"source", $"doc_id", coalesce($"text", lit("")).as("text"))
        .repartition($"source")
        .sortWithinPartitions($"source", $"doc_id")
        .as[(String, Long, String)]
        .foreachPartition { (it: Iterator[(String, Long, String)]) =>
          var cur: String = null
          var zos: java.util.zip.ZipOutputStream = null
          def close(): Unit = if (zos != null) { zos.close(); zos = null }
          it.foreach { case (src, id, text) =>
            if (src != cur) {
              close()
              cur = src
              zos = new java.util.zip.ZipOutputStream(
                new java.io.FileOutputStream(
                  new java.io.File(path, s"$src.zip")))
            }
            zos.putNextEntry(new java.util.zip.ZipEntry(s"doc$id.txt"))
            zos.write(text.getBytes("UTF-8"))
            zos.closeEntry()
          }
          close()
        }
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedCorpora.add(stagingPath)
    stagingPath
  }

  private[graft] def stagedCorpus(s: SparkSession, dir: String): String = {
    import s.implicits._
    val staging = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_k1_" + java.lang.Integer.toHexString(dir.hashCode))
    val stagingPath = staging.getAbsolutePath
    // once-per-process fast path (the mediaTable/stagedInbox convention):
    // after first verification the measured k1-k5 calls skip the count()
    // job and marker read entirely
    if (verifiedCorpora.contains(stagingPath)) return stagingPath
    val docs = Tables(s, dir, "documents")
      .select($"doc_id",
        length(coalesce($"text", lit(""))).cast("long").as("len"))
    // corpus construction version: bump when fileFor's slicing changes,
    // so an existing staging dir from an older construction rebuilds.
    // Staleness keys on the SOURCE parquet's size/mtime fingerprint
    // (Multimodal.sourceFingerprint) — no Spark count() job just to
    // decide the staging dir is already current.
    val stamp = s"v3:${Multimodal.sourceFingerprint(
      new java.io.File(dir, "documents.parquet"))}"
    val marker = new java.io.File(stagingPath + ".staged")
    val upToDate = staging.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      if (staging.isDirectory)
        staging.listFiles().foreach(f => { f.delete(); () })
      staging.mkdirs()
      docs.as[(Long, Long)]
        .foreachPartition { (it: Iterator[(Long, Long)]) =>
          it.foreach { case (id, len) =>
            val (name, bytes) = fileFor(id, len)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(stagingPath, name), bytes)
            ()
          }
        }
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedCorpora.add(stagingPath)
    stagingPath
  }

  /** k9's deterministic PDF bytes for doc `id` whose text has `len`
    * chars — a pure function, so the DuckDB oracle recomputes the
    * expected page counts from `documents` arithmetic alone:
    *  - doc_id%10==6 → a fully image-only "scan": 0 text pages, 2
    *    image-only pages (the document the reference routes to OCR,
    *    service.py:63-70 — here it also yields parse()'s honest error
    *    row, and triage marks it needs_ocr so routing is a filter);
    *  - otherwise 1+(doc_id%3) text pages and doc_id%2 trailing
    *    image-only pages (the mixed scan-appendix shape).
    * Real structure throughout: catalog → page tree → per-page
    * /Contents streams, plus one genuine 1×1 FlateDecode /DeviceGray
    * image XObject invoked by every image page. */
  def pdfFor(id: Long, len: Long): Array[Byte] = {
    val nText = if (id % 10 == 6) 0 else (1 + id % 3).toInt
    val nImg = if (id % 10 == 6) 2 else (id % 2).toInt
    val contents =
      (0 until nText).map(p =>
        s"BT /F1 12 Tf 72 720 Td (Doc $id text page $p of $len chars.) Tj ET") ++
        (0 until nImg).map(_ => "q 100 0 0 100 72 600 cm /Im0 Do Q")
    val nPages = contents.size
    // object numbering: 1 catalog, 2 pages, 3 image, 4..3+n pages,
    // 4+n..3+2n content streams
    val imgSamples = {
      val d = new java.util.zip.Deflater()
      d.setInput(Array[Byte](0x40))
      d.finish()
      val buf = new Array[Byte](64)
      val out = new java.io.ByteArrayOutputStream()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit =
      bos.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    val kids = (0 until nPages).map(i => s"${4 + i} 0 R").mkString(" ")
    w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n")
    w(s"3 0 obj\n<< /Type /XObject /Subtype /Image /Width 1 /Height 1 " +
      s"/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /FlateDecode " +
      s"/Length ${imgSamples.length} >>\nstream\n")
    bos.write(imgSamples)
    w("\nendstream\nendobj\n")
    contents.zipWithIndex.foreach { case (_, i) =>
      w(s"${4 + i} 0 obj\n<< /Type /Page /Parent 2 0 R " +
        s"/Contents ${4 + nPages + i} 0 R " +
        s"/Resources << /XObject << /Im0 3 0 R >> >> >>\nendobj\n")
    }
    contents.zipWithIndex.foreach { case (c, i) =>
      val payload = c.getBytes(StandardCharsets.ISO_8859_1)
      w(s"${4 + nPages + i} 0 obj\n<< /Length ${payload.length} >>\nstream\n")
      bos.write(payload)
      w("\nendstream\nendobj\n")
    }
    w("%%EOF\n")
    bos.toByteArray
  }

  /** Stage k9's PDF corpus for `dir` (write-once, same marker convention
    * as [[stagedCorpus]]); one `doc<id>.pdf` per documents row. */
  private[graft] def stagedPdfCorpus(s: SparkSession, dir: String): String = {
    import s.implicits._
    val staging = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_k9_" + java.lang.Integer.toHexString(dir.hashCode))
    val stagingPath = staging.getAbsolutePath
    if (verifiedCorpora.contains(stagingPath)) return stagingPath
    val stamp = s"v1:${Multimodal.sourceFingerprint(
      new java.io.File(dir, "documents.parquet"))}"
    val marker = new java.io.File(stagingPath + ".staged")
    val upToDate = staging.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      if (staging.isDirectory)
        staging.listFiles().foreach(f => { f.delete(); () })
      staging.mkdirs()
      Tables(s, dir, "documents")
        .select($"doc_id",
          length(coalesce($"text", lit(""))).cast("long").as("len"))
        .as[(Long, Long)]
        .foreachPartition { (it: Iterator[(Long, Long)]) =>
          it.foreach { case (id, len) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(stagingPath, s"doc$id.pdf"),
              pdfFor(id, len))
            ()
          }
        }
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedCorpora.add(stagingPath)
    stagingPath
  }

  private val verifiedCorpora =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** k11's deterministic UNRULED-table PDF for doc `id` — a pure
    * function, so the DuckDB oracle recomputes the expected table
    * geometry from `documents` arithmetic alone. One page, two BT
    * blocks at the SAME x origin: an intro prose line, then the table
    * typed as plain text lines whose columns exist only as aligned runs
    * of spaces (8-char fields) — no `Td` column positioning, no rules;
    * the shape the reference's TableFormer handles with ML
    * (service.py:66) and [[graft.kernel.PdfParser.detectWhitespaceTable]]
    * reconstructs structurally. Header `h<c>` plus `2 + id%3` data rows
    * `r<r>c<c>` over `2 + id%2` columns; every `id % 5 == 0` doc
    * appends a stray prose line that crosses the gaps — the
    * conservative bar must VETO those (no table, text preserved). */
  def unruledPdfFor(id: Long): Array[Byte] = {
    val nData = (2 + id % 3).toInt
    val nCols = (2 + id % 2).toInt
    def pad8(s: String) = s + " " * (8 - s.length)
    def line(cells: Seq[String]) =
      cells.map(pad8).mkString.replaceAll("\\s+$", "")
    val header = line((0 until nCols).map(c => s"h$c"))
    val data = (1 to nData).map(r => line((0 until nCols).map(c => s"r${r}c$c")))
    val lines = (header +: data) ++
      (if (id % 5 == 0) Seq("a stray prose line crossing gaps") else Seq.empty)
    val table = "BT /F1 10 Tf 72 640 Td " + lines.zipWithIndex.map {
      case (l, i) => (if (i == 0) "" else "0 -12 Td ") + s"($l) Tj "
    }.mkString + "ET"
    val payload = (s"BT /F1 12 Tf 72 700 Td (Intro for doc $id.) Tj ET\n" +
      table).getBytes(StandardCharsets.ISO_8859_1)
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    w("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n")
    w(s"4 0 obj\n<< /Length ${payload.length} >>\nstream\n")
    bos.write(payload)
    w("\nendstream\nendobj\n%%EOF\n")
    bos.toByteArray
  }

  /** Stage k11's unruled-table corpus (write-once, the
    * [[stagedPdfCorpus]] marker convention); one `doc<id>.pdf` per
    * documents row. */
  private[graft] def stagedUnruledCorpus(s: SparkSession, dir: String): String = {
    import s.implicits._
    val staging = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_k11_" + java.lang.Integer.toHexString(dir.hashCode))
    val stagingPath = staging.getAbsolutePath
    if (verifiedCorpora.contains(stagingPath)) return stagingPath
    val stamp = s"v1:${Multimodal.sourceFingerprint(
      new java.io.File(dir, "documents.parquet"))}"
    val marker = new java.io.File(stagingPath + ".staged")
    val upToDate = staging.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      if (staging.isDirectory)
        staging.listFiles().foreach(f => { f.delete(); () })
      staging.mkdirs()
      Tables(s, dir, "documents")
        .select($"doc_id").as[Long]
        .foreachPartition { (it: Iterator[Long]) =>
          it.foreach { id =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(stagingPath, s"doc$id.pdf"),
              unruledPdfFor(id))
            ()
          }
        }
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedCorpora.add(stagingPath)
    stagingPath
  }

  /** k10's OCR LANE — the standing `needs_ocr` partition the triage
    * pass routes into (VERDICT r12 #6; the Mixing.writePackedShards
    * layout applied to the kernel plane): one row per PDF —
    * `(doc_id, filename, content, n_text_pages, n_image_only)`
    * PARTITIONED BY `needs_ocr` under `data/ocrlane_<sf>/`. The content
    * column carries the document's ORIGINAL bytes — byte-complete,
    * pinned by OcrLaneSpec's digest equality against the source corpus
    * — so the lane consumer re-enters the REAL conversion, never a
    * re-synthesized fixture. Write-once per fixture fingerprint; in
    * production the triage pass appends each batch's routed slice. */
  private[graft] def stagedOcrLane(s: SparkSession, dir: String): String = {
    import s.implicits._
    val root = new java.io.File(sys.props.getOrElse("graft.fixture.dir",
      sys.props("user.dir") + "/data"))
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = new java.io.File(root, "ocrlane_" + base)
    val lanePath = path.getAbsolutePath
    if (verifiedCorpora.contains(lanePath)) return lanePath
    val stamp = s"v1:${Multimodal.sourceFingerprint(
      new java.io.File(dir, "documents.parquet"))}"
    val marker = new java.io.File(lanePath + ".staged")
    val upToDate = path.isDirectory && marker.isFile &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == stamp
    if (!upToDate) {
      val pdfDir = stagedPdfCorpus(s, dir)
      val triaged = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf").load(pdfDir)
        .select($"path", $"content")
        .as[(String, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (p, bytes) =>
            val name = p.substring(p.lastIndexOf('/') + 1)
            val id = name.replaceAll("[^0-9]", "").toLong
            graft.kernel.PdfParser.ocrTriage(bytes) match {
              case Right(t) =>
                (id, name, bytes, t.textPages, t.imageOnlyPages,
                  t.imageOnlyPages > 0)
              case Left(_) => (id, name, bytes, 0, 0, false)
            }
          }
        }
        .toDF("doc_id", "filename", "content", "n_text_pages",
          "n_image_only", "needs_ocr")
      Mixing.writePackedShards(triaged, "needs_ocr", lanePath)
      java.nio.file.Files.write(marker.toPath, stamp.getBytes)
      ()
    }
    verifiedCorpora.add(lanePath)
    lanePath
  }

  /** Public staging hook for Bench's untimed warmup: corpus construction
    * (one file per document row — 50k creates at sf1) is fixture setup,
    * not the conversion operator k1-k5 (or the k9 triage / k10 lane
    * consume) measure. */
  def stageCorpus(s: SparkSession, dir: String): Unit = {
    stagedCorpus(s, dir)
    stagedPdfCorpus(s, dir)
    stagedOcrLane(s, dir)
    stagedUnruledCorpus(s, dir)
    ()
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      "k1_convert_directory",
      (s, dir) => {
        import s.implicits._
        Pipeline.convertDirectory(s, stagedCorpus(s, dir))
          .select(
            regexp_extract($"filename", "(\\d+)", 1).cast("long").as("doc_id"),
            $"filename",
            length($"markdown").cast("long").as("md_len"),
            size($"images").cast("long").as("n_images"),
            $"error")
          .orderBy($"doc_id")
      },
      Some(K1OracleSql)),

    // ------------------------------------------------------------------ k2
    // The OutputFormat surface (O14) under the oracle: convert the same
    // staged corpus with the structural-JSON serializer, then RE-INGEST
    // the kernel's output with a declared schema (`from_json` +
    // ArrayType(StructType)) and count elements per kind — the downstream
    // half of a document pipeline (kernel emits structure, engine queries
    // it relationally). Error rows carry NULL counts: from_json(NULL) is
    // NULL and the counts inherit it, mirroring the oracle's CASE. Same
    // scan/kernel plan as k1 — zero shuffles before the final sort; the
    // per-kind counts are per-row HOF filters over a ≤4-element array.
    QuerySpec(
      "k2_json_elements",
      (s, dir) => {
        import s.implicits._
        val kinds = from_json($"markdown",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("name",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("items",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("kind",
                    org.apache.spark.sql.types.StringType)))))))
        ).getField("items").getField("kind")
        def n(kind: String) =
          size(filter(col("kinds"), k => k === kind)).cast("long")
        Pipeline.convertDirectory(s, stagedCorpus(s, dir),
            ConversionConfig(outputFormat = "json"))
          .withColumn("kinds", kinds)
          .select(
            regexp_extract($"filename", "(\\d+)", 1).cast("long").as("doc_id"),
            $"filename",
            n("heading").as("n_heading"),
            n("text").as("n_text"),
            n("table").as("n_table"),
            n("picture").as("n_picture"),
            $"error")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 7 THEN 'doc' || CAST(doc_id AS VARCHAR) || '.xyz'
               ELSE 'doc' || CAST(doc_id AS VARCHAR) END AS filename,
          CAST(CASE WHEN doc_id % 10 = 7 THEN NULL
               WHEN doc_id % 10 = 4 THEN 0
               WHEN doc_id % 3 = 1 THEN 0 ELSE 1 END AS BIGINT) AS n_heading,
          CAST(CASE WHEN doc_id % 10 = 7 THEN NULL
               WHEN doc_id % 10 = 4 THEN 0
               WHEN doc_id % 3 = 0 THEN 1
               WHEN doc_id % 3 = 1 THEN 0 ELSE 2 END AS BIGINT) AS n_text,
          CAST(CASE WHEN doc_id % 10 = 7 THEN NULL
               WHEN doc_id % 10 = 4 THEN 0
               WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_table,
          CAST(CASE WHEN doc_id % 10 = 7 THEN NULL
               WHEN doc_id % 10 = 4 THEN 1
               WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_picture,
          CASE WHEN doc_id % 10 = 7
               THEN 'Unsupported file format: doc' || CAST(doc_id AS VARCHAR) || '.xyz'
          END AS error
        FROM documents ORDER BY doc_id""")),

    // ------------------------------------------------------------------ k3
    // The plain-TEXT serializer under the oracle (k1 covers md, k2 json):
    // same staged corpus, OutputFormat=text — headings lose their markup,
    // tables render tab-separated, pictures as "[image]" — and the oracle
    // recomputes each construction's exact rendered length. With k1/k2
    // this closes the serializer loop; doctags stays spec-pinned
    // (OutputSerializersSpec) as the fourth format.
    QuerySpec(
      "k3_text_lengths",
      (s, dir) => {
        import s.implicits._
        Pipeline.convertDirectory(s, stagedCorpus(s, dir),
            ConversionConfig(outputFormat = "text"))
          .select(
            regexp_extract($"filename", "(\\d+)", 1).cast("long").as("doc_id"),
            length($"markdown").cast("long").as("text_len"),
            $"error")
          .orderBy($"doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, CAST(length(coalesce(text, '')) AS BIGINT) AS len
          FROM documents)
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 7 THEN NULL
               WHEN doc_id % 10 = 4 THEN CAST(length('[image]') AS BIGINT)
               WHEN doc_id % 3 = 0 THEN CAST(length(
                 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
                 'This document has ' || CAST(len AS VARCHAR) ||
                 ' characters of source text.') AS BIGINT)
               WHEN doc_id % 3 = 1 THEN CAST(length(
                 'doc_id' || chr(9) || 'chars' || chr(10) ||
                 CAST(doc_id AS VARCHAR) || chr(9) || CAST(len AS VARCHAR)) AS BIGINT)
               ELSE CAST(length(
                 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
                 'Contains ' || CAST(len AS VARCHAR) || ' characters.' ||
                 chr(10) || chr(10) || '[image]' || chr(10) || chr(10) ||
                 'End of ' || CAST(doc_id AS VARCHAR) || '.') AS BIGINT)
          END AS text_len,
          CASE WHEN doc_id % 10 = 7
               THEN 'Unsupported file format: doc' || CAST(doc_id AS VARCHAR) || '.xyz'
          END AS error
        FROM d ORDER BY doc_id""")),

    // ------------------------------------------------------------------ k4
    // The DocTags serializer under the oracle — with k1 (markdown), k2
    // (json) and k3 (text) this puts ALL FOUR declared OutputFormats
    // (utils.py:20-24) under CORRECTNESS rows: heading/text/picture tags
    // and nested table cell tags render deterministically from the same
    // staged corpus, and the oracle recomputes each construction's exact
    // tagged length.
    QuerySpec(
      "k4_doctags_lengths",
      (s, dir) => {
        import s.implicits._
        Pipeline.convertDirectory(s, stagedCorpus(s, dir),
            ConversionConfig(outputFormat = "doctags"))
          .select(
            regexp_extract($"filename", "(\\d+)", 1).cast("long").as("doc_id"),
            length($"markdown").cast("long").as("doctags_len"),
            $"error")
          .orderBy($"doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, CAST(length(coalesce(text, '')) AS BIGINT) AS len
          FROM documents)
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 7 THEN NULL
               WHEN doc_id % 10 = 4 THEN CAST(length('<picture/>') AS BIGINT)
               WHEN doc_id % 3 = 0 THEN CAST(length(
                 '<section_header_level_1>Doc ' || CAST(doc_id AS VARCHAR) ||
                 '</section_header_level_1>' || chr(10) ||
                 '<text>This document has ' || CAST(len AS VARCHAR) ||
                 ' characters of source text.</text>') AS BIGINT)
               WHEN doc_id % 3 = 1 THEN CAST(length(
                 '<table><row><cell>doc_id</cell><cell>chars</cell></row>' ||
                 '<row><cell>' || CAST(doc_id AS VARCHAR) || '</cell><cell>' ||
                 CAST(len AS VARCHAR) || '</cell></row></table>') AS BIGINT)
               ELSE CAST(length(
                 '<section_header_level_1>Doc ' || CAST(doc_id AS VARCHAR) ||
                 '</section_header_level_1>' || chr(10) ||
                 '<text>Contains ' || CAST(len AS VARCHAR) ||
                 ' characters.</text>' || chr(10) || '<picture/>' || chr(10) ||
                 '<text>End of ' || CAST(doc_id AS VARCHAR) || '.</text>') AS BIGINT)
          END AS doctags_len,
          CASE WHEN doc_id % 10 = 7
               THEN 'Unsupported file format: doc' || CAST(doc_id AS VARCHAR) || '.xyz'
          END AS error
        FROM d ORDER BY doc_id""")),

    // ------------------------------------------------------------------ k5
    // The DSv2 CONNECTOR under the oracle: the same staged corpus read
    // through `spark.read.format("docling")` must produce byte-identical
    // results to k1's Pipeline.convertDirectory — same kernel, different
    // planner integration (per-file input partitions, prunable scan).
    // Shares k1's oracle SQL verbatim.
    QuerySpec(
      "k5_dsv2_convert",
      (s, dir) => {
        import s.implicits._
        s.read.format("docling").load(stagedCorpus(s, dir))
          .select(
            regexp_extract($"filename", "(\\d+)", 1).cast("long").as("doc_id"),
            $"filename",
            length($"markdown").cast("long").as("md_len"),
            size($"images").cast("long").as("n_images"),
            $"error")
          .orderBy($"doc_id")
      },
      Some(K1OracleSql)),

    // ------------------------------------------------------------------ k6
    // The V2 SINK under the oracle: every document's text delivered as
    // one artifact file through `doclingsink`'s two-phase write protocol
    // (graft.sources.DocSink — parallel task writers, staged publish,
    // driver commit), then the DELIVERED DIRECTORY read back with
    // binaryFile and measured. The oracle recomputes the expected byte
    // sizes from the documents table, so a lost row, truncated file or
    // staging leak shows up as a value mismatch — the sink's protocol
    // specs (DocSinkSpec) cover abort/overwrite; this row proves the
    // happy path end-to-end at every SF.
    QuerySpec(
      "k6_dsv2_sink_roundtrip",
      (s, dir) => {
        import s.implicits._
        val out = java.nio.file.Files.createTempDirectory("graft_k6").toString
        // spread the delivery across writer tasks: the parquet scan of a
        // small table is ONE input partition, and a single task writing
        // every artifact serially measured 24 s at sf0.1 vs 4 s
        // repartitioned — at lake scale the upstream is already
        // many-partitioned and this exchange disappears
        Tables(s, dir, "documents").filter($"text".isNotNull)
          .repartition(32)
          .select(
            concat(lit("doc"), $"doc_id".cast("string"), lit(".md")).as("filename"),
            $"text".as("content"))
          .write.format("doclingsink").mode("append").save(out)
        s.read.format("binaryFile").load(out)
          .select(
            regexp_extract($"path", "doc(\\d+)\\.md", 1).cast("long").as("doc_id"),
            $"length".as("n_bytes"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes
        FROM documents WHERE text IS NOT NULL ORDER BY doc_id""")),

    // ------------------------------------------------------------------ k7
    // BUNDLED delivery under the oracle — the 100 TB answer to k6's
    // one-file-per-document (measured 8.8× wall at 10× data, file-count-
    // linear by construction): `option("bundleDocs", 20)` packs 20
    // documents per artifact shard with a sidecar byte-offset index
    // (sources/DocSink.scala). The proof is EXACT accounting: the query
    // reads the delivered directory back, joins every index entry to its
    // shard's raw bytes, slices each document out by (offset, len) with
    // substring-on-binary, and emits the slice's md5 — compared against
    // md5(text) recomputed by DuckDB from the source table. A wrong
    // offset, a swapped length, a torn shard or a lost trailing bundle
    // cannot hash-match. Shard membership/order is left to the engine
    // (it is not part of the contract); the content hash is.
    // Scale: file count drops n/20-fold (tunable to file-system-sized
    // shards); writers stream concatenated bytes with no extra copy; the
    // read-back join is (bundle-name)-equi-keyed.
    QuerySpec(
      "k7_bundled_sink_roundtrip",
      (s, dir) => {
        import s.implicits._
        val out = java.nio.file.Files.createTempDirectory("graft_k7").toString
        Tables(s, dir, "documents").filter($"text".isNotNull)
          .repartition(32)
          .select(
            concat(lit("doc"), $"doc_id".cast("string"), lit(".md")).as("filename"),
            $"text".as("content"))
          .write.format("doclingsink").option("bundleDocs", 20)
          .mode("append").save(out)
        val bundles = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.bin").load(out)
          .select(regexp_extract($"path", "([^/]+)$", 1).as("bundle"), $"content")
        val idx = s.read
          .schema("bundle STRING, name STRING, offset LONG, len LONG")
          .json(out + "/*.idx")
        idx.join(bundles, "bundle")
          .select(
            regexp_extract($"name", "doc(\\d+)\\.md", 1).cast("long").as("doc_id"),
            $"len".as("n_bytes"),
            md5(expr("substring(content, offset + 1, len)")).as("content_md5"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5
        FROM documents WHERE text IS NOT NULL ORDER BY doc_id""")),

    // ------------------------------------------------------------------ k8
    // ARCHIVE ingest — the container shape the per-file scans (k1/k5)
    // don't cover: crawl corpora arrive as archives (CommonCrawl WARCs,
    // zip upload bundles), and the ingest unit is the ARCHIVE, not the
    // member. One staged ZIP per source ([[stagedArchives]]) is scanned
    // with binaryFile, spread across executors, and expanded in-stream
    // (ZipInputStream per archive — entries never touch disk); every
    // entry emits exact byte accounting plus its content md5, which the
    // oracle recomputes from the documents table — a lost entry, a
    // truncated member or a mis-associated archive cannot hash-match.
    // Scale: the archive is the parallelism unit, exactly how WARC
    // pipelines shard (one .warc.gz per task); expansion is
    // embarrassingly parallel after the round-robin spread (the m2
    // lesson), the per-archive memory envelope is one archive's bytes,
    // and nothing shuffles until the entry-level rows (id, 2 smalls,
    // hash) — payloads die in the task that decoded them.
    QuerySpec(
      "k8_archive_ingest",
      (s, dir) => {
        import s.implicits._
        val archives = stagedArchives(s, dir)
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.zip").load(archives)
          .select(regexp_extract($"path", "([^/]+)\\.zip$", 1).as("archive"),
            $"content")
          .as[(String, Array[Byte])]
          .repartition(s.sparkContext.defaultParallelism)
          .flatMap { case (archive, bytes) =>
            val md = java.security.MessageDigest.getInstance("MD5")
            val zin = new java.util.zip.ZipInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(String, String, Long, String)]
            var e = zin.getNextEntry
            while (e != null) {
              val content = zin.readAllBytes()
              md.reset()
              out += ((archive, e.getName, content.length.toLong,
                md.digest(content).map("%02x".format(_)).mkString))
              e = zin.getNextEntry
            }
            out
          }
          .toDF("archive", "entry", "n_bytes", "content_md5")
          .select(
            regexp_extract($"entry", "doc(\\d+)", 1).cast("long").as("doc_id"),
            $"archive", $"n_bytes", $"content_md5")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id, source AS archive,
               CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
               md5(coalesce(text, '')) AS content_md5
        FROM documents ORDER BY doc_id""")),

    // ------------------------------------------------------------------ k9
    // Needs-OCR triage (VERDICT r11 #7): the reference OCRs image-only
    // pages through Docling's models (service.py:63-70, Dockerfile:45-51)
    // — ML this kernel cannot take. What a 100 TB pipeline CAN do
    // without models is ROUTE: one structural pass per document
    // ([[graft.kernel.PdfParser.ocrTriage]] — page-tree walk + text-
    // operator/image-XObject detection, no font or image decode) emits
    // page counts and a needs_ocr flag, so the OCR lane is a filter on
    // this frame instead of a convert-fail-then-reparse loop. The staged
    // corpus is [[pdfFor]]'s pure construction, so the oracle recomputes
    // every count from doc_id arithmetic — the parser must agree with
    // the spec of the files it just read. Scale shape = k1: binaryFile
    // scan → mapPartitions, no shuffle before the presentation sort.
    QuerySpec(
      "k9_ocr_triage",
      (s, dir) => {
        import s.implicits._
        val pdfDir = stagedPdfCorpus(s, dir)
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.pdf").load(pdfDir)
          .select($"path", $"content")
          .as[(String, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (path, bytes) =>
              val id = path.substring(path.lastIndexOf('/') + 1)
                .replaceAll("[^0-9]", "").toLong
              graft.kernel.PdfParser.ocrTriage(bytes) match {
                case Right(t) =>
                  (id, t.nPages, t.textPages, t.imageOnlyPages,
                    t.imageOnlyPages > 0, null: String)
                case Left(e) => (id, 0, 0, 0, false, e)
              }
            }
          }
          .toDF("doc_id", "n_pages", "n_text_pages", "n_image_only",
            "needs_ocr", "error")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 10 = 6 THEN 2
                         ELSE 1 + (doc_id % 3) + (doc_id % 2) END AS INTEGER) AS n_pages,
               CAST(CASE WHEN doc_id % 10 = 6 THEN 0
                         ELSE 1 + (doc_id % 3) END AS INTEGER) AS n_text_pages,
               CAST(CASE WHEN doc_id % 10 = 6 THEN 2
                         ELSE doc_id % 2 END AS INTEGER) AS n_image_only,
               CASE WHEN doc_id % 10 = 6 THEN TRUE
                    ELSE (doc_id % 2) = 1 END AS needs_ocr,
               CAST(NULL AS VARCHAR) AS error
        FROM documents ORDER BY doc_id""")),

    // ----------------------------------------------------------------- k10
    // OCR-lane CONSUMER (VERDICT r12 #6): k9 routes scans; this row
    // consumes the lane. [[stagedOcrLane]] is the standing needs_ocr-
    // partitioned parquet layout the pipeline writes (byte-complete —
    // OcrLaneSpec pins content digests against the source corpus); the
    // consumer reads ONLY the needs_ocr=true partition (statically
    // pruned on the partition column), narrows to the scan-only slice
    // (zero text pages — the documents conversion CANNOT produce text
    // for without OCR), and re-enters conversion with the deterministic
    // OCR hook ([[graft.kernel.ConvertKernel.OcrEngines]]): the hook
    // supplies text, the text rides the normal md-parse → serialize
    // path, and the former error rows become markdown. The hookless
    // error for the SAME bytes rides alongside, so the before/after
    // contract is in the oracle row, not just a spec. The double's
    // output is a pure function of page structure, so DuckDB replays
    // it from doc_id arithmetic (pdfFor: doc_id%10==6 ⇒ 2 image-only
    // pages). A real OCR engine drops in by name without touching this
    // plan — the kernel's documented extension point.
    QuerySpec(
      "k10_ocr_lane_consume",
      (s, dir) => {
        import s.implicits._
        val lane = s.read.parquet(stagedOcrLane(s, dir))
          .filter($"needs_ocr" === true && $"n_text_pages" === 0)
        val hooked = ConversionConfig(
          ocrEngine = Some(graft.kernel.ConvertKernel.OcrEngines.Deterministic))
        lane.select($"doc_id", $"filename", $"content")
          .as[(Long, String, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (id, name, bytes) =>
              val without = graft.kernel.ConvertKernel.convertOne(name, bytes)
              val r = graft.kernel.ConvertKernel.convertOne(name, bytes, hooked)
              (id, r.markdown, r.error, without.error)
            }
          }
          .toDF("doc_id", "markdown", "error", "error_without_ocr")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               'Recovered page 1 of 2.' || chr(10) || chr(10) ||
                 'Recovered page 2 of 2.' AS markdown,
               CAST(NULL AS VARCHAR) AS error,
               'PDF has no extractable text (image-only PDFs need OCR models not available in this build)'
                 AS error_without_ocr
        FROM documents WHERE doc_id % 10 = 6 ORDER BY doc_id""")),

    // ----------------------------------------------------------------- k11
    // Unruled-table reconstruction (VERDICT r12 #5): the reference gets
    // table structure for layouts WITHOUT rules or column positioning
    // from TableFormer ML (service.py:66 `do_table_structure`); this
    // row pins the engine's structural answer —
    // [[graft.kernel.PdfParser.detectWhitespaceTable]], whitespace-
    // column inference over aligned single-origin lines with the grid
    // path's conservative evidence bar. The corpus is [[unruledPdfFor]]'s
    // pure construction, so the oracle recomputes the expected table
    // geometry (count, rows, cols, corner cells) from doc_id arithmetic
    // — including the VETO slice (every doc_id%5==0 file carries a
    // stray line crossing the gaps and must yield NO table). Scale
    // shape = k9: binaryFile scan → mapPartitions, no shuffle before
    // the presentation sort.
    QuerySpec(
      "k11_unruled_tables",
      (s, dir) => {
        import s.implicits._
        val pdfDir = stagedUnruledCorpus(s, dir)
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.pdf").load(pdfDir)
          .select($"path", $"content")
          .as[(String, Array[Byte])]
          .mapPartitions { it =>
            it.map { case (path, bytes) =>
              val name = path.substring(path.lastIndexOf('/') + 1)
              val id = name.replaceAll("[^0-9]", "").toLong
              graft.kernel.PdfParser.parse(name, bytes) match {
                case Right(tree) =>
                  val tables = tree.items.collect {
                    case t: graft.kernel.DocModel.TableElement => t
                  }
                  tables.headOption match {
                    case Some(t) =>
                      (id, tables.size.toLong, Option(t.numRows),
                        Option(t.numCols), Option(t.cells.head.text),
                        Option(t.cells.last.text), null: String)
                    case None =>
                      (id, 0L, None: Option[Int], None: Option[Int],
                        None: Option[String], None: Option[String],
                        null: String)
                  }
                case Left(e) =>
                  (id, 0L, None: Option[Int], None: Option[Int],
                    None: Option[String], None: Option[String], e)
              }
            }
          }
          .toDF("doc_id", "n_tables", "n_rows", "n_cols", "first_cell",
            "last_cell", "error")
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS BIGINT) AS n_tables,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    ELSE CAST(3 + doc_id % 3 AS INTEGER) END AS n_rows,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    ELSE CAST(2 + doc_id % 2 AS INTEGER) END AS n_cols,
               CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 'h0' END AS first_cell,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    ELSE 'r' || CAST(2 + doc_id % 3 AS VARCHAR) ||
                         'c' || CAST(1 + doc_id % 2 AS VARCHAR) END AS last_cell,
               CAST(NULL AS VARCHAR) AS error
        FROM documents ORDER BY doc_id"""))
  )

  /** k1's oracle, shared verbatim by k5 (the DSv2 connector must produce
    * byte-identical results to the pipeline over the same staged corpus).
    * A `def` for the same init-order reason as Relational.Q30Sql. */
  private[graft] def K1OracleSql = """
        WITH d AS (
          SELECT doc_id, CAST(length(coalesce(text, '')) AS BIGINT) AS len
          FROM documents)
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 7 THEN 'doc' || CAST(doc_id AS VARCHAR) || '.xyz'
               ELSE 'doc' || CAST(doc_id AS VARCHAR) END AS filename,
          CASE WHEN doc_id % 10 = 7 THEN NULL
               WHEN doc_id % 10 = 4 THEN CAST(length('picture-1.png') AS BIGINT)
               WHEN doc_id % 3 = 0 THEN CAST(length(
                 '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
                 'This document has ' || CAST(len AS VARCHAR) ||
                 ' characters of source text.') AS BIGINT)
               WHEN doc_id % 3 = 1 THEN CAST(length(
                 '| doc_id | chars |' || chr(10) || '|---|---|' || chr(10) ||
                 '| ' || CAST(doc_id AS VARCHAR) || ' | ' || CAST(len AS VARCHAR) || ' |') AS BIGINT)
               ELSE CAST(length(
                 '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
                 'Contains ' || CAST(len AS VARCHAR) || ' characters.' ||
                 chr(10) || chr(10) || 'picture-1.png' || chr(10) || chr(10) ||
                 'End of ' || CAST(doc_id AS VARCHAR) || '.') AS BIGINT)
          END AS md_len,
          CAST(CASE WHEN doc_id % 10 = 4 THEN 1
                    WHEN doc_id % 10 <> 7 AND doc_id % 3 = 2 THEN 1
                    ELSE 0 END AS BIGINT) AS n_images,
          CASE WHEN doc_id % 10 = 7
               THEN 'Unsupported file format: doc' || CAST(doc_id AS VARCHAR) || '.xyz'
          END AS error
        FROM d ORDER BY doc_id"""
}
