package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.zip.{ZipEntry, ZipOutputStream}

import javax.imageio.ImageIO

/** Seeded input generators. Every input carries its ground truth: the
  * marker words the converted text must contain, the native size of each
  * embedded picture (the converted image must be that size times the
  * request's resolution scale), and for planted invalid uploads the exact
  * status and detail text the API must answer with. The same seed always
  * yields byte-identical inputs; the program under test sees only the
  * bytes. */
object Gen {

  ImageIO.setUseCache(false)

  /** One generated document and what its conversion must show. */
  final case class Doc(name: String, format: String, bytes: Array[Byte],
                       markers: Seq[String], pictures: Seq[(Int, Int)])

  /** An upload the API must refuse with exactly this status and detail. */
  final case class Invalid(name: String, bytes: Array[Byte], status: Int, detail: String)

  val Formats: Seq[String] = Seq("md", "csv", "html", "docx", "pptx", "pdf", "png")

  /** Fixed vocabulary (independent of the seed) of pronounceable words. */
  val Vocab: IndexedSeq[String] = {
    val r = new java.util.Random(7L)
    val cons = "bcdfghklmnprstvz"
    val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < 4000) {
      val syl = 2 + r.nextInt(3)
      seen += (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }
    seen.toIndexedSeq
  }

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def double(): Double = r.nextDouble()
    def word(): String = Vocab(r.nextInt(Vocab.size))
    def words(n: Int): String = Seq.fill(n)(word()).mkString(" ")
    def split(): Rng = new Rng(r.nextLong())
    def shuffle[T](xs: Seq[T]): Seq[T] = {
      val a = xs.toArray[Any]
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq.asInstanceOf[Seq[T]]
    }
  }

  /** A marker token no other document shares: letters and digits only, so
    * no output format escapes or reflows it. */
  def marker(tag: String, i: Int, rng: Rng): String = f"qz$tag${i}x${rng.int(1 << 30)}%08x"

  // ---------------------------------------------------------------- images

  /** A seeded w x h RGB raster: smooth gradients plus a few blocks, so
    * every picture has the same encode cost profile but different pixels. */
  def raster(w: Int, h: Int, rng: Rng): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val (a, b, c) = (rng.int(256), rng.int(256), rng.int(256))
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        row(x) = (((a + x) & 0xFF) << 16) | (((b + y) & 0xFF) << 8) | ((c + x + y) & 0xFF)
        x += 1
      }
      img.setRGB(0, y, w, 1, row, 0, w)
      y += 1
    }
    val g = img.createGraphics()
    (0 until 6).foreach { _ =>
      g.setColor(new java.awt.Color(rng.int(1 << 24)))
      g.fillRect(rng.int(w), rng.int(h), 1 + rng.int(w / 3 + 1), 1 + rng.int(h / 3 + 1))
    }
    g.dispose()
    img
  }

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  def png(w: Int, h: Int, rng: Rng): Array[Byte] = encode(raster(w, h, rng), "png")

  // ------------------------------------------------------------- containers

  private val ZipTime = 315532800000L // 1980-01-01, the first DOS date

  private def zip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (n, b) =>
      val e = new ZipEntry(n)
      e.setTime(ZipTime) // a fixed timestamp keeps containers byte-identical per seed
      zos.putNextEntry(e); zos.write(b); zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private def rels(targets: Seq[(String, String)]): Array[Byte] =
    ("""<?xml version="1.0" encoding="UTF-8"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      targets.map { case (id, t) =>
        s"""<Relationship Id="$id" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/image" Target="$t"/>"""
      }.mkString + "</Relationships>").getBytes(UTF_8)

  private val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
  private val A = "http://schemas.openxmlformats.org/drawingml/2006/main"
  private val P = "http://schemas.openxmlformats.org/presentationml/2006/main"
  private val R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  // ------------------------------------------------------------- documents

  /** One document of `format`. `paras` paragraphs of `words` words carry one
    * marker each; `pics` pictures of native size `picW` x `picH` are embedded
    * in the formats that hold pictures (docx, pptx, pdf, png). */
  def doc(format: String, stem: String, rng: Rng, paras: Int, words: Int,
          pics: Int, picW: Int, picH: Int): Doc = {
    val marks = (0 until math.max(1, paras)).map(i => marker(format.take(2), i, rng))
    def para(i: Int): String = s"${rng.words(words / 2)} ${marks(i)} ${rng.words(words - words / 2)}"
    format match {
      case "md" =>
        val body = s"# ${rng.words(4)}\n\n" + marks.indices.map(para).mkString("\n\n") +
          s"\n\n- ${rng.words(3)}\n- ${rng.words(3)}\n"
        Doc(s"$stem.md", format, body.getBytes(UTF_8), marks, Nil)
      case "csv" =>
        val rows = marks.indices.map(i => s"${i + 1},${marks(i)},${rng.words(3)},${rng.int(10000)}")
        Doc(s"$stem.csv", format, ("id,key,label,value\n" + rows.mkString("\n") + "\n").getBytes(UTF_8),
          marks, Nil)
      case "html" =>
        val ps = marks.indices.map(i => s"<p>${para(i)}</p>").mkString
        val tbl = "<table><tr><th>name</th><th>value</th></tr>" +
          (0 until 3).map(_ => s"<tr><td>${rng.word()}</td><td>${rng.int(1000)}</td></tr>").mkString + "</table>"
        Doc(s"$stem.html", format,
          s"<html><body><h1>${rng.words(3)}</h1>$ps$tbl</body></html>".getBytes(UTF_8), marks, Nil)
      case "docx" =>
        val media = (1 to pics).map(k => s"word/media/image$k.png" -> png(picW, picH, rng))
        val textParas = marks.indices.map(i => s"<w:p><w:r><w:t>${para(i)}</w:t></w:r></w:p>")
        val picParas = (1 to pics).map(k =>
          s"""<w:p><w:r><w:drawing><wp:inline xmlns:wp="x"><a:graphic xmlns:a="$A"><a:graphicData>""" +
            s"""<pic:pic xmlns:pic="p"><pic:blipFill><a:blip r:embed="rIdImg$k"/></pic:blipFill></pic:pic>""" +
            "</a:graphicData></a:graphic></wp:inline></w:drawing></w:r></w:p>")
        // pictures interleave with the text paragraphs
        val body = textParas.zipAll(picParas, "", "").map { case (t, p) => t + p }.mkString +
          "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>k</w:t></w:r></w:p></w:tc><w:tc><w:p><w:r><w:t>v</w:t></w:r></w:p></w:tc></w:tr>" +
          s"<w:tr><w:tc><w:p><w:r><w:t>${rng.word()}</w:t></w:r></w:p></w:tc><w:tc><w:p><w:r><w:t>${rng.int(99)}</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"
        val xml = s"""<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w="$W" xmlns:r="$R"><w:body>$body</w:body></w:document>"""
        val bytes = zip(Seq(
          "[Content_Types].xml" -> "<Types/>".getBytes(UTF_8),
          "word/document.xml" -> xml.getBytes(UTF_8),
          "word/_rels/document.xml.rels" -> rels((1 to pics).map(k => s"rIdImg$k" -> s"media/image$k.png"))) ++ media)
        Doc(s"$stem.docx", format, bytes, marks, Seq.fill(pics)((picW, picH)))
      case "pptx" =>
        // one slide per marker; pictures go on the first slides, one each
        val slides = marks.indices.map { i =>
          val pic = if (i < pics)
            s"""<p:pic><p:nvPicPr><p:cNvPr id="3" name="Picture"/></p:nvPicPr><p:blipFill><a:blip r:embed="rIdImg1"/></p:blipFill></p:pic>"""
          else ""
          val xml = s"""<?xml version="1.0" encoding="UTF-8"?><p:sld xmlns:p="$P" xmlns:a="$A" xmlns:r="$R"><p:cSld><p:spTree>""" +
            s"""<p:sp><p:nvSpPr><p:cNvPr id="2" name="Body"/></p:nvSpPr><p:txBody><a:p><a:r><a:t>${para(i)}</a:t></a:r></a:p></p:txBody></p:sp>""" +
            pic + "</p:spTree></p:cSld></p:sld>"
          val slideRels = if (i < pics) Seq(s"ppt/slides/_rels/slide${i + 1}.xml.rels" ->
            rels(Seq("rIdImg1" -> s"../media/image${i + 1}.png"))) else Nil
          val media = if (i < pics) Seq(s"ppt/media/image${i + 1}.png" -> png(picW, picH, rng)) else Nil
          (s"ppt/slides/slide${i + 1}.xml" -> xml.getBytes(UTF_8)) +: (slideRels ++ media)
        }
        val n = math.min(pics, marks.size)
        Doc(s"$stem.pptx", format,
          zip(("[Content_Types].xml" -> "<Types/>".getBytes(UTF_8)) +: slides.flatten),
          marks, Seq.fill(n)((picW, picH)))
      case "pdf" =>
        // one page per marker; JPEG image XObjects on the first pages
        val jpegs = (0 until math.min(pics, marks.size)).map(_ => encode(raster(picW, picH, rng), "jpg"))
        Doc(s"$stem.pdf", format, pdf(marks.indices.map(para), jpegs, picW, picH), marks,
          Seq.fill(jpegs.size)((picW, picH)))
      case "png" =>
        Doc(s"$stem.png", format, png(picW, picH, rng), Nil, Seq((picW, picH)))
    }
  }

  /** A text PDF: catalog, page tree, one page per paragraph (WinAnsi
    * Helvetica), page i < images.size also draws image XObject i. */
  def pdf(paras: Seq[String], jpegs: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
    val n = paras.size
    // object numbers: 1 catalog, 2 pages, 3 font, then per page: page,
    // content, and (optionally) image
    val bos = new ByteArrayOutputStream()
    def out(s: String): Unit = bos.write(s.getBytes(ISO_8859_1))
    out("%PDF-1.4\n")
    val pageIds = (0 until n).map(i => 4 + 3 * i)
    out("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    out(s"2 0 obj\n<< /Type /Pages /Kids [${pageIds.map(id => s"$id 0 R").mkString(" ")}] /Count $n >>\nendobj\n")
    out("3 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>\nendobj\n")
    paras.zipWithIndex.foreach { case (text, i) =>
      val (pid, cid, iid) = (4 + 3 * i, 5 + 3 * i, 6 + 3 * i)
      val hasImg = i < jpegs.size
      val xobj = if (hasImg) s" /XObject << /Im$i $iid 0 R >>" else ""
      out(s"$pid 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 3 0 R >>$xobj >> /Contents $cid 0 R >>\nendobj\n")
      val draw = if (hasImg) s" q $w 0 0 $h 72 400 cm /Im$i Do Q" else ""
      val content = s"BT /F1 11 Tf 72 720 Td ($text) Tj ET$draw"
      out(s"$cid 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")
      if (hasImg) {
        val j = jpegs(i)
        out(s"$iid 0 obj\n<< /Type /XObject /Subtype /Image /Width $w /Height $h /ColorSpace /DeviceRGB " +
          s"/BitsPerComponent 8 /Filter /DCTDecode /Length ${j.length} >>\nstream\n")
        bos.write(j)
        out("\nendstream\nendobj\n")
      }
    }
    out("%%EOF\n")
    bos.toByteArray
  }

  // ------------------------------------------------------------ api inputs

  /** The i-th small request document for the API workload: the kernel does
    * little work per document, so per-request overhead dominates. Formats
    * cycle and every other cycle carries a picture, so each seed has the
    * same mix; the seed decides the content. */
  def smallDoc(i: Int, rng: Rng): Doc = {
    val format = Formats(math.floorMod(i, Formats.size))
    val pics = if (format == "png") 1 else math.floorMod(i / Formats.size, 2)
    doc(format, f"req$i%06d", rng.split(), paras = 2, words = 12, pics, picW = 32, picH = 24)
  }

  /** Planted invalid uploads: an unsupported format (400) or a file over the
    * server's configured per-file limit (413). The unsupported payload is
    * lowercase text under an unknown extension, so no magic number (BMP's
    * "BM", TIFF's "II*", ...) can make it a supported format by chance. */
  def invalid(i: Int, rng: Rng, maxFileMb: Int): Invalid =
    if (i % 2 == 0) {
      val name = f"blob$i%06d.xyz"
      val bytes = Array.fill(64 + rng.int(64))(('a' + rng.int(26)).toByte)
      Invalid(name, bytes, 400, s"Unsupported file format: $name")
    } else {
      val name = f"huge$i%06d.md"
      val bytes = Array.fill((maxFileMb << 20) + 1024)('a'.toByte)
      Invalid(name, bytes, 413, s"File size exceeds the maximum allowed size of $maxFileMb MB")
    }

  // ------------------------------------------------------- corpus inputs

  /** The convert workload's corpus mix: (format, count, paragraphs, pictures).
    * Counts are fixed so every seed carries the same amount of work. */
  val CorpusMix: Seq[(String, Int, Int, Int)] = Seq(
    ("docx", 48, 3, 2), ("pptx", 24, 4, 2), ("pdf", 24, 4, 2),
    ("html", 32, 6, 0), ("csv", 32, 20, 0), ("md", 32, 8, 0), ("png", 16, 1, 1))

  val CorpusPicW = 160
  val CorpusPicH = 120

  def corpus(seed: Long): Seq[Doc] = {
    val rng = new Rng(seed)
    CorpusMix.flatMap { case (fmt, n, paras, pics) =>
      (0 until n).map(i =>
        doc(fmt, f"$fmt$i%04d", rng.split(), paras, words = 60, pics, CorpusPicW, CorpusPicH))
    }
  }

  // ---------------------------------------------------- documents table

  /** A `documents` row (the fixture schema registered operators read). */
  final case class TextDoc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** The curate workload's table and its ground truth: which doc ids must
    * survive exact dedup, near-dup clustering and the quality gate. */
  final case class TextCorpus(rows: Seq[TextDoc], survivors: Set[Long],
                              exactGroups: Int, nearGroups: Int, lowQuality: Int)

  /** `n` documents: unique random-word texts, planted exact-duplicate groups
    * (identical text), near-duplicate groups (a few words substituted, word
    * 3-gram Jaccard well above the 0.5 similarity the dedup keeps) and
    * low-quality documents that fail the Gopher gate (too short, or mostly
    * numeric). Survivors: the lowest id of each exact group, the lowest id of
    * each near-dup component, every unique good document. Every block of 20
    * slots holds one group of each planted kind and 17 unique documents, so
    * each seed has the same mix; the seed orders it and writes the text. */
  def textCorpus(seed: Long, n: Int): TextCorpus = {
    val rng = new Rng(seed)
    val langs = Seq("en", "de", "fr", "es")
    val sources = Seq("web", "books", "news", "code")
    val rows = scala.collection.mutable.ArrayBuffer[(String, Boolean)]() // (text, survives)
    var exactGroups, nearGroups, lowQ = 0
    def body(): IndexedSeq[String] = IndexedSeq.fill(80 + rng.int(80))(rng.word())
    val block = Seq(0, 1, 2) ++ Seq.fill(17)(3)
    while (rows.size < n) rng.shuffle(block).foreach {
        case 0 => // exact-duplicate group: 2-4 identical copies
          val t = body().mkString(" ")
          val k = 2 + exactGroups % 3
          (0 until k).foreach(j => rows += ((t, j == 0)))
          exactGroups += 1
        case 1 => // near-duplicate group: 2-3 variants with 2 substitutions
          val base = body()
          val k = 2 + nearGroups % 2
          (0 until k).foreach { j =>
            val v = if (j == 0) base else {
              val w = base.toArray
              (0 until 2).foreach(_ => w(5 + rng.int(w.length - 10)) = rng.word())
              w.toIndexedSeq
            }
            rows += ((v.mkString(" "), j == 0))
          }
          nearGroups += 1
        case 2 => // low quality: too few tokens, or mostly numbers
          val t = if (lowQ % 2 == 0) rng.words(20)
            else Seq.fill(100)(if (rng.int(10) < 4) rng.int(100000).toString else rng.word()).mkString(" ")
          rows += ((t, false))
          lowQ += 1
        case _ =>
          rows += ((body().mkString(" "), true))
    }
    val docs = rows.zipWithIndex.map { case ((t, _), i) =>
      TextDoc(i.toLong, t, langs(i % langs.size), sources(i % sources.size), t.length.toLong)
    }.toSeq
    val keep = rows.zipWithIndex.collect { case ((_, true), i) => i.toLong }.toSet
    TextCorpus(docs, keep, exactGroups, nearGroups, lowQ)
  }
}
