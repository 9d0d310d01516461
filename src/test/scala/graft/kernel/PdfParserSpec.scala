package graft.kernel

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.Deflater

import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.ConvertKernel.convertOne

/** Text extraction from text-based PDFs (upgrades pdf from error-row to a
  * working parser for the Flate/plain-stream common case). Fixture PDFs
  * are assembled in-test: header + content stream(s) + text operators.
  */
class PdfParserSpec extends AnyFunSuite {

  private def deflate(s: String): Array[Byte] = {
    val d = new Deflater()
    d.setInput(s.getBytes(StandardCharsets.ISO_8859_1))
    d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def pdf(streams: Seq[(String, Boolean)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bos.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    streams.zipWithIndex.foreach { case ((content, compress), i) =>
      val payload =
        if (compress) deflate(content)
        else content.getBytes(StandardCharsets.ISO_8859_1)
      val filter = if (compress) " /Filter /FlateDecode" else ""
      bos.write(
        s"${i + 4} 0 obj\n<< /Length ${payload.length}$filter >>\nstream\n"
          .getBytes(StandardCharsets.ISO_8859_1))
      bos.write(payload)
      bos.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    }
    bos.write("%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    bos.toByteArray
  }

  test("plain content stream: Tj runs with Td line breaks extract in order") {
    val content =
      "BT /F1 12 Tf 72 720 Td (Hello PDF world.) Tj 0 -14 Td (Second line.) Tj ET"
    val r = convertOne("doc.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.filename == "doc")
    assert(r.markdown == "Hello PDF world.\nSecond line.")
  }

  test("FlateDecode stream, TJ arrays, escapes and hex strings decode") {
    val content =
      "BT [(Kerned \\(text\\)) -250 ( here)] TJ ET " +
        "BT <48692068657821> Tj ET"
    val r = convertOne("flate.pdf", pdf(Seq(content -> true)))
    assert(r.error == null, String.valueOf(r.error))
    // two BT blocks -> two markdown paragraphs
    assert(r.markdown == "Kerned (text) here\n\nHi hex!")
  }

  test("multiple streams concatenate in file order") {
    val r = convertOne("multi.pdf", pdf(Seq(
      "BT (Page one text.) Tj ET" -> true,
      "BT (Page two text.) Tj ET" -> false)))
    assert(r.error == null)
    assert(r.markdown == "Page one text.\n\nPage two text.")
  }

  test("image-only pdf (no text operators) is an honest error row") {
    val r = convertOne("scan.pdf", pdf(Seq("q 100 0 0 100 0 0 cm /Im0 Do Q" -> true)))
    assert(r.markdown == null)
    assert(r.error != null && r.error.contains("OCR"))
  }

  /** ~80 MB of zeros, deflated (about 80 KB): a flate bomb. */
  private lazy val zeroBomb: Array[Byte] = {
    val d = new Deflater()
    val out = new ByteArrayOutputStream()
    val zeros = new Array[Byte](1 << 20)
    val buf = new Array[Byte](1 << 16)
    try {
      for (_ <- 0 until 80) {
        d.setInput(zeros)
        while (!d.needsInput()) out.write(buf, 0, d.deflate(buf))
      }
      d.finish()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    } finally d.end()
    out.toByteArray
  }

  test("inflate gives up past the per-part cap instead of returning a flate bomb") {
    assert(zeroBomb.length < 100 * 1024)
    // compare lengths: a failure message must not print 80 MB of bytes
    assert(PdfParser.inflate(zeroBomb).map(_.length).isEmpty)
    assert(PdfParser.inflate(deflate("BT (ok) Tj ET")).map(new String(_, StandardCharsets.ISO_8859_1))
      .contains("BT (ok) Tj ET"))
  }

  test("a pdf whose one content stream is a flate bomb converts to a row") {
    val bos = new ByteArrayOutputStream()
    bos.write(s"%PDF-1.4\n4 0 obj\n<< /Length ${zeroBomb.length} /Filter /FlateDecode >>\nstream\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    bos.write(zeroBomb)
    bos.write("\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    val r = convertOne("bomb.pdf", bos.toByteArray)
    assert(r.markdown != null || r.error != null)
  }

  test("pdf with no streams at all is an error row, not a throw") {
    val r = convertOne("empty.pdf", "%PDF-1.4\n%%EOF".getBytes)
    assert(r.error != null)
  }

  test("Tm repositioning to a new baseline breaks lines; same-y Tm does not") {
    // pdftex-style: one BT block, each line positioned with Tm
    val content = "BT 1 0 0 1 72 700 Tm (Line one) Tj " +
      "1 0 0 1 200 700 Tm ( cont) Tj " + // same y: horizontal move, no break
      "1 0 0 1 72 686 Tm (Line two) Tj ET"
    val r = convertOne("tm.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Line one cont\nLine two")
  }

  test("TJ kern gaps wide enough to be word breaks insert a space") {
    // LaTeX-style: inter-word space encoded as kerning, not a space char;
    // small kerns (-20) stay glued, wide ones (-250) become spaces, and a
    // string already starting with a space is not doubled
    val content = "BT [(Hel) -20 (lo) -250 (world) -250 ( again)] TJ ET"
    val r = convertOne("kern.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Hello world again")
  }

  test("octal escapes and nested parens in literal strings") {
    val content = "BT (A\\051B (nested) \\101) Tj ET"
    val r = convertOne("esc.pdf", pdf(Seq(content -> false)))
    assert(r.error == null)
    assert(r.markdown == "A)B (nested) A")
  }

  // ---- font/CMap fixtures: objects assembled as (num, body) with optional
  //      stream payloads, mirroring real PDF producer layout ----

  private def pdfObjs(objs: Seq[(Int, String, Option[String])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bos.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    objs.foreach { case (num, dict, stream) =>
      stream match {
        case None =>
          bos.write(s"$num 0 obj\n$dict\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
        case Some(s) =>
          val payload = s.getBytes(StandardCharsets.ISO_8859_1)
          bos.write(s"$num 0 obj\n<< /Length ${payload.length}$dict >>\nstream\n"
            .getBytes(StandardCharsets.ISO_8859_1))
          bos.write(payload)
          bos.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
      }
    }
    bos.write("%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    bos.toByteArray
  }

  private val helloCMap =
    """/CIDInit /ProcSet findresource begin begincmap
      |1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |2 beginbfchar
      |<0003> <0048>
      |<0015> <0021>
      |endbfchar
      |1 beginbfrange
      |<0020> <0039> <0061>
      |endbfrange
      |endcmap end""".stripMargin

  test("Type0 font with ToUnicode CMap decodes 2-byte codes to real text") {
    // codes: 0003=H (bfchar), 0024='e', 002B='l', 002E='o' (bfrange), 0015='!'
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Page /Resources << /Font << /F1 5 0 R >> >> /Contents 7 0 R >>", None),
      (5, "<< /Type /Font /Subtype /Type0 /BaseFont /ABCDE+TestSans /Encoding /Identity-H /ToUnicode 6 0 R >>", None),
      (6, "", Some(helloCMap)),
      (7, "", Some("BT /F1 12 Tf <0003 0024 002B 002B 002E 0015> Tj ET"))))
    val r = convertOne("subset.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Hello!")
  }

  test("bfrange array form maps each code to its listed replacement") {
    val cmap =
      """begincmap
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |1 beginbfrange
        |<0001> <0003> [<0066006C> <00660066> <0041>]
        |endbfrange
        |endcmap""".stripMargin
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Page /Resources << /Font << /F9 2 0 R >> >> >>", None),
      (2, "<< /Type /Font /Subtype /Type0 /BaseFont /Lig /ToUnicode 3 0 R >>", None),
      (3, "", Some(cmap)),
      (4, "", Some("BT /F9 8 Tf <000100020003> Tj ET"))))
    val r = convertOne("lig.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "flffA")
  }

  test("Identity-H font with no ToUnicode fails honestly instead of garbling") {
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Page /Resources << /Font << /F1 2 0 R >> >> >>", None),
      (2, "<< /Type /Font /Subtype /Type0 /BaseFont /XYZZY+Mystery /Encoding /Identity-H >>", None),
      (3, "", Some("BT /F1 12 Tf <00440045> Tj ET"))))
    val r = convertOne("glyphs.pdf", bytes)
    assert(r.markdown == null)
    assert(r.error != null && r.error.contains("ToUnicode") &&
      r.error.contains("XYZZY+Mystery"))
  }

  test("WinAnsiEncoding decodes cp1252 bytes (curly quotes) correctly") {
    // octal \223 \224 are cp1252 left/right double quotes, NOT latin-1
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Page /Resources << /Font << /F2 2 0 R >> >> >>", None),
      (2, "<< /Type /Font /Subtype /TrueType /BaseFont /Helv /Encoding /WinAnsiEncoding >>", None),
      (3, "", Some("BT /F2 10 Tf (\\223Hi\\224) Tj ET"))))
    val r = convertOne("quotes.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "“Hi”")
  }

  test("MacRomanEncoding decodes through the JVM x-MacRoman charset") {
    // 0xA5 is BULLET (U+2022) in MacRoman, yen sign in latin-1
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Page /Resources << /Font << /F3 2 0 R >> >> >>", None),
      (2, "<< /Type /Font /Subtype /TrueType /BaseFont /Mac /Encoding /MacRomanEncoding >>", None),
      (3, "", Some("BT /F3 10 Tf (\\245 item) Tj ET"))))
    val r = convertOne("mac.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "• item")
  }

  test("undeclared font name falls back to latin-1 passthrough (legacy behavior)") {
    val bytes = pdfObjs(Seq(
      (4, "", Some("BT /F1 12 Tf (Plain text.) Tj ET"))))
    val r = convertOne("plain.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Plain text.")
  }

  test("DCTDecode image XObject ships the embedded JPEG, spliced in stream order") {
    // a real 8x6 JPEG via ImageIO
    val img = new java.awt.image.BufferedImage(8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 6).foreach(y => (0 until 8).foreach(x => img.setRGB(x, y, 0x3366CC)))
    val jbos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jbos)
    val jpeg = new String(jbos.toByteArray, StandardCharsets.ISO_8859_1)

    val bos = new ByteArrayOutputStream()
    bos.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    bos.write(("1 0 obj\n<< /Type /Page /Resources << /XObject << /Im1 2 0 R >> >> >>\nendobj\n" +
      s"2 0 obj\n<< /Subtype /Image /Width 8 /Height 6 /Filter /DCTDecode /Length ${jpeg.length} >>\nstream\n")
      .getBytes(StandardCharsets.ISO_8859_1))
    bos.write(jbos.toByteArray)
    val content = "BT (Before.) Tj ET q 8 0 0 6 0 0 cm /Im1 Do Q BT (After.) Tj ET"
    bos.write(("\nendstream\nendobj\n" +
      s"3 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n%%EOF\n")
      .getBytes(StandardCharsets.ISO_8859_1))

    val r = convertOne("fig.pdf", bos.toByteArray)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Before.\n\npicture-1.png\n\nAfter.")
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(r.images.head.image)))
    // native 8x6 scaled by default images_scale 4
    assert((decoded.getWidth, decoded.getHeight) == (32, 24))
  }

  test("FlateDecode RGB raster with PNG predictor reconstructs exact pixels") {
    // 3x2 RGB: red green blue / white black gray, rows filtered with Sub(1)
    val pixels: Array[Array[Int]] = Array(
      Array(0xFF0000, 0x00FF00, 0x0000FF),
      Array(0xFFFFFF, 0x000000, 0x808080))
    val rowBytes = 3 * 3
    val filtered = new ByteArrayOutputStream()
    pixels.foreach { row =>
      filtered.write(1) // Sub filter
      val rawRow = row.flatMap(p =>
        Seq(((p >> 16) & 0xFF).toByte, ((p >> 8) & 0xFF).toByte, (p & 0xFF).toByte))
      var i = 0
      while (i < rowBytes) {
        val left = if (i >= 3) rawRow(i - 3) & 0xFF else 0
        filtered.write(((rawRow(i) & 0xFF) - left) & 0xFF)
        i += 1
      }
    }
    val d = new Deflater()
    d.setInput(filtered.toByteArray)
    d.finish()
    val dz = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) dz.write(buf, 0, d.deflate(buf))
    d.end()

    val bos = new ByteArrayOutputStream()
    bos.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    bos.write(("1 0 obj\n<< /Type /Page /Resources << /XObject << /Px 2 0 R >> >> >>\nendobj\n" +
      "2 0 obj\n<< /Subtype /Image /Width 3 /Height 2 /BitsPerComponent 8 /ColorSpace /DeviceRGB " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 15 /Colors 3 /Columns 3 >> /Length ${dz.size} >>\nstream\n")
      .getBytes(StandardCharsets.ISO_8859_1))
    bos.write(dz.toByteArray)
    val content = "BT (Chart:) Tj ET /Px Do"
    bos.write(("\nendstream\nendobj\n" +
      s"3 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n%%EOF\n")
      .getBytes(StandardCharsets.ISO_8859_1))

    val r = convertOne("chart.pdf", bos.toByteArray,
      ConvertKernel.ConversionConfig(imageResolutionScale = 1))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(r.images.head.image)))
    assert((decoded.getWidth, decoded.getHeight) == (3, 2))
    assert((decoded.getRGB(0, 0) & 0xFFFFFF) == 0xFF0000)
    assert((decoded.getRGB(1, 0) & 0xFFFFFF) == 0x00FF00)
    assert((decoded.getRGB(2, 0) & 0xFFFFFF) == 0x0000FF)
    assert((decoded.getRGB(2, 1) & 0xFFFFFF) == 0x808080)
  }

  test("undecodable image codecs are omitted, not faked as placeholders") {
    val content = "BT (Text only.) Tj ET /Im9 Do"
    val bos = new ByteArrayOutputStream()
    bos.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    bos.write(("1 0 obj\n<< /Type /Page /Resources << /XObject << /Im9 2 0 R >> >> >>\nendobj\n" +
      "2 0 obj\n<< /Subtype /Image /Width 4 /Height 4 /Filter /JPXDecode /Length 4 >>\nstream\nXXXX\nendstream\nendobj\n" +
      s"3 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n%%EOF\n")
      .getBytes(StandardCharsets.ISO_8859_1))
    val r = convertOne("jpx.pdf", bos.toByteArray)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Text only.")
    assert(r.images.isEmpty)
  }

  test("page tree drives extraction order even when file order differs") {
    // catalog -> pages(Kids=[4,3]): page 4 comes FIRST though its content
    // stream (obj 6) is written LAST in the file
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Catalog /Pages 2 0 R >>", None),
      (2, "<< /Type /Pages /Kids [4 0 R 3 0 R] /Count 2 >>", None),
      (3, "<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>", None),
      (4, "<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>", None),
      (5, "", Some("BT (Second page.) Tj ET")),
      (6, "", Some("BT (First page.) Tj ET"))))
    val r = convertOne("ordered.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "First page.\n\nSecond page.")
  }

  test("link annotations wrap the run inside their rect as markdown links") {
    // page 3: inline /Annots + inline /A action over the run at (100, 700);
    // the second run (same line band, x=300) sits OUTSIDE the rect and
    // stays plain. Page-scoped: page 4's identical-position run must NOT
    // inherit page 3's link. Annot 7 carries an INDIRECT /A action.
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Catalog /Pages 2 0 R >>", None),
      (2, "<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>", None),
      (3, "<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Annots [6 0 R 7 0 R] >>", None),
      (4, "<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>", None),
      (5, "", Some("BT 1 0 0 1 100 700 Tm (the docs) Tj 1 0 0 1 300 700 Tm (plain tail) Tj " +
        "1 0 0 1 100 650 Tm (also linked) Tj ET")),
      (6, "<< /Type /Annot /Subtype /Link /Rect [95 690 220 710] " +
        "/A << /S /URI /URI (https://example.com/d) >> >>", None),
      (7, "<< /Type /Annot /Subtype /Link /Rect [95 640 220 660] /A 9 0 R >>", None),
      (9, "<< /S /URI /URI (https://example.com/i) >>", None),
      (8, "", Some("BT 1 0 0 1 100 700 Tm (unlinked page) Tj ET"))))
    val r = convertOne("links.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    // same-y Tm repositioning joins runs without a space (the pinned
    // line-joining rule) — the link wrap still lands on its exact run
    assert(r.markdown ==
      "[the docs](https://example.com/d)plain tail\n[also linked](https://example.com/i)" +
        "\n\nunlinked page", r.markdown)
  }

  test("encrypted pdf reports the honest cause, not a garble/no-text error") {
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Page /Contents 5 0 R >>", None),
      (5, "", Some("BT (ciphertext here) Tj ET")),
      (9, "<< /Filter /Standard /V 2 /R 3 /O (x) /U (y) /P -44 >>", None)))
    val withTrailer = bytes ++
      "trailer\n<< /Size 10 /Root 1 0 R /Encrypt 9 0 R >>\n%%EOF\n"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val r = convertOne("locked.pdf", withTrailer)
    assert(r.markdown == null)
    assert(r.error != null && r.error.contains("encrypted"), String.valueOf(r.error))
  }

  test("out-of-order /Annots still attach each link to its own text") {
    // the annots array lists the LOWER line's link first — position-order
    // application must still wrap both correctly (incremental-update PDFs
    // commonly append annots out of reading order)
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Catalog /Pages 2 0 R >>", None),
      (2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>", None),
      (3, "<< /Type /Page /Parent 2 0 R /Contents 5 0 R /Annots [7 0 R 6 0 R] >>", None),
      (5, "", Some("BT 1 0 0 1 100 700 Tm (first line) Tj " +
        "1 0 0 1 100 650 Tm (second line) Tj ET")),
      (6, "<< /Type /Annot /Subtype /Link /Rect [95 690 220 710] " +
        "/A << /S /URI /URI (https://a.example) >> >>", None),
      (7, "<< /Type /Annot /Subtype /Link /Rect [95 640 220 660] " +
        "/A << /S /URI /URI (https://b.example) >> >>", None)))
    val r = convertOne("unordered.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "[first line](https://a.example)\n[second line](https://b.example)", r.markdown)
  }

  test("pdf golden: page tree + CMap font + WinAnsi font + embedded JPEG across pages") {
    val img = new java.awt.image.BufferedImage(6, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 6).foreach(y => (0 until 6).foreach(x => img.setRGB(x, y, 0x112233)))
    val jbos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jbos)
    val jpeg = new String(jbos.toByteArray, StandardCharsets.ISO_8859_1)

    // page 1: Type0+CMap "Hello!" then the image; page 2: WinAnsi quotes +
    // a kern-gap word break. Objects deliberately out of page order.
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Catalog /Pages 2 0 R >>", None),
      (2, "<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>", None),
      (4, "<< /Type /Page /Parent 2 0 R /Resources << /Font << /F2 8 0 R >> >> /Contents 10 0 R >>", None),
      (3, "<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> /XObject << /Im1 9 0 R >> >> /Contents 11 0 R >>", None),
      (5, "<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Serif /Encoding /Identity-H /ToUnicode 6 0 R >>", None),
      (6, "", Some(helloCMap)),
      (8, "<< /Type /Font /Subtype /TrueType /BaseFont /Helv /Encoding /WinAnsiEncoding >>", None),
      (10, "", Some("BT /F2 10 Tf [(\\223Great\\224) -250 (quarter)] TJ ET")),
      (11, "", Some("BT /F1 12 Tf <0003 0024 002B 002B 002E 0015> Tj ET q /Im1 Do Q"))))
    // append the JPEG image object manually (binary payload)
    val bos = new ByteArrayOutputStream()
    bos.write(bytes, 0, bytes.length - "%%EOF\n".length)
    bos.write(s"9 0 obj\n<< /Subtype /Image /Width 6 /Height 6 /Filter /DCTDecode /Length ${jpeg.length} >>\nstream\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    bos.write(jbos.toByteArray)
    bos.write("\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))

    val r = convertOne("golden.pdf", bos.toByteArray)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Hello!\n\npicture-1.png\n\n“Great” quarter")
    val decoded = decodeJpegOrPng(r.images.head.image)
    assert((decoded.getWidth, decoded.getHeight) == (24, 24)) // 6x6 × scale 4
  }

  private def decodeJpegOrPng(b64: String): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(b64)))

  // ---- table reconstruction: Tm-positioned grids become TableElements ----

  private val gridContent =
    "BT " +
      "1 0 0 1 72 700 Tm (Name) Tj 1 0 0 1 200 700 Tm (Qty) Tj 1 0 0 1 300 700 Tm (Price) Tj " +
      "1 0 0 1 72 686 Tm (Apple) Tj 1 0 0 1 200 686 Tm (3) Tj 1 0 0 1 300 686 Tm (1.50) Tj " +
      "1 0 0 1 72 672 Tm (Pear) Tj 1 0 0 1 200 672 Tm (12) Tj 1 0 0 1 300 672 Tm (0.75) Tj " +
      "ET"

  test("Tm-positioned grid reconstructs as a markdown table") {
    val r = convertOne("table.pdf", pdf(Seq(gridContent -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "| Name | Qty | Price |\n|---|---|---|\n| Apple | 3 | 1.50 |\n| Pear | 12 | 0.75 |")
  }

  test("reconstructed table renders as an image under extractTablesAsImages") {
    val r = convertOne("table.pdf", pdf(Seq(gridContent -> false)),
      ConvertKernel.ConversionConfig(extractTablesAsImages = true))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.images.map(i => (i.`type`, i.filename)) == Seq(("table", "table-1.png")))
    assert(r.markdown.endsWith("| Pear | 12 | 0.75 |\n\ntable-1.png"))
  }

  test("text before a grid in a separate block stays prose") {
    val r = convertOne("mix.pdf", pdf(Seq(
      "BT 1 0 0 1 72 720 Tm (Inventory report) Tj ET" -> false,
      gridContent -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown.startsWith("Inventory report\n\n| Name | Qty | Price |"))
  }

  test("a ragged staircase of positions does NOT reclassify as a table") {
    // 3 lines, one run each at drifting x: 1 column of evidence only
    val content = "BT 1 0 0 1 72 700 Tm (alpha) Tj " +
      "1 0 0 1 90 686 Tm (beta) Tj 1 0 0 1 110 672 Tm (gamma) Tj ET"
    val r = convertOne("stair.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "alpha\nbeta\ngamma")
  }

  test("a stray unaligned run vetoes table reclassification") {
    // grid plus one run between columns: evidence is ambiguous, keep text
    val content = "BT " +
      "1 0 0 1 72 700 Tm (A) Tj 1 0 0 1 200 700 Tm (B) Tj " +
      "1 0 0 1 72 686 Tm (C) Tj 1 0 0 1 200 686 Tm (D) Tj " +
      "1 0 0 1 136 672 Tm (footnote) Tj ET"
    val r = convertOne("stray.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(!r.markdown.contains("|"))
  }

  test("a spanning header cell covers the columns between its neighbours") {
    // row 0: a snapped label column plus (Sales H1) centered across the
    // Qty/Price columns — origin at x=240 snaps to no center, but the
    // bracket [after Region, end of row] covers cols 1-2 and the origin
    // falls inside it: colspan evidence, not a stray veto
    val content = "BT " +
      "1 0 0 1 72 700 Tm (Region) Tj 1 0 0 1 240 700 Tm (Sales H1) Tj " +
      "1 0 0 1 72 686 Tm (North) Tj 1 0 0 1 200 686 Tm (10) Tj 1 0 0 1 300 686 Tm (20) Tj " +
      "1 0 0 1 72 672 Tm (South) Tj 1 0 0 1 200 672 Tm (30) Tj 1 0 0 1 300 672 Tm (40) Tj " +
      "ET"
    val r = convertOne("span.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    // markdown fills every covered slot with the cell text (the same
    // convention the DOCX gridSpan path renders through renderTable)
    assert(r.markdown ==
      "| Region | Sales H1 | Sales H1 |\n|---|---|---|\n" +
        "| North | 10 | 20 |\n| South | 30 | 40 |")
  }

  test("detectTable emits the span as ONE cell with startCol/endCol") {
    import PdfParser.Run
    val runs = Seq(
      Run(72, 700, "Region"), Run(240, 700, "Sales H1"),
      Run(72, 686, "North"), Run(200, 686, "10"), Run(300, 686, "20"),
      Run(72, 672, "South"), Run(200, 672, "30"), Run(300, 672, "40"))
    val t = PdfParser.detectTable(runs).get
    val span = t.cells.find(_.text == "Sales H1").get
    assert((span.startRow, span.endRow, span.startCol, span.endCol) == (0, 1, 1, 3))
    assert(span.columnHeader)
    assert(t.cells.count(c => c.endCol - c.startCol > 1) == 1)
  }

  test("a full-width top title inside the grid block becomes a header span") {
    // title centered over the whole grid in the SAME block: top band, no
    // snapped neighbour — allowed by the header-position gate
    val content = "BT " +
      "1 0 0 1 130 714 Tm (Quarterly) Tj " +
      "1 0 0 1 72 700 Tm (A) Tj 1 0 0 1 200 700 Tm (B) Tj " +
      "1 0 0 1 72 686 Tm (C) Tj 1 0 0 1 200 686 Tm (D) Tj " +
      "1 0 0 1 72 672 Tm (E) Tj 1 0 0 1 200 672 Tm (F) Tj ET"
    val r = convertOne("title.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "| Quarterly | Quarterly |\n|---|---|\n| A | B |\n| C | D |\n| E | F |")
  }

  test("Td-positioned grid (relative moves) also reconstructs") {
    // row cells via Td x-offsets, rows via negative-y Td back to x=0 origin
    val content = "BT 72 700 Td (H1) Tj 128 0 Td (H2) Tj " +
      "-128 -14 Td (a) Tj 128 0 Td (b) Tj " +
      "-128 -14 Td (c) Tj 128 0 Td (d) Tj ET"
    val r = convertOne("tdgrid.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "| H1 | H2 |\n|---|---|\n| a | b |\n| c | d |")
  }

  test("one-BT-per-cell grid reconstructs across blocks, prose stays around it") {
    // word-export shape: every cell its own BT block; title above and a
    // note below land in single-run bands and must stay prose
    val content = Seq(
      "BT 1 0 0 1 72 720 Tm (Inventory) Tj ET",
      "BT 1 0 0 1 72 700 Tm (Name) Tj ET",
      "BT 1 0 0 1 200 700 Tm (Qty) Tj ET",
      "BT 1 0 0 1 72 686 Tm (Apple) Tj ET",
      "BT 1 0 0 1 200 686 Tm (3) Tj ET",
      "BT 1 0 0 1 72 650 Tm (Footer note) Tj ET").mkString(" ")
    val r = convertOne("cells.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "Inventory\n\n| Name | Qty |\n|---|---|\n| Apple | 3 |\n\nFooter note")
  }

  test("unpositioned single-run blocks never merge into a table") {
    // no Tm/Td: all runs at the default origin -> one band -> prose
    val content = "BT (One.) Tj ET BT (Two.) Tj ET BT (Three.) Tj ET BT (Four.) Tj ET"
    val r = convertOne("plainblocks.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "One.\n\nTwo.\n\nThree.\n\nFour.")
  }

  // ---- content-stream robustness: dicts and inline images inside BT ----

  test("inline <<..>> dicts and BI..ID..EI inline images do not emit junk text") {
    val content = "BT /Span << /ActualText <FEFF0041> >> BDC (Real text.) Tj EMC " +
      "BI /W 2 /H 2 /BPC 8 /CS /G ID ÿ <A>þ EI (More.) Tj ET"
    val r = convertOne("marked.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Real text.More.")
  }

  test("stream payload containing 'endstream' bytes survives via /Length slicing") {
    // the payload spells endstream mid-way; the declared /Length must win
    val payload = "BT (Tricky) Tj ET % endstream fake\nBT ( done) Tj ET"
    val body = s"4 0 obj\n<< /Length ${payload.length} >>\nstream\n$payload\nendstream\nendobj\n"
    val bytes = ("%PDF-1.4\n" + body + "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
    val r = convertOne("len.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Tricky\n\ndone")
  }

  test("ToUnicode CMap stream itself is not scanned as page content") {
    // a CMap containing the letters B and T must not be mistaken for text ops
    val bytes = pdfObjs(Seq(
      (1, "<< /Type /Page /Resources << /Font << /F1 5 0 R >> >> >>", None),
      (5, "<< /Type /Font /Subtype /Type0 /BaseFont /S /ToUnicode 6 0 R >>", None),
      (6, "", Some(helloCMap)),
      (7, "", Some("BT /F1 1 Tf <0003> Tj ET"))))
    val r = convertOne("one.pdf", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "H")
  }

  test("whitespace-aligned unruled table reconstructs as a pipe grid (r13)") {
    // no Td column positioning, no rules: columns exist only as aligned
    // runs of spaces inside single-origin lines — the TableFormer shape
    val content = "BT /F1 10 Tf 72 700 Td (Name    Qty   Price) Tj " +
      "0 -12 Td (Apple   3     1.50) Tj 0 -12 Td (Pear    12    0.75) Tj ET"
    val r = convertOne("t.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "| Name | Qty | Price |\n|---|---|---|\n" +
      "| Apple | 3 | 1.50 |\n| Pear | 12 | 0.75 |")
  }

  test("a stray line crossing the gaps vetoes whitespace-table inference") {
    val content = "BT /F1 10 Tf 72 700 Td (Name    Qty   Price) Tj " +
      "0 -12 Td (Apple   3     1.50) Tj " +
      "0 -12 Td (a stray prose line crossing gaps) Tj ET"
    val r = convertOne("t.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(!r.markdown.contains("|") && r.markdown.contains("stray prose line"))
  }

  test("prose with single word spaces never reclassifies as a table") {
    val content = "BT /F1 10 Tf 72 700 Td (This is a line of prose.) Tj " +
      "0 -12 Td (And a second line here.) Tj ET"
    val r = convertOne("t.pdf", pdf(Seq(content -> false)))
    assert(r.error == null && !r.markdown.contains("|"))
  }

  test("short last line = missing trailing cell, still a table (fill gate)") {
    val content = "BT /F1 10 Tf 72 700 Td (colA    colB    colC) Tj " +
      "0 -12 Td (a1      b1      c1) Tj 0 -12 Td (a2      b2) Tj ET"
    val r = convertOne("t.pdf", pdf(Seq(content -> false)))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "| colA | colB | colC |\n|---|---|---|\n" +
      "| a1 | b1 | c1 |\n| a2 | b2 |  |")
  }

  test("ocrTriage classifies k9's mixed fixture exactly per its construction") {
    // doc 1: 2 text pages + 1 image-only page (1 + 1%3 = 2, 1%2 = 1)
    val mixed = graft.operators.KernelQueries.pdfFor(1L, 100L)
    assert(PdfParser.ocrTriage(mixed) ==
      Right(PdfParser.OcrTriage(3, 2, 1)))
    // doc 16: fully image-only scan (16%10 == 6) — triage routes it,
    // parse refuses it with the honest OCR error
    val scan = graft.operators.KernelQueries.pdfFor(16L, 100L)
    assert(PdfParser.ocrTriage(scan) ==
      Right(PdfParser.OcrTriage(2, 0, 2)))
    val r = convertOne("doc16.pdf", scan)
    assert(r.error != null && r.error.contains("OCR"))
    // doc 2: pure text (2%10 != 6, 1 + 2%3 = 3 text pages, 2%2 = 0)
    val text = graft.operators.KernelQueries.pdfFor(2L, 7L)
    assert(PdfParser.ocrTriage(text) ==
      Right(PdfParser.OcrTriage(3, 3, 0)))
    // and parse() agrees the text pages are extractable
    val rt = convertOne("doc2.pdf", text)
    assert(rt.error == null, String.valueOf(rt.error))
    assert(rt.markdown.contains("Doc 2 text page 0 of 7 chars."))
  }

  test("ocrTriage: empty text shows don't count as text; undeclared images don't count as images") {
    // page shows only an empty string -> neither text nor image-only
    val blankShow = pdf(Seq("BT () Tj ET" -> false))
    assert(PdfParser.ocrTriage(blankShow) ==
      Right(PdfParser.OcrTriage(1, 0, 0)))
    // /Do of a name with no /Subtype /Image object behind it is not an
    // image invocation (form XObjects must not trigger OCR routing)
    val formOnly = pdf(Seq("q /Fm0 Do Q" -> false))
    assert(PdfParser.ocrTriage(formOnly) ==
      Right(PdfParser.OcrTriage(1, 0, 0)))
    // TJ-array and hex forms DO count as text
    val tjArr = pdf(Seq("BT [(a) -250 (b)] TJ ET" -> true))
    assert(PdfParser.ocrTriage(tjArr) ==
      Right(PdfParser.OcrTriage(1, 1, 0)))
    // the " (set-spacing-and-show) operator is a text show too (ADVICE
    // r12): a page whose only text rides " must NOT route to OCR
    val quoteShow = pdf(Seq("BT 0.25 0 (quoted line) \" ET" -> false))
    assert(PdfParser.ocrTriage(quoteShow) ==
      Right(PdfParser.OcrTriage(1, 1, 0)))
    val quoteHex = pdf(Seq("BT 0 0 <48490A> \" ET" -> true))
    assert(PdfParser.ocrTriage(quoteHex) ==
      Right(PdfParser.OcrTriage(1, 1, 0)))
  }
}
