package graft.kernel

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.ConvertKernel.convertOne

/** DOCX/PPTX structural parsing (closes VERDICT r1 "What's missing" #1):
  * fixture containers are built in-memory with java.util.zip, so the
  * whole chain — magic sniff → container classification → StAX parse →
  * markdown — runs on real bytes.
  */
class OoxmlParsersSpec extends AnyFunSuite {

  private def zipB(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private def zip(entries: (String, String)*): Array[Byte] =
    zipB(entries.map { case (n, c) => n -> c.getBytes(StandardCharsets.UTF_8) }: _*)

  /** A real wxh PNG with every pixel the given RGB color. */
  private def pngOf(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def decodePng(b64: String): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(b64)))

  private val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
  private val A = "http://schemas.openxmlformats.org/drawingml/2006/main"
  private val P = "http://schemas.openxmlformats.org/presentationml/2006/main"

  private def docx(body: String): Array[Byte] = zip(
    "[Content_Types].xml" -> "<Types/>",
    "word/document.xml" ->
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""".stripMargin)

  private def wp(text: String, style: Option[String] = None): String = {
    val pPr = style.map(s => s"""<w:pPr><w:pStyle w:val="$s"/></w:pPr>""").getOrElse("")
    s"<w:p>$pPr<w:r><w:t>$text</w:t></w:r></w:p>"
  }

  test("docx: headings, paragraphs, tables and pictures convert in order") {
    val body =
      wp("Annual Report", Some("Title")) +
        wp("Overview", Some("Heading1")) +
        wp("First paragraph.") +
        wp("Details", Some("Heading2")) +
        """<w:tbl>
          |<w:tr><w:tc><w:p><w:r><w:t>Metric</w:t></w:r></w:p></w:tc>
          |       <w:tc><w:p><w:r><w:t>Value</w:t></w:r></w:p></w:tc></w:tr>
          |<w:tr><w:tc><w:p><w:r><w:t>Revenue</w:t></w:r></w:p></w:tc>
          |       <w:tc><w:p><w:r><w:t>42</w:t></w:r></w:p></w:tc></w:tr>
          |</w:tbl>""".stripMargin +
        s"""<w:p><w:r><w:drawing><wp:inline xmlns:wp="x"/></w:drawing></w:r></w:p>""" +
        wp("Closing text.")
    val r = convertOne("report.docx", docx(body))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.filename == "report")
    assert(r.markdown ==
      "# Annual Report\n\n# Overview\n\nFirst paragraph.\n\n## Details\n\n" +
        "| Metric | Value |\n|---|---|\n| Revenue | 42 |\n\n" +
        "picture-1.png\n\nClosing text.")
    assert(r.images.map(i => (i.`type`, i.filename)) == Seq(("picture", "picture-1.png")))
  }

  test("docx: default header leads and default footer trails the document") {
    val body = wp("Body text.") +
      s"""<w:sectPr>
         |<w:headerReference w:type="default" r:id="rH" xmlns:r="x"/>
         |<w:headerReference w:type="first" r:id="rHF" xmlns:r="x"/>
         |<w:footerReference w:type="default" r:id="rF" xmlns:r="x"/>
         |</w:sectPr>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""",
      "word/_rels/document.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rH" Type="t" Target="header1.xml"/>
          |<Relationship Id="rHF" Type="t" Target="header2.xml"/>
          |<Relationship Id="rF" Type="t" Target="footer1.xml"/>
          |</Relationships>""".stripMargin,
      "word/header1.xml" ->
        s"""<?xml version="1.0"?><w:hdr xmlns:w="$W">${wp("Acme Corp")}</w:hdr>""",
      "word/header2.xml" ->
        s"""<?xml version="1.0"?><w:hdr xmlns:w="$W">${wp("First-page only")}</w:hdr>""",
      "word/footer1.xml" ->
        s"""<?xml version="1.0"?><w:ftr xmlns:w="$W">${wp("Confidential")}</w:ftr>""")
    val r = convertOne("hdrftr.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    // default header first, body, default footer last; the first-page
    // header variant is page-layout detail and is skipped
    assert(r.markdown == "Acme Corp\n\nBody text.\n\nConfidential")
  }

  test("docx: bold/italic runs render as markdown emphasis, split runs merge") {
    val body =
      "<w:p>" +
        "<w:r><w:t>plain </w:t></w:r>" +
        "<w:r><w:rPr><w:b/></w:rPr><w:t>bo</w:t></w:r>" +
        "<w:r><w:rPr><w:b/></w:rPr><w:t>ld</w:t></w:r>" + // Word-style split run
        "<w:r><w:t> mid </w:t></w:r>" +
        "<w:r><w:rPr><w:i/></w:rPr><w:t>it</w:t></w:r>" +
        "<w:r><w:rPr><w:b/><w:i/></w:rPr><w:t>both</w:t></w:r>" +
        "<w:r><w:rPr><w:b w:val=\"false\"/></w:rPr><w:t> off</w:t></w:r>" +
        "</w:p>"
    val r = convertOne("fmt.docx", docx(body))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "plain **bold** mid *it****both*** off")
  }

  test("docx: multi-run paragraphs concatenate; tabs/brs become spaces") {
    val body =
      "<w:p><w:r><w:t>Hello</w:t></w:r><w:r><w:tab/><w:t>world</w:t></w:r></w:p>"
    val r = convertOne("x.docx", docx(body))
    assert(r.markdown == "Hello world")
  }

  test("docx: consecutive numPr paragraphs group into one bullet list") {
    val body =
      wp("Steps", Some("Heading1")) +
        """<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/></w:numPr></w:pPr>
          |<w:r><w:t>do this</w:t></w:r></w:p>""".stripMargin +
        """<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/></w:numPr></w:pPr>
          |<w:r><w:t>then that</w:t></w:r></w:p>""".stripMargin +
        wp("Done.")
    val r = convertOne("steps.docx", docx(body))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "# Steps\n\n- do this\n- then that\n\nDone.")
  }

  test("docx: nested table content flattens into the outer cell") {
    val body =
      """<w:tbl>
        |<w:tr><w:tc><w:p><w:r><w:t>outer</w:t></w:r></w:p>
        |  <w:tbl><w:tr><w:tc><w:p><w:r><w:t>inner</w:t></w:r></w:p></w:tc></w:tr></w:tbl>
        |</w:tc></w:tr>
        |</w:tbl>""".stripMargin
    val r = convertOne("n.docx", docx(body))
    assert(r.error == null)
    assert(r.markdown.contains("outer inner"))
  }

  test("docx: AlternateContent textbox emits its text ONCE, no phantom picture") {
    // Word writes text boxes as mc:AlternateContent carrying the SAME
    // w:txbxContent twice: mc:Choice (DrawingML wps:txbx) + mc:Fallback
    // (legacy VML). The parser must take only the Choice branch, flow the
    // textbox paragraphs as text, and not leave a placeholder picture
    // slot for the text-container drawing.
    val boxPara =
      """<w:p><w:r>
        |<mc:AlternateContent xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006">
        |<mc:Choice Requires="wps">
        |<w:drawing xmlns:wps="http://schemas.microsoft.com/office/word/2010/wordprocessingShape">
        |<wps:wsp><wps:txbx><w:txbxContent>
        |<w:p><w:r><w:t>Boxed note</w:t></w:r></w:p>
        |</w:txbxContent></wps:txbx></wps:wsp>
        |</w:drawing>
        |</mc:Choice>
        |<mc:Fallback>
        |<w:pict xmlns:v="urn:schemas-microsoft-com:vml">
        |<v:shape><v:textbox><w:txbxContent>
        |<w:p><w:r><w:t>Boxed note</w:t></w:r></w:p>
        |</w:txbxContent></v:textbox></v:shape>
        |</w:pict>
        |</mc:Fallback>
        |</mc:AlternateContent>
        |</w:r></w:p>""".stripMargin
    val r = convertOne("box.docx", docx(wp("Before box.") + boxPara + wp("After box.")))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Before box.\n\nBoxed note\n\nAfter box.")
    assert(r.images.isEmpty, "a text box must not emit a placeholder picture")
  }

  test("pptx: Fallback picture survives when the Choice branch is unextractable") {
    // the Choice wraps a chart whose r:id has no rels entry (e.g. a
    // modern chartex part this parser cannot read) — the cached picture
    // in the Fallback is the only recoverable representation and must
    // still emit; with a RESOLVABLE Choice the Fallback is skipped
    // (pinned by the textbox test)
    val ac =
      """<mc:AlternateContent xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006">
        |<mc:Choice Requires="cx">
        |<p:graphicFrame><a:graphic><a:graphicData uri="chartex">
        |<c:chart r:id="rMissing" xmlns:c="z" xmlns:r="x"/></a:graphicData></a:graphic></p:graphicFrame>
        |</mc:Choice>
        |<mc:Fallback><p:pic><p:blipFill/></p:pic></mc:Fallback>
        |</mc:AlternateContent>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(sp("Modern chart", title = true) + ac))
    val r = convertOne("cx.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "# Modern chart\n\npicture-1.png")
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
  }

  test("docx: footnote AlternateContent text renders once, not per branch") {
    val footnotes =
      s"""<?xml version="1.0"?><w:footnotes xmlns:w="$W">
         |<w:footnote w:id="2"><w:p><w:r>
         |<mc:AlternateContent xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006">
         |<mc:Choice Requires="wps"><w:r><w:t>Boxed footnote.</w:t></w:r></mc:Choice>
         |<mc:Fallback><w:r><w:t>Boxed footnote.</w:t></w:r></mc:Fallback>
         |</mc:AlternateContent>
         |</w:r></w:p></w:footnote>
         |</w:footnotes>""".stripMargin
    val body =
      s"""<w:p><w:r><w:t>Claim</w:t></w:r><w:r><w:footnoteReference w:id="2"/></w:r></w:p>"""
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""",
      "word/footnotes.xml" -> footnotes)
    val r = convertOne("acnote.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Claim[^1]\n\n[^1]: Boxed footnote.")
  }

  test("docx: endnotes share the marker sequence; colliding ids stay distinct") {
    // endnote id 2 COLLIDES with footnote id 2 — the namespaced lookup
    // must keep them distinct, one [^n] sequence across both parts
    val footnotes =
      s"""<?xml version="1.0"?><w:footnotes xmlns:w="$W">
         |<w:footnote w:id="2"><w:p><w:r><w:t>Foot text.</w:t></w:r></w:p></w:footnote>
         |</w:footnotes>""".stripMargin
    val endnotes =
      s"""<?xml version="1.0"?><w:endnotes xmlns:w="$W">
         |<w:endnote w:id="-1" w:type="separator"><w:p><w:r><w:t>sep</w:t></w:r></w:p></w:endnote>
         |<w:endnote w:id="2"><w:p><w:r><w:t>End text.</w:t></w:r></w:p></w:endnote>
         |</w:endnotes>""".stripMargin
    val body =
      s"""<w:p><w:r><w:t>Claim</w:t></w:r><w:r><w:footnoteReference w:id="2"/></w:r>
         |<w:r><w:t> and more</w:t></w:r><w:r><w:endnoteReference w:id="2"/></w:r></w:p>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""",
      "word/footnotes.xml" -> footnotes,
      "word/endnotes.xml" -> endnotes)
    val r = convertOne("endnote.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "Claim[^1] and more[^2]\n\n[^1]: Foot text.\n\n[^2]: End text.")
  }

  test("docx: missing document.xml part is an error row, not a throw") {
    val broken = zip("word/other.xml" -> "<x/>")
    val r = convertOne("broken.docx", broken)
    // guessFormat needs 'word/' in the prefix to classify docx at all
    assert(r.error != null)
  }

  test("docx: content detection routes by zip magic even with a wrong extension") {
    val r = convertOne("mislabeled.bin", docx(wp("Body text here.")))
    assert(r.error == null)
    assert(r.markdown == "Body text here.")
  }

  private def slide(shapes: String): String =
    s"""<?xml version="1.0"?><p:sld xmlns:p="$P" xmlns:a="$A">
       |<p:cSld><p:spTree>$shapes</p:spTree></p:cSld></p:sld>""".stripMargin

  private def sp(text: String, title: Boolean = false): String = {
    val ph = if (title) """<p:ph type="title"/>""" else ""
    s"""<p:sp><p:nvSpPr><p:nvPr>$ph</p:nvPr></p:nvSpPr>
       |<p:txBody><a:p><a:r><a:t>$text</a:t></a:r></a:p></p:txBody></p:sp>""".stripMargin
  }

  test("pptx: slides convert in numeric order with titles as headings") {
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      // deliberately added out of order; slide10 tests numeric (not lexical) sort
      "ppt/slides/slide10.xml" -> slide(sp("The End", title = true)),
      "ppt/slides/slide1.xml" -> slide(sp("Kickoff", title = true) + sp("Agenda item one.")),
      "ppt/slides/slide2.xml" -> slide(
        sp("Numbers", title = true) +
          """<p:graphicFrame><a:tbl>
            |<a:tr><a:tc><a:txBody><a:p><a:r><a:t>Q</a:t></a:r></a:p></a:txBody></a:tc>
            |       <a:tc><a:txBody><a:p><a:r><a:t>Rev</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
            |<a:tr><a:tc><a:txBody><a:p><a:r><a:t>Q1</a:t></a:r></a:p></a:txBody></a:tc>
            |       <a:tc><a:txBody><a:p><a:r><a:t>7</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
            |</a:tbl></p:graphicFrame>""".stripMargin +
          "<p:pic><p:blipFill/></p:pic>"))
    val r = convertOne("deck.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "# Kickoff\n\nAgenda item one.\n\n# Numbers\n\n" +
        "| Q | Rev |\n|---|---|\n| Q1 | 7 |\n\npicture-1.png\n\n# The End")
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
  }

  test("pptx: a Title-named graphicFrame does not promote the next shape to a heading") {
    // cNvPr also lives under nvGraphicFramePr; only p:sp/p:nvSpPr names count
    val frame =
      """<p:graphicFrame><p:nvGraphicFramePr><p:cNvPr id="4" name="Title table"/></p:nvGraphicFramePr>
        |<a:tbl><a:tr><a:tc><a:txBody><a:p><a:r><a:t>A</a:t></a:r></a:p></a:txBody></a:tc>
        |<a:tc><a:txBody><a:p><a:r><a:t>B</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
        |<a:tr><a:tc><a:txBody><a:p><a:r><a:t>1</a:t></a:r></a:p></a:txBody></a:tc>
        |<a:tc><a:txBody><a:p><a:r><a:t>2</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
        |</a:tbl></p:graphicFrame>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(frame + sp("Plain body text.")))
    val r = convertOne("frame.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "| A | B |\n|---|---|\n| 1 | 2 |\n\nPlain body text.")
  }

  test("pptx: an untagged shape NAMED Title still promotes (nvSpPr path)") {
    val namedTitle =
      s"""<p:sp><p:nvSpPr><p:cNvPr id="2" name="Title 1"/><p:nvPr/></p:nvSpPr>
         |<p:txBody><a:p><a:r><a:t>Hand-built heading</a:t></a:r></a:p></p:txBody></p:sp>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(namedTitle + sp("Body.")))
    val r = convertOne("named.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "# Hand-built heading\n\nBody.")
  }

  private val C = "http://schemas.openxmlformats.org/drawingml/2006/chart"

  private def chartXml(series: Seq[(String, Seq[String], Seq[String])]): String = {
    val sers = series.map { case (name, cats, vals) =>
      s"""<c:ser>
         |<c:tx><c:strRef><c:f>Sheet1!B1</c:f><c:strCache><c:pt idx="0"><c:v>$name</c:v></c:pt></c:strCache></c:strRef></c:tx>
         |<c:cat><c:strRef><c:f>Sheet1!A2:A9</c:f><c:strCache>${cats.zipWithIndex.map { case (c, i) => s"""<c:pt idx="$i"><c:v>$c</c:v></c:pt>""" }.mkString}</c:strCache></c:strRef></c:cat>
         |<c:val><c:numRef><c:f>Sheet1!B2:B9</c:f><c:numCache>${vals.zipWithIndex.map { case (v, i) => s"""<c:pt idx="$i"><c:v>$v</c:v></c:pt>""" }.mkString}</c:numCache></c:numRef></c:val>
         |</c:ser>""".stripMargin
    }.mkString
    s"""<?xml version="1.0"?><c:chartSpace xmlns:c="$C"><c:chart><c:plotArea>
       |<c:barChart>$sers</c:barChart></c:plotArea></c:chart></c:chartSpace>""".stripMargin
  }

  test("docx: an embedded chart emits its cached data as a table, not a picture") {
    val body = wp("Results:") +
      """<w:p><w:r><w:drawing><a:graphicData uri="chart" xmlns:a="y">""" +
      """<c:chart r:id="rC" xmlns:c="z" xmlns:r="x"/></a:graphicData></w:drawing></w:r></w:p>""" +
      wp("Done.")
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""",
      "word/_rels/document.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rC" Type="t" Target="charts/chart1.xml"/>
          |</Relationships>""".stripMargin,
      "word/charts/chart1.xml" -> chartXml(Seq(
        ("Revenue", Seq("Q1", "Q2"), Seq("10", "20")),
        ("Cost", Seq("Q1", "Q2"), Seq("4", "6")))))
    val r = convertOne("chart.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "Results:\n\n|  | Revenue | Cost |\n|---|---|---|\n| Q1 | 10 | 4 |\n| Q2 | 20 | 6 |\n\nDone.")
    assert(r.images.isEmpty, "the chart drawing must not fall back to a placeholder picture")
  }

  test("pptx: a chart graphicFrame emits its data table in slide order") {
    val frame =
      """<p:graphicFrame><a:graphic><a:graphicData uri="chart">""" +
        """<c:chart r:id="rC" xmlns:c="z" xmlns:r="x"/></a:graphicData></a:graphic></p:graphicFrame>"""
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(sp("Numbers", title = true) + frame),
      "ppt/slides/_rels/slide1.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rC" Type="t" Target="../charts/chart1.xml"/>
          |</Relationships>""".stripMargin,
      "ppt/charts/chart1.xml" -> chartXml(Seq(("Units", Seq("A", "B"), Seq("7", "9")))))
    val r = convertOne("chartdeck.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "# Numbers\n\n|  | Units |\n|---|---|\n| A | 7 |\n| B | 9 |")
  }

  private val Dgm = "http://schemas.openxmlformats.org/drawingml/2006/diagram"

  private def diagramXml(nodes: Seq[String]): String = {
    val pts = nodes.zipWithIndex.map { case (t, i) =>
      s"""<dgm:pt modelId="n$i"><dgm:t><a:bodyPr/><a:p><a:r><a:t>$t</a:t></a:r></a:p></dgm:t></dgm:pt>"""
    }.mkString
    s"""<?xml version="1.0"?><dgm:dataModel xmlns:dgm="$Dgm" xmlns:a="$A">
       |<dgm:ptLst><dgm:pt modelId="doc" type="doc"/>$pts
       |<dgm:pt modelId="tr" type="parTrans"><dgm:t><a:p><a:r><a:t> </a:t></a:r></a:p></dgm:t></dgm:pt>
       |</dgm:ptLst></dgm:dataModel>""".stripMargin
  }

  test("docx: a SmartArt drawing emits its node texts as a bullet list") {
    val body = wp("Process:") +
      """<w:p><w:r><w:drawing><a:graphicData uri="diagram" xmlns:a="y">""" +
      """<dgm:relIds r:dm="rD" xmlns:dgm="z" xmlns:r="x"/></a:graphicData></w:drawing></w:r></w:p>""" +
      wp("Done.")
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""",
      "word/_rels/document.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rD" Type="t" Target="diagrams/data1.xml"/>
          |</Relationships>""".stripMargin,
      "word/diagrams/data1.xml" -> diagramXml(Seq("Plan", "Build", "Ship")))
    val r = convertOne("smartart.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Process:\n\n- Plan\n- Build\n- Ship\n\nDone.")
    assert(r.images.isEmpty, "the SmartArt drawing must not fall back to a placeholder picture")
  }

  test("pptx: a SmartArt graphicFrame emits its node texts in slide order") {
    val frame =
      """<p:graphicFrame><a:graphic><a:graphicData uri="diagram">""" +
        """<dgm:relIds r:dm="rD" xmlns:dgm="z" xmlns:r="x"/></a:graphicData></a:graphic></p:graphicFrame>"""
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(sp("Roadmap", title = true) + frame),
      "ppt/slides/_rels/slide1.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rD" Type="t" Target="../diagrams/data1.xml"/>
          |</Relationships>""".stripMargin,
      "ppt/diagrams/data1.xml" -> diagramXml(Seq("Now", "Next")))
    val r = convertOne("smartdeck.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "# Roadmap\n\n- Now\n- Next")
  }

  test("diagram node text concatenates split runs and skips textless points") {
    val xml = (s"""<?xml version="1.0"?><dgm:dataModel xmlns:dgm="$Dgm" xmlns:a="$A">""" +
      """<dgm:ptLst><dgm:pt modelId="doc" type="doc"/>""" +
      """<dgm:pt modelId="1"><dgm:t><a:p><a:r><a:t>Two </a:t></a:r><a:r><a:t>runs</a:t></a:r></a:p></dgm:t></dgm:pt>""" +
      """<dgm:pt modelId="2"><dgm:t><a:bodyPr/></dgm:t></dgm:pt>""" +
      """</dgm:ptLst></dgm:dataModel>""").getBytes(StandardCharsets.UTF_8)
    assert(OoxmlParsers.parseDiagram(xml).map(_.items) == Some(Seq("Two runs")))
    assert(OoxmlParsers.parseDiagram(
      """<dgm:dataModel xmlns:dgm="z"/>""".replace("z", Dgm).getBytes(StandardCharsets.UTF_8)).isEmpty)
  }

  test("docx: an embedded OLE object emits its preview image as a picture") {
    val body = wp("Sheet:") +
      """<w:p><w:r><w:object><v:shape xmlns:v="urn:vml">""" +
      """<v:imagedata r:id="rI" xmlns:r="x"/></v:shape>""" +
      """<o:OLEObject Type="Embed" ProgID="Excel.Sheet.12" xmlns:o="urn:o"/>""" +
      """</w:object></w:r></w:p>"""
    val png = pngOf(3, 2, 0x336699)
    val bytes = zipB(
      "[Content_Types].xml" -> "<Types/>".getBytes(StandardCharsets.UTF_8),
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>"""
          .getBytes(StandardCharsets.UTF_8),
      "word/_rels/document.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rI" Type="t" Target="media/image1.png"/>
          |</Relationships>""".stripMargin.getBytes(StandardCharsets.UTF_8),
      "word/media/image1.png" -> png)
    val r = convertOne("ole.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Sheet:\n\npicture-1.png")
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
    val img = decodePng(r.images.head.image)
    assert((img.getWidth, img.getHeight) == (3 * 4, 2 * 4)) // default scale 4
  }

  test("docx: hyperlinks resolve through the rels part to markdown links") {
    val body =
      """<w:p><w:r><w:t>Visit </w:t></w:r>""" +
        """<w:hyperlink r:id="rId7" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<w:r><w:t>our site</w:t></w:r></w:hyperlink>""" +
        """<w:r><w:t> today.</w:t></w:r></w:p>"""
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""",
      "word/_rels/document.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/hyperlink" Target="https://example.com/" TargetMode="External"/>
          |</Relationships>""".stripMargin)
    val r = convertOne("link.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Visit [our site](https://example.com/) today.")
  }

  test("pptx: multi-paragraph body shapes render as bullet lists with run emphasis") {
    val bodySp =
      s"""<p:sp><p:nvSpPr><p:nvPr><p:ph type="body"/></p:nvPr></p:nvSpPr>
         |<p:txBody>
         |<a:p><a:r><a:t>First point</a:t></a:r></a:p>
         |<a:p><a:r><a:rPr b="1"/><a:t>Bold point</a:t></a:r></a:p>
         |<a:p><a:r><a:rPr i="1"/><a:t>Italic point</a:t></a:r></a:p>
         |</p:txBody></p:sp>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(sp("Deck", title = true) + bodySp))
    val r = convertOne("bullets.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "# Deck\n\n- First point\n- **Bold point**\n- *Italic point*")
  }

  test("pptx: zip without slide parts is an error row") {
    val bytes = zip("ppt/presentation.xml" -> "<p/>")
    val r = convertOne("empty.pptx", bytes)
    assert(r.error != null && r.error.contains("PPTX"))
  }

  private val R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  test("docx: embedded picture ships the document's real pixels, scaled") {
    // 10x8 solid red source in word/media, referenced via a:blip r:embed
    val src = pngOf(10, 8, 0xCC0000)
    val body =
      wp("Before.") +
        s"""<w:p><w:r><w:drawing><wp:inline xmlns:wp="x">
           |<a:blip xmlns:a="$A" r:embed="rId9" xmlns:r="$R"/>
           |</wp:inline></w:drawing></w:r></w:p>""".stripMargin +
        wp("After.")
    val bytes = zipB(
      "[Content_Types].xml" -> "<Types/>".getBytes(StandardCharsets.UTF_8),
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>"""
          .getBytes(StandardCharsets.UTF_8),
      "word/_rels/document.xml.rels" ->
        s"""<?xml version="1.0"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |<Relationship Id="rId9" Type="$R/image" Target="media/image1.png"/>
           |</Relationships>""".stripMargin.getBytes(StandardCharsets.UTF_8),
      "word/media/image1.png" -> src)
    val r = convertOne("photo.docx", bytes) // default scale = 4
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "Before.\n\npicture-1.png\n\nAfter.")
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
    val img = decodePng(r.images.head.image)
    assert((img.getWidth, img.getHeight) == (40, 32)) // native 10x8 × scale 4
    // pixel content is the document's, not a placeholder: solid red center
    assert((img.getRGB(20, 16) & 0xFFFFFF) == 0xCC0000)
  }

  test("docx: unresolvable blip rel falls back to the placeholder render") {
    val body =
      s"""<w:p><w:r><w:drawing><wp:inline xmlns:wp="x">
         |<a:blip xmlns:a="$A" r:embed="rIdMissing" xmlns:r="$R"/>
         |</wp:inline></w:drawing></w:r></w:p>""".stripMargin
    val r = convertOne("noimg.docx", docx(body))
    assert(r.error == null, String.valueOf(r.error))
    val img = decodePng(r.images.head.image)
    // placeholder dims: 64x48 × scale 4
    assert((img.getWidth, img.getHeight) == (256, 192))
  }

  test("docx: numbering.xml decimal format renders an ordered list") {
    val numbering =
      s"""<?xml version="1.0"?><w:numbering xmlns:w="$W">
         |<w:abstractNum w:abstractNumId="0">
         |  <w:lvl w:ilvl="0"><w:numFmt w:val="decimal"/></w:lvl>
         |</w:abstractNum>
         |<w:abstractNum w:abstractNumId="1">
         |  <w:lvl w:ilvl="0"><w:numFmt w:val="bullet"/></w:lvl>
         |</w:abstractNum>
         |<w:num w:numId="5"><w:abstractNumId w:val="0"/></w:num>
         |<w:num w:numId="6"><w:abstractNumId w:val="1"/></w:num>
         |</w:numbering>""".stripMargin
    def li(text: String, numId: String): String =
      s"""<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="$numId"/></w:numPr></w:pPr>
         |<w:r><w:t>$text</w:t></w:r></w:p>""".stripMargin
    val body =
      wp("Steps", Some("Heading1")) +
        li("first", "5") + li("second", "5") + li("third", "5") +
        li("loose", "6") + li("leaf", "6") +
        wp("Done.")
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""",
      "word/numbering.xml" -> numbering)
    val r = convertOne("steps.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    // adjacent ordered and bullet runs split into two lists at the format change
    assert(r.markdown ==
      "# Steps\n\n1. first\n2. second\n3. third\n\n- loose\n- leaf\n\nDone.")
  }

  test("docx: nested ilvl items indent with per-level ordered counters") {
    val numbering =
      s"""<?xml version="1.0"?><w:numbering xmlns:w="$W">
         |<w:abstractNum w:abstractNumId="0">
         |  <w:lvl w:ilvl="0"><w:numFmt w:val="decimal"/></w:lvl>
         |  <w:lvl w:ilvl="1"><w:numFmt w:val="lowerLetter"/></w:lvl>
         |</w:abstractNum>
         |<w:num w:numId="7"><w:abstractNumId w:val="0"/></w:num>
         |</w:numbering>""".stripMargin
    def li(text: String, ilvl: String): String =
      s"""<w:p><w:pPr><w:numPr><w:ilvl w:val="$ilvl"/><w:numId w:val="7"/></w:numPr></w:pPr>
         |<w:r><w:t>$text</w:t></w:r></w:p>""".stripMargin
    val body = li("alpha", "0") + li("sub-one", "1") + li("sub-two", "1") +
      li("beta", "0") + li("sub-three", "1")
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""",
      "word/numbering.xml" -> numbering)
    val r = convertOne("nested.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    // nested counters restart after returning to the top level
    assert(r.markdown ==
      "1. alpha\n  1. sub-one\n  2. sub-two\n2. beta\n  1. sub-three")
  }

  test("docx: footnotes render inline markers and definitions at document end") {
    val footnotes =
      s"""<?xml version="1.0"?><w:footnotes xmlns:w="$W">
         |<w:footnote w:type="separator" w:id="-1"><w:p><w:r><w:t>sep</w:t></w:r></w:p></w:footnote>
         |<w:footnote w:id="2"><w:p><w:r><w:t>First note.</w:t></w:r></w:p></w:footnote>
         |<w:footnote w:id="5"><w:p><w:r><w:t>Second note,</w:t></w:r></w:p>
         |  <w:p><w:r><w:t>two paragraphs.</w:t></w:r></w:p></w:footnote>
         |</w:footnotes>""".stripMargin
    // id 5 is referenced FIRST, so it renumbers to [^1]
    val body =
      s"""<w:p><w:r><w:t>Claim A</w:t></w:r>
         |<w:r><w:footnoteReference w:id="5"/></w:r>
         |<w:r><w:t> and claim B</w:t></w:r>
         |<w:r><w:footnoteReference w:id="2"/></w:r>
         |<w:r><w:t>.</w:t></w:r></w:p>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>""",
      "word/footnotes.xml" -> footnotes)
    val r = convertOne("notes.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "Claim A[^1] and claim B[^2].\n\n[^1]: Second note, two paragraphs.\n\n[^2]: First note.")
  }

  test("docx: gridSpan and vMerge produce real spanned cells") {
    val body =
      """<w:tbl>
        |<w:tr><w:tc><w:tcPr><w:gridSpan w:val="2"/></w:tcPr><w:p><w:r><w:t>A</w:t></w:r></w:p></w:tc>
        |       <w:tc><w:p><w:r><w:t>B</w:t></w:r></w:p></w:tc></w:tr>
        |<w:tr><w:tc><w:tcPr><w:vMerge w:val="restart"/></w:tcPr><w:p><w:r><w:t>C</w:t></w:r></w:p></w:tc>
        |       <w:tc><w:p><w:r><w:t>D</w:t></w:r></w:p></w:tc>
        |       <w:tc><w:p><w:r><w:t>E</w:t></w:r></w:p></w:tc></w:tr>
        |<w:tr><w:tc><w:tcPr><w:vMerge/></w:tcPr><w:p/></w:tc>
        |       <w:tc><w:p><w:r><w:t>G</w:t></w:r></w:p></w:tc>
        |       <w:tc><w:p><w:r><w:t>H</w:t></w:r></w:p></w:tc></w:tr>
        |</w:tbl>""".stripMargin
    val r = convertOne("spans.docx", docx(body))
    assert(r.error == null, String.valueOf(r.error))
    // spanned text repeats into every covered grid position: A spans two
    // header columns, C spans rows 2-3 of column 1
    assert(r.markdown ==
      "| A | A | B |\n|---|---|---|\n| C | D | E |\n| C | G | H |")
  }

  test("docx: picture inside a table cell lands in the images array after the table") {
    val body =
      """<w:tbl>
        |<w:tr><w:tc><w:p><w:r><w:t>cell</w:t></w:r></w:p></w:tc>
        |       <w:tc><w:p><w:r><w:drawing><wp:inline xmlns:wp="x"/></w:drawing></w:r></w:p></w:tc></w:tr>
        |</w:tbl>""".stripMargin +
        wp("Afterwards.")
    val r = convertOne("tblpic.docx", docx(body))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
    // picture splices after the table render, before the following text
    assert(r.markdown ==
      "| cell |  |\n|---|---|\n\npicture-1.png\n\nAfterwards.")
  }

  test("pptx: embedded slide picture resolves through the slide's rels part") {
    val src = pngOf(6, 4, 0x0066CC)
    val slideXml = slide(
      sp("Pics", title = true) +
        s"""<p:pic><p:blipFill><a:blip r:embed="rId2" xmlns:r="$R"/></p:blipFill></p:pic>""")
    val bytes = zipB(
      "[Content_Types].xml" -> "<Types/>".getBytes(StandardCharsets.UTF_8),
      "ppt/presentation.xml" -> "<p/>".getBytes(StandardCharsets.UTF_8),
      "ppt/slides/slide1.xml" -> slideXml.getBytes(StandardCharsets.UTF_8),
      "ppt/slides/_rels/slide1.xml.rels" ->
        s"""<?xml version="1.0"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |<Relationship Id="rId2" Type="$R/image" Target="../media/image1.png"/>
           |</Relationships>""".stripMargin.getBytes(StandardCharsets.UTF_8),
      "ppt/media/image1.png" -> src)
    val r = convertOne("pics.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
    val img = decodePng(r.images.head.image)
    assert((img.getWidth, img.getHeight) == (24, 16)) // 6x4 × scale 4
    assert((img.getRGB(12, 8) & 0xFFFFFF) == 0x0066CC)
  }

  test("pptx: speaker notes append after their slide's content") {
    val notes =
      s"""<?xml version="1.0"?><p:notes xmlns:p="$P" xmlns:a="$A">
         |<p:cSld><p:spTree>
         |<p:sp><p:nvSpPr><p:nvPr><p:ph type="sldImg"/></p:nvPr></p:nvSpPr>
         |  <p:txBody><a:p><a:r><a:t>IGNORED placeholder</a:t></a:r></a:p></p:txBody></p:sp>
         |<p:sp><p:nvSpPr><p:nvPr><p:ph type="body"/></p:nvPr></p:nvSpPr>
         |  <p:txBody><a:p><a:r><a:t>Remember to demo the fallback.</a:t></a:r></a:p></p:txBody></p:sp>
         |</p:spTree></p:cSld></p:notes>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(sp("Demo", title = true) + sp("Main point.")),
      "ppt/slides/_rels/slide1.xml.rels" ->
        s"""<?xml version="1.0"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |<Relationship Id="rId3" Type="$R/notesSlide" Target="../notesSlides/notesSlide1.xml"/>
           |</Relationships>""".stripMargin,
      "ppt/notesSlides/notesSlide1.xml" -> notes)
    val r = convertOne("demo.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "# Demo\n\nMain point.\n\nRemember to demo the fallback.")
  }

  test("pptx: run hyperlinks resolve through the slide rels to markdown links") {
    val linked =
      s"""<p:sp><p:nvSpPr><p:nvPr/></p:nvSpPr><p:txBody>
         |<a:p><a:r><a:t>See </a:t></a:r>
         |<a:r><a:rPr><a:hlinkClick r:id="rId4" xmlns:r="$R"/></a:rPr>
         |<a:t>the docs</a:t></a:r>
         |<a:r><a:t> for details.</a:t></a:r></a:p>
         |</p:txBody></p:sp>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(linked),
      "ppt/slides/_rels/slide1.xml.rels" ->
        s"""<?xml version="1.0"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |<Relationship Id="rId4" Type="$R/hyperlink" Target="https://example.com/docs" TargetMode="External"/>
           |</Relationships>""".stripMargin)
    val r = convertOne("links.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "See [the docs](https://example.com/docs) for details.")
  }

  test("pptx: a:pPr lvl indents render as nested bullets") {
    val body =
      s"""<p:sp><p:nvSpPr><p:nvPr><p:ph type="body"/></p:nvPr></p:nvSpPr><p:txBody>
         |<a:p><a:r><a:t>top one</a:t></a:r></a:p>
         |<a:p><a:pPr lvl="1"/><a:r><a:t>detail a</a:t></a:r></a:p>
         |<a:p><a:pPr lvl="1"/><a:r><a:t>detail b</a:t></a:r></a:p>
         |<a:p><a:r><a:t>top two</a:t></a:r></a:p>
         |</p:txBody></p:sp>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(sp("Plan", title = true) + body))
    val r = convertOne("indent.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "# Plan\n\n- top one\n  - detail a\n  - detail b\n- top two")
  }

  test("pptx: gridSpan/rowSpan with merge continuation cells span the grid") {
    val tbl =
      """<p:graphicFrame><a:tbl>
        |<a:tr><a:tc gridSpan="2"><a:txBody><a:p><a:r><a:t>Wide</a:t></a:r></a:p></a:txBody></a:tc>
        |       <a:tc hMerge="1"><a:txBody><a:p/></a:txBody></a:tc>
        |       <a:tc rowSpan="2"><a:txBody><a:p><a:r><a:t>Tall</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
        |<a:tr><a:tc><a:txBody><a:p><a:r><a:t>x</a:t></a:r></a:p></a:txBody></a:tc>
        |       <a:tc><a:txBody><a:p><a:r><a:t>y</a:t></a:r></a:p></a:txBody></a:tc>
        |       <a:tc vMerge="1"><a:txBody><a:p/></a:txBody></a:tc></a:tr>
        |</a:tbl></p:graphicFrame>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(tbl))
    val r = convertOne("merged.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "| Wide | Wide | Tall |\n|---|---|---|\n| x | y | Tall |")
  }

  test("pptx: untagged title shape detects via its cNvPr name") {
    val untaggedTitle =
      s"""<p:sp><p:nvSpPr><p:cNvPr id="4" name="Title 1"/><p:nvPr/></p:nvSpPr>
         |<p:txBody><a:p><a:r><a:t>Untagged Heading</a:t></a:r></a:p></p:txBody></p:sp>""".stripMargin
    val bytes = zip(
      "[Content_Types].xml" -> "<Types/>",
      "ppt/presentation.xml" -> "<p/>",
      "ppt/slides/slide1.xml" -> slide(untaggedTitle + sp("Body text.")))
    val r = convertOne("untagged.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "# Untagged Heading\n\nBody text.")
  }

  test("docx golden: headings, emphasis, footnote, link, nested list, spanned table, cell + embedded pictures") {
    val src = pngOf(4, 4, 0xAA0000)
    val numbering =
      s"""<?xml version="1.0"?><w:numbering xmlns:w="$W">
         |<w:abstractNum w:abstractNumId="0">
         |  <w:lvl w:ilvl="0"><w:numFmt w:val="decimal"/></w:lvl>
         |  <w:lvl w:ilvl="1"><w:numFmt w:val="lowerLetter"/></w:lvl>
         |</w:abstractNum>
         |<w:num w:numId="5"><w:abstractNumId w:val="0"/></w:num>
         |</w:numbering>""".stripMargin
    val footnotes =
      s"""<?xml version="1.0"?><w:footnotes xmlns:w="$W">
         |<w:footnote w:id="3"><w:p><w:r><w:t>See appendix.</w:t></w:r></w:p></w:footnote>
         |</w:footnotes>""".stripMargin
    def li(text: String, ilvl: String): String =
      s"""<w:p><w:pPr><w:numPr><w:ilvl w:val="$ilvl"/><w:numId w:val="5"/></w:numPr></w:pPr>
         |<w:r><w:t>$text</w:t></w:r></w:p>""".stripMargin
    val body =
      wp("Report", Some("Heading1")) +
        s"""<w:p><w:r><w:t>A </w:t></w:r>
           |<w:r><w:rPr><w:b/></w:rPr><w:t>bold</w:t></w:r>
           |<w:r><w:t> claim</w:t></w:r>
           |<w:r><w:footnoteReference w:id="3"/></w:r>
           |<w:r><w:t> with </w:t></w:r>
           |<w:hyperlink r:id="rL" xmlns:r="$R"><w:r><w:t>a link</w:t></w:r></w:hyperlink>
           |<w:r><w:t>.</w:t></w:r></w:p>""".stripMargin +
        li("first", "0") + li("detail", "1") + li("second", "0") +
        """<w:tbl>
          |<w:tr><w:tc><w:tcPr><w:gridSpan w:val="2"/></w:tcPr><w:p><w:r><w:t>Metric</w:t></w:r></w:p></w:tc></w:tr>
          |<w:tr><w:tc><w:p><w:r><w:t>a</w:t></w:r></w:p></w:tc>
          |       <w:tc><w:p><w:r><w:t>b</w:t></w:r><w:r><w:drawing><wp:inline xmlns:wp="x"/></w:drawing></w:r></w:p></w:tc></w:tr>
          |</w:tbl>""".stripMargin +
        s"""<w:p><w:r><w:drawing><wp:inline xmlns:wp="x">
           |<a:blip xmlns:a="$A" r:embed="rImg" xmlns:r="$R"/>
           |</wp:inline></w:drawing></w:r></w:p>""".stripMargin +
        wp("Done.")
    val bytes = zipB(
      "[Content_Types].xml" -> "<Types/>".getBytes(StandardCharsets.UTF_8),
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>$body</w:body></w:document>"""
          .getBytes(StandardCharsets.UTF_8),
      "word/numbering.xml" -> numbering.getBytes(StandardCharsets.UTF_8),
      "word/footnotes.xml" -> footnotes.getBytes(StandardCharsets.UTF_8),
      "word/_rels/document.xml.rels" ->
        s"""<?xml version="1.0"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |<Relationship Id="rL" Type="$R/hyperlink" Target="https://x.test" TargetMode="External"/>
           |<Relationship Id="rImg" Type="$R/image" Target="media/image1.png"/>
           |</Relationships>""".stripMargin.getBytes(StandardCharsets.UTF_8),
      "word/media/image1.png" -> src)
    val r = convertOne("report.docx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      """# Report
        |
        |A **bold** claim[^1] with [a link](https://x.test).
        |
        |1. first
        |  1. detail
        |2. second
        |
        || Metric | Metric |
        ||---|---|
        || a | b |
        |
        |picture-1.png
        |
        |picture-2.png
        |
        |Done.
        |
        |[^1]: See appendix.""".stripMargin)
    assert(r.images.map(_.filename) == Seq("picture-1.png", "picture-2.png"))
    // picture-1: imageless cell drawing -> placeholder render (256x192 @ scale 4)
    assert((decodePng(r.images(0).image).getWidth, decodePng(r.images(0).image).getHeight) == (256, 192))
    // picture-2: the document's real 4x4 pixels scaled by 4
    val img2 = decodePng(r.images(1).image)
    assert((img2.getWidth, img2.getHeight) == (16, 16))
    assert((img2.getRGB(8, 8) & 0xFFFFFF) == 0xAA0000)
  }

  test("pptx golden: title, indented bullets, link, merged table, embedded picture, notes") {
    val src = pngOf(5, 3, 0x00AA66)
    val slideXml = slide(
      sp("Quarterly", title = true) +
        s"""<p:sp><p:nvSpPr><p:nvPr><p:ph type="body"/></p:nvPr></p:nvSpPr><p:txBody>
           |<a:p><a:r><a:t>Revenue up</a:t></a:r></a:p>
           |<a:p><a:pPr lvl="1"/><a:r><a:rPr><a:hlinkClick r:id="rL" xmlns:r="$R"/></a:rPr>
           |<a:t>details</a:t></a:r></a:p>
           |</p:txBody></p:sp>""".stripMargin +
        """<p:graphicFrame><a:tbl>
          |<a:tr><a:tc gridSpan="2"><a:txBody><a:p><a:r><a:t>KPI</a:t></a:r></a:p></a:txBody></a:tc>
          |       <a:tc hMerge="1"><a:txBody><a:p/></a:txBody></a:tc></a:tr>
          |<a:tr><a:tc><a:txBody><a:p><a:r><a:t>q1</a:t></a:r></a:p></a:txBody></a:tc>
          |       <a:tc><a:txBody><a:p><a:r><a:t>q2</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
          |</a:tbl></p:graphicFrame>""".stripMargin +
        s"""<p:pic><p:blipFill><a:blip r:embed="rP" xmlns:r="$R"/></p:blipFill></p:pic>""")
    val notes =
      s"""<?xml version="1.0"?><p:notes xmlns:p="$P" xmlns:a="$A">
         |<p:cSld><p:spTree>
         |<p:sp><p:nvSpPr><p:nvPr><p:ph type="body"/></p:nvPr></p:nvSpPr>
         |  <p:txBody><a:p><a:r><a:t>Mention churn.</a:t></a:r></a:p></p:txBody></p:sp>
         |</p:spTree></p:cSld></p:notes>""".stripMargin
    val bytes = zipB(
      "[Content_Types].xml" -> "<Types/>".getBytes(StandardCharsets.UTF_8),
      "ppt/presentation.xml" -> "<p/>".getBytes(StandardCharsets.UTF_8),
      "ppt/slides/slide1.xml" -> slideXml.getBytes(StandardCharsets.UTF_8),
      "ppt/slides/_rels/slide1.xml.rels" ->
        s"""<?xml version="1.0"?>
           |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |<Relationship Id="rL" Type="$R/hyperlink" Target="https://kpi.test" TargetMode="External"/>
           |<Relationship Id="rP" Type="$R/image" Target="../media/image1.png"/>
           |<Relationship Id="rN" Type="$R/notesSlide" Target="../notesSlides/notesSlide1.xml"/>
           |</Relationships>""".stripMargin.getBytes(StandardCharsets.UTF_8),
      "ppt/media/image1.png" -> src,
      "ppt/notesSlides/notesSlide1.xml" -> notes.getBytes(StandardCharsets.UTF_8))
    val r = convertOne("quarterly.pptx", bytes)
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      """# Quarterly
        |
        |- Revenue up
        |  - [details](https://kpi.test)
        |
        || KPI | KPI |
        ||---|---|
        || q1 | q2 |
        |
        |picture-1.png
        |
        |Mention churn.""".stripMargin)
    val img = decodePng(r.images.head.image)
    assert((img.getWidth, img.getHeight) == (20, 12)) // 5x3 × scale 4
  }

  test("resolveTarget normalizes relative rels targets") {
    assert(OoxmlParsers.resolveTarget("word", "media/image1.png") == "word/media/image1.png")
    assert(OoxmlParsers.resolveTarget("ppt/slides", "../media/i.png") == "ppt/media/i.png")
    assert(OoxmlParsers.resolveTarget("ppt/slides", "/ppt/media/i.png") == "ppt/media/i.png")
  }

  test("a DOCTYPE with an external entity is not resolved") {
    val secret = java.nio.file.Files.createTempFile("xxe", ".txt")
    try {
      java.nio.file.Files.write(secret, "qzSECRETqz".getBytes(StandardCharsets.UTF_8))
      val bytes = zip(
        "[Content_Types].xml" -> "<Types/>",
        "word/document.xml" ->
          s"""<?xml version="1.0" encoding="UTF-8"?>
             |<!DOCTYPE w:document [<!ENTITY xxe SYSTEM "${secret.toUri}">]>
             |<w:document xmlns:w="$W"><w:body>${wp("before &xxe; after")}</w:body></w:document>""".stripMargin)
      val r = convertOne("xxe.docx", bytes)
      assert(r.markdown != null || r.error != null)
      assert(!String.valueOf(r.markdown).contains("qzSECRETqz"), String.valueOf(r.markdown))
      assert(!String.valueOf(r.error).contains("qzSECRETqz"), String.valueOf(r.error))
    } finally java.nio.file.Files.delete(secret)
  }
}
