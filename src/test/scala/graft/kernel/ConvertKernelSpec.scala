package graft.kernel

import java.io.ByteArrayInputStream
import java.nio.charset.{Charset, StandardCharsets}
import java.util.Base64

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.ConvertKernel._

/** Golden e2e for the conversion kernel (O8-O17): fixture bytes in, exact
  * ConversionResult out — the e2e coverage the reference itself lacks
  * (SURVEY §5.1 "untested in the reference").
  */
class ConvertKernelSpec extends AnyFunSuite {

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def pngDims(base64Png: String): (Int, Int) = {
    val img = ImageIO.read(new ByteArrayInputStream(Base64.getDecoder.decode(base64Png)))
    (img.getWidth, img.getHeight)
  }

  test("markdown document round-trips: headings, paragraphs, pipe tables") {
    val src = "# Title\n\nSome paragraph text.\n\n| a | b |\n|---|---|\n| 1 | 2 |"
    val r = convertOne("notes.md", b(src))
    assert(r.error == null)
    assert(r.filename == "notes")
    assert(r.markdown == src)
    assert(r.images.isEmpty) // tables render only with extractTablesAsImages
  }

  test("markdown image placeholder is spliced with a rendered picture (O12/O13/O15)") {
    val src = "# Doc\n\n![figure](fig.png)\n\nAfter."
    val r = convertOne("doc.md", b(src))
    assert(r.error == null)
    assert(r.markdown == "# Doc\n\npicture-1.png\n\nAfter.")
    assert(r.images.map(i => (i.`type`, i.filename)) == Seq(("picture", "picture-1.png")))
    // default scale 4 (service.py:19-21)
    assert(pngDims(r.images.head.image) ==
      (ImageRenderer.PictureBaseW * 4, ImageRenderer.PictureBaseH * 4))
  }

  test("image_resolution_scale changes rendered dimensions; [1,4] clamp is upstream") {
    val src = "![x](x.png)"
    val r1 = convertOne("a.md", b(src), ConversionConfig(imageResolutionScale = 1))
    val r4 = convertOne("a.md", b(src), ConversionConfig(imageResolutionScale = 4))
    assert(pngDims(r1.images.head.image) ==
      (ImageRenderer.PictureBaseW, ImageRenderer.PictureBaseH))
    assert(pngDims(r4.images.head.image) ==
      (ImageRenderer.PictureBaseW * 4, ImageRenderer.PictureBaseH * 4))
  }

  test("extract_tables_as_images appends table-N.png after the table snippet") {
    val src = "| h1 | h2 |\n|---|---|\n| x | y |"
    val off = convertOne("t.md", b(src), ConversionConfig(extractTablesAsImages = false))
    assert(off.images.isEmpty)
    assert(off.markdown == src)

    val on = convertOne("t.md", b(src),
      ConversionConfig(extractTablesAsImages = true, imageResolutionScale = 2))
    assert(on.images.map(i => (i.`type`, i.filename)) == Seq(("table", "table-1.png")))
    assert(on.markdown == src + "\n\ntable-1.png")
    // 2 cols x (2 rows + header strip), scale 2
    assert(pngDims(on.images.head.image) ==
      (2 * ImageRenderer.CellW * 2, 3 * ImageRenderer.CellH * 2))
  }

  test("output_format selects the serializer; non-md formats keep the images array") {
    val src = "# Doc\n\n![figure](fig.png)\n\nAfter."
    val text = convertOne("doc.md", b(src), ConversionConfig(outputFormat = "text"))
    assert(text.error == null)
    // text serialization, no markdown anchor splice, images still emitted
    assert(text.markdown == "Doc\n\n[image]\n\nAfter.")
    assert(text.images.map(_.filename) == Seq("picture-1.png"))

    val tags = convertOne("doc.md", b(src), ConversionConfig(outputFormat = "doctags"))
    assert(tags.markdown ==
      "<section_header_level_1>Doc</section_header_level_1>\n<picture/>\n<text>After.</text>")
    assert(tags.images.map(_.filename) == Seq("picture-1.png"))

    intercept[IllegalArgumentException](ConversionConfig(outputFormat = "yaml"))
  }

  test("csv with cp1252 content transcodes then renders one markdown table (O7)") {
    val src = "name,quote\nalice,“hi”\n"
    val r = convertOne("data.csv", src.getBytes(Charset.forName("windows-1252")))
    assert(r.error == null)
    assert(r.filename == "data")
    assert(r.markdown == "| name | quote |\n|---|---|\n| alice | “hi” |")
  }

  test("undecodable-in-utf8 csv still converts via the fallback chain; quoted fields survive") {
    val src = "a,b\n\"x,y\",\"with \"\"quotes\"\"\"\n"
    val r = convertOne("q.csv", b(src))
    assert(r.error == null)
    assert(r.markdown == "| a | b |\n|---|---|\n| x,y | with \"quotes\" |")
  }

  test("csv delimiter sniffing handles semicolon, tab, and quoted decoys") {
    // the reference's Docling CSV backend sniffs , ; tab | — same set
    val semi = convertOne("semi.csv", b("a;b\n1;2\n"))
    assert(semi.error == null)
    assert(semi.markdown == "| a | b |\n|---|---|\n| 1 | 2 |")
    val tabbed = convertOne("tabbed.csv", b("x\ty\n3\t4\n"))
    assert(tabbed.markdown == "| x | y |\n|---|---|\n| 3 | 4 |")
    // a comma inside quotes must not outvote the true delimiter
    val tricky = convertOne("tricky.csv", b("\"a,a\";b\n1;2\n"))
    assert(tricky.markdown == "| a,a | b |\n|---|---|\n| 1 | 2 |")
  }

  test("html converts headings, text, images and tables in document order") {
    val src = "<html><body><h1>Head</h1><p>para</p><img src='x.png'>" +
      "<table><tr><th>A</th><th>B</th></tr><tr><td>1</td><td>2</td></tr></table>" +
      "</body></html>"
    val r = convertOne("page.html", b(src))
    assert(r.error == null)
    assert(r.markdown ==
      "# Head\n\npara\n\npicture-1.png\n\n| A | B |\n|---|---|\n| 1 | 2 |")
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
  }

  test("html colspan/rowspan produce spanned cells like the DOCX/PPTX grids") {
    // B spans two columns; L spans two rows, so row 2's first free slot
    // shifts right — HTML grid semantics
    val src = "<table>" +
      "<tr><th>A</th><th colspan=\"2\">B</th></tr>" +
      "<tr><td rowspan=\"2\">L</td><td>1</td><td>2</td></tr>" +
      "<tr><td>3</td><td>4</td></tr></table>"
    val r = convertOne("spans.html", b(src))
    assert(r.error == null, String.valueOf(r.error))
    // markdown projection repeats the spanning text across its slots
    assert(r.markdown ==
      "| A | B | B |\n|---|---|---|\n| L | 1 | 2 |\n| L | 3 | 4 |", r.markdown)
  }

  test("html nested tables flatten into the enclosing cell, outer grid intact") {
    // layout-HTML shape: an inner table inside a cell must not reset the
    // outer capture — its text joins the cell with word gaps
    val src = "<table>" +
      "<tr><th>K</th><th>V</th></tr>" +
      "<tr><td>row</td><td><table><tr><td>in1</td><td>in2</td></tr>" +
      "<tr><td>in3</td></tr></table></td></tr></table>"
    val r = convertOne("nested.html", b(src))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "| K | V |\n|---|---|\n| row | in1 in2 in3 |", r.markdown)
  }

  test("asciidoc link macros become markdown links") {
    val src = "= T\n\nSee link:https://example.com/d[the docs] and " +
      "https://example.com/x[] inline.\n\n* link:/rel[rel item]\n* plain"
    val r = convertOne("links.adoc", b(src))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "# T\n\nSee [the docs](https://example.com/d) and " +
        "[https://example.com/x](https://example.com/x) inline.\n\n" +
        "- [rel item](/rel)\n- plain", r.markdown)
  }

  test("html with 16,000 unclosed <script> or <!-- openers converts in linear time") {
    // a regex strip re-scans from every unclosed opener to the end of
    // input: quadratic, ~13 s per case on a 4-core box
    for ((opener, name) <- Seq(("<script>x", "scripts.html"), ("<!--x", "comments.html"))) {
      val t0 = System.nanoTime()
      val r = convertOne(name, b(opener * 16000))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(r.error == null, s"$name: ${r.error}")
      assert(secs < 2.0, f"$name took $secs%.1f s")
    }
  }

  test("html lists convert to markdown bullets / numbered items") {
    val src = "<p>Before.</p><ul><li>alpha</li><li>beta</li></ul>" +
      "<ol><li>first</li><li>second</li></ol><p>After.</p>"
    val r = convertOne("lists.html", b(src))
    assert(r.error == null)
    assert(r.markdown ==
      "Before.\n\n- alpha\n- beta\n\n1. first\n2. second\n\nAfter.")
  }

  test("markdown fenced code with internal blank lines survives as one block") {
    val src = "# Doc\n\n```scala\nval a = 1\n\nval b = 2\n```\n\nAfter."
    val r = convertOne("code.md", b(src))
    assert(r.error == null)
    assert(r.markdown == "# Doc\n\n```scala\nval a = 1\n\nval b = 2\n```\n\nAfter.")
  }

  test("asciidoc headings and image macros convert") {
    val src = "= Title\n\nBody text.\n\nimage::diagram.png[]\n\nMore."
    val r = convertOne("guide.adoc", b(src))
    assert(r.error == null)
    assert(r.markdown == "# Title\n\nBody text.\n\npicture-1.png\n\nMore.")
  }

  test("markdown list blocks parse structurally and round-trip, incl. nesting") {
    val src = "# L\n\n- a\n  - a1\n- b\n\n1. x\n  1. x1\n2. y\n\nTail."
    val r = convertOne("lists.md", b(src))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == src) // round-trip through structural ListElements
    // structure is real: json export carries items + levels
    val cfg = ConversionConfig(outputFormat = "json")
    val j = convertOne("lists.md", b(src), cfg).markdown
    assert(j.contains("""{"kind":"list","ordered":false,"items":["a","a1","b"],"levels":[0,1,0]}"""))
    assert(j.contains("""{"kind":"list","ordered":true,"items":["x","x1","y"],"levels":[0,1,0]}"""))
  }

  test("asciidoc |=== table blocks convert to markdown pipe tables") {
    val src = "== Data\n\n|===\n|name |size\n|alpha |10\n|beta |20\n|===\n\nAfter."
    val r = convertOne("t.adoc", b(src))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "## Data\n\n| name | size |\n|---|---|\n| alpha | 10 |\n| beta | 20 |\n\nAfter.")
  }

  test("asciidoc bullet and ordered list blocks convert") {
    val src = "== Lists\n\n* one\n* two\n\n. first\n. second"
    val r = convertOne("l.adoc", b(src))
    assert(r.error == null)
    assert(r.markdown == "## Lists\n\n- one\n- two\n\n1. first\n2. second")
  }

  test("html pre blocks preserve whitespace as fenced code") {
    val src = "<p>Before</p><pre><code>def f(x):\n    return x &amp; 1\n</code></pre><p>After</p>"
    val r = convertOne("code.html", b(src))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "Before\n\n```\ndef f(x):\n    return x & 1\n```\n\nAfter")
  }

  test("html pre inside a table cell or list item stays inline, not a split block") {
    val src = "<table><tr><td>start <pre>a  b</pre> end</td><td>x</td></tr>" +
      "<tr><td>1</td><td>2</td></tr></table>" +
      "<ul><li>item <pre>code here</pre> tail</li><li>two</li></ul>"
    val r = convertOne("precell.html", b(src))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown ==
      "| start a b end | x |\n|---|---|\n| 1 | 2 |\n\n" +
        "- item code here tail\n- two")
  }

  test("html nested lists keep their depth as markdown indentation") {
    val src = "<ul><li>a<ul><li>a1</li><li>a2</li></ul></li><li>b</li></ul>"
    val r = convertOne("nest.html", b(src))
    assert(r.error == null, String.valueOf(r.error))
    assert(r.markdown == "- a\n  - a1\n  - a2\n- b")
  }

  test("html hyperlinks become markdown links, inside and outside lists") {
    val src = """<p>See <a href="https://example.com/d">the docs</a> now.</p>""" +
      """<ul><li><a href='/a'>alpha</a></li><li>plain</li></ul>""" +
      """<p><a name="anchor-no-href">not a link</a></p>"""
    val r = convertOne("links.html", b(src))
    assert(r.error == null)
    assert(r.markdown ==
      "See [the docs](https://example.com/d) now.\n\n" +
        "- [alpha](/a)\n- plain\n\nnot a link")
  }

  test("image input converts to a one-picture document (structural, no OCR text)") {
    val png = graft.kernel.ImageRenderer.renderPicture(1)
    val r = convertOne("photo.png", png)
    assert(r.error == null, String.valueOf(r.error))
    // the picture splices like any other document's: placeholder becomes
    // the counter-named image, carried with its base64 PNG payload
    assert(r.markdown == "picture-1.png")
    assert(r.images.map(_.filename) == Seq("picture-1.png"))
    assert(r.images.head.image.nonEmpty)
  }

  test("ML formats produce the reference's error-row shape (O16), never a throw") {
    // an UNDECODABLE image stays an error row (OCR text is scoped out;
    // a blank picture here would be dishonest); pdf without text streams
    // errors too
    val png = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      0x0D.toByte, 0x0A.toByte, 0x1A.toByte, 0x0A.toByte) ++ b("fake")
    val single = convertOne("scan.png", png)
    assert(single.markdown == null)
    assert(single.filename == "scan") // stem in single mode (service.py:155)
    assert(single.error != null && single.error.contains("image"))

    val batch = convertOne("scan.png", png, batchMode = true)
    assert(batch.filename == "scan.png") // full name in batch mode (service.py:182)
    assert(batch.error == single.error)

    val noTextPdf = convertOne("report.pdf", b("%PDF-1.7 no streams"))
    assert(noTextPdf.markdown == null && noTextPdf.error != null)
  }

  test("unsupported format error carries the full filename") {
    val r = convertOne("blob.xyz", b("unrecognizable"))
    assert(r.error == s"Unsupported file format: blob.xyz")
  }

  test("FileOptions round-trip through their string form; absent keys default") {
    val o = FileOptions(
      ConversionConfig(extractTablesAsImages = true, imageResolutionScale = 2,
        outputFormat = "json", ocrEngine = Some(OcrEngines.Deterministic)),
      maxFileMb = 7, batchMode = false)
    assert(FileOptions.fromOptions(o.toOptions) == o)
    assert(FileOptions.fromOptions(Map("MAXFILEMB" -> "3")) == FileOptions(maxFileMb = 3))
    intercept[IllegalArgumentException](
      FileOptions.fromOptions(Map("imageResolutionScale" -> "9")))
  }
}
