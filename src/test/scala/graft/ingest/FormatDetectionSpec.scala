package graft.ingest

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's tests/test_file_format_detection.py:8-57 (same
  * cases, same expected formats — O5/O6/O7), plus engine-side adversarial
  * cases.
  */
class FormatDetectionSpec extends AnyFunSuite {

  import FormatDetection._

  private def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  // test_csv_is_detected_by_filename (py:9-13)
  test("csv is detected by filename, case-insensitively") {
    for (filename <- Seq("records.csv", "RECORDS.CSV")) {
      assert(guessFormat(b("name,value\nexample,1"), filename) == Some("csv"))
      assert(isSupported(b("name,value\nexample,1"), filename))
    }
  }

  // test_html_and_xhtml_are_detected_from_content (py:15-27)
  test("html and xhtml are detected from content") {
    val samples = Seq(
      "<!-- leading comment --><!doctype html><html><body></body></html>",
      """<?xml version="1.0"?><html xmlns="http://www.w3.org/1999/xhtml"></html>""")
    for (content <- samples)
      assert(guessFormat(b(content), "document.unknown") == Some("html"))
  }

  // test_markdown_and_asciidoc_use_extension_fallback (py:29-40)
  test("markdown and asciidoc use the extension fallback") {
    val samples = Seq(
      "README.md" -> "md",
      "guide.adoc" -> "asciidoc",
      "guide.asciidoc" -> "asciidoc",
      "guide.asc" -> "asciidoc")
    for ((filename, expected) <- samples)
      assert(guessFormat(b("A plain-text document"), filename) == Some(expected))
  }

  // test_unknown_binary_format_is_not_supported (py:42-46)
  test("unknown binary content is not supported") {
    val content = b("unrecognized file content")
    assert(guessFormat(content, "document.unknown").isEmpty)
    assert(!isSupported(content, "document.unknown"))
  }

  // test_csv_content_is_transcoded_to_utf8 (py:48-57)
  test("csv content is transcoded to utf-8 across the supported encodings") {
    val samples = Seq(
      ("name\nCafé\n", "utf-8"),
      ("name\nCafé\n", "latin1"),
      ("quote\n“Hello”\n", "cp1252"))
    for ((content, encoding) <- samples) {
      val charset = encoding match {
        case "utf-8" => StandardCharsets.UTF_8
        case "latin1" => StandardCharsets.ISO_8859_1
        case "cp1252" => java.nio.charset.Charset.forName("windows-1252")
      }
      val r = Transcode.transcodeCsv(content.getBytes(charset))
      assert(r.error.isEmpty, s"encoding $encoding")
      assert(new String(r.utf8Bytes, StandardCharsets.UTF_8) == content)
    }
  }

  test("undecodable csv reports the reference's error string, not an exception") {
    // 0x81 is unmapped in cp1252 but valid latin1 — craft bytes invalid in
    // ALL four charsets is impossible (latin1 is total), so check the
    // fallback order instead: invalid UTF-8 lands on cp1252.
    val cp1252Bytes = Array[Byte](0x93.toByte, 'H', 'i', 0x94.toByte)
    val r = Transcode.transcodeCsv(cp1252Bytes)
    assert(r.error.isEmpty)
    assert(new String(r.utf8Bytes, StandardCharsets.UTF_8) == "“Hi”")
  }

  // ---- engine-side adversarial additions ----

  test("mislabeled binaries are rejected: sniff preempts the extension fallback") {
    val mp3Id3 = "ID3".getBytes ++ Array[Byte](3, 0) ++ b("rest-of-tag")
    val mp3Sync = Array(0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x00.toByte)
    val wav = b("RIFF") ++ Array[Byte](4, 0, 0, 0) ++ b("WAVEfmt ")
    val gzip = Array(0x1F.toByte, 0x8B.toByte, 8.toByte, 0.toByte)
    val elf = Array(0x7F.toByte, 'E'.toByte, 'L'.toByte, 'F'.toByte, 2.toByte)
    for (content <- Seq(mp3Id3, mp3Sync, wav, gzip, elf);
         name <- Seq("notes.md", "doc.adoc", "page.html"))
      assert(guessFormat(content, name).isEmpty,
        s"${content.take(4).mkString(",")} as $name must be rejected")
    // .csv keeps its filename short-circuit even over a magic hit (reference order)
    assert(guessFormat(mp3Id3, "notes.csv") == Some("csv"))
  }

  test("zip container classification: docx/pptx part paths, else unsupported") {
    def zipWith(entry: String): Array[Byte] =
      Array[Byte]('P', 'K', 3, 4, 0, 0) ++ b(entry)
    assert(guessFormat(zipWith("word/document.xml"), "f.bin") == Some("docx"))
    assert(guessFormat(zipWith("ppt/slides/slide1.xml"), "f.bin") == Some("pptx"))
    assert(guessFormat(zipWith("META-INF/container.xml"), "f.md").isEmpty)
  }

  test("zip classification scans 4 KB in BOTH paths (real OOXML puts word/ past 1 KB)") {
    // [Content_Types].xml-style 2 KB preamble before the word/ entry name
    val content = Array[Byte]('P', 'K', 3, 4, 0, 0) ++
      Array.fill[Byte](2048)('x') ++ b("word/document.xml rest")
    assert(guessFormat(content, "f.bin") == Some("docx"))
  }

  test("extension fallback is case-sensitive, skips dotfiles and trailing dots (reference rsplit)") {
    assert(guessFormat(b("text"), "README.MD").isEmpty) // only .csv lowercases
    assert(guessFormat(b("text"), ".hidden.md").isEmpty)
    assert(guessFormat(b("text"), "name.md.").isEmpty)
    assert(guessFormat(b("text"), "a.b.md") == Some("md"))
  }

  test("BMP needs more than 14 bytes in both detection paths") {
    val bmp14 = b("BM") ++ Array.fill[Byte](12)(0)
    val bmp15 = b("BM") ++ Array.fill[Byte](13)(0)
    assert(sniffMime(bmp14).isEmpty) // 14 bytes: header alone is not a BMP
    assert(sniffMime(bmp15) == Some("image/bmp"))
  }
}
