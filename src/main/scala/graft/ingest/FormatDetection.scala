package graft.ingest

import java.nio.charset.StandardCharsets

/** Format detection — content sniff with extension fallback (reference:
  * document_converter/utils.py:87-104 `guess_format`, MIME tables :27-61,
  * HTML sniff :66-79, extension fallback :123-132).
  *
  * Detection order (exactly the reference's):
  *   1. `.csv` filename short-circuit (case-insensitive);
  *   2. magic-byte MIME sniff (pdf/png/jpeg/tiff/bmp/gif, zip-based
  *      docx/pptx);
  *   3. extension-based MIME fallback (asciidoc → html → md → csv, in the
  *      reference's probe order);
  *   4. HTML/XHTML content sniff (ASCII-decode, strip XML comments, match
  *      doctype/html/head/body or xml+xhtml prologue);
  *   5. text/plain default — which maps to NO InputFormat: plain text is
  *      an unsupported format in the reference, and stays so here.
  *
  * One decision tree, as plain Scala functions: the kernel
  * (ConvertKernel.convertOne) and the upload validator call
  * [[guessFormat]] per document — cheap predicates first, exactly the
  * reference's short-circuit ordering (SURVEY.md §4).
  */
object FormatDetection {

  /** The 8 input formats (reference utils.py:9-17). */
  val Formats: Seq[String] =
    Seq("docx", "pptx", "html", "image", "pdf", "asciidoc", "md", "csv")

  val FormatToExtensions: Map[String, Seq[String]] = Map(
    "docx" -> Seq("docx", "dotx", "docm", "dotm"),
    "pptx" -> Seq("pptx", "potx", "ppsx", "pptm", "potm", "ppsm"),
    "pdf" -> Seq("pdf"),
    "md" -> Seq("md"),
    "html" -> Seq("html", "htm", "xhtml"),
    "image" -> Seq("jpg", "jpeg", "png", "tif", "tiff", "bmp"),
    "asciidoc" -> Seq("adoc", "asciidoc", "asc"),
    "csv" -> Seq("csv"))

  val MimeToFormat: Map[String, String] = Map(
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document" -> "docx",
    "application/vnd.openxmlformats-officedocument.wordprocessingml.template" -> "docx",
    "application/vnd.openxmlformats-officedocument.presentationml.template" -> "pptx",
    "application/vnd.openxmlformats-officedocument.presentationml.slideshow" -> "pptx",
    "application/vnd.openxmlformats-officedocument.presentationml.presentation" -> "pptx",
    "text/html" -> "html", "application/xhtml+xml" -> "html",
    "image/png" -> "image", "image/jpeg" -> "image", "image/tiff" -> "image",
    "image/gif" -> "image", "image/bmp" -> "image",
    "application/pdf" -> "pdf",
    "text/asciidoc" -> "asciidoc",
    "text/markdown" -> "md", "text/x-markdown" -> "md",
    "text/csv" -> "csv")

  private def startsWith(b: Array[Byte], prefix: Array[Byte]): Boolean =
    b.length >= prefix.length && prefix.indices.forall(i => b(i) == prefix(i))

  /** Magic-byte MIME sniff (public magic numbers; the reference delegates
    * this step to the `filetype` package). Zip containers are classified
    * docx/pptx by scanning the archive prefix for their part paths.
    *
    * Includes a recognized-but-UNSUPPORTED tier (mp3/wav/ogg/flac/webp/
    * mp4/exe/elf/gzip/7z/rar): the reference's `filetype.guess_mime`
    * (utils.py:97) knows these magics, and a positive sniff PREEMPTS the
    * extension fallback — so an MP3 named `notes.md` is rejected, not
    * parsed as markdown. The returned MIME has no InputFormat mapping,
    * which is exactly the rejection path. */
  def sniffMime(content: Array[Byte]): Option[String] = {
    if (content.isEmpty) return None
    if (startsWith(content, "%PDF".getBytes)) return Some("application/pdf")
    if (startsWith(content, Array(0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)))
      return Some("image/png")
    if (startsWith(content, Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte)))
      return Some("image/jpeg")
    if (startsWith(content, "GIF8".getBytes)) return Some("image/gif")
    if (startsWith(content, Array[Byte]('I', 'I', 0x2A, 0x00)) ||
      startsWith(content, Array[Byte]('M', 'M', 0x00, 0x2A)))
      return Some("image/tiff")
    if (startsWith(content, "BM".getBytes) && content.length > 14)
      return Some("image/bmp")
    if (startsWith(content, Array[Byte]('P', 'K', 0x03, 0x04))) {
      val head = new String(content, 0, math.min(content.length, 4096),
        StandardCharsets.ISO_8859_1)
      if (head.contains("word/"))
        return Some(MimeToFormat.collectFirst { case (m, "docx") => m }.get)
      if (head.contains("ppt/"))
        return Some("application/vnd.openxmlformats-officedocument.presentationml.presentation")
      return Some("application/zip") // unclassified zip → unsupported
    }
    // Recognized-but-unsupported tier: sniff hit preempts extension fallback.
    // mp3: ID3 tag or bare FF FB frame sync (the `filetype` check — kept
    // narrow so a UTF-16 BOM (FF FE) never classifies as audio)
    if (startsWith(content, "ID3".getBytes) ||
      startsWith(content, Array(0xFF.toByte, 0xFB.toByte)))
      return Some("audio/mpeg")
    if (startsWith(content, "RIFF".getBytes)) {
      if (content.length >= 12) {
        val kind = new String(content, 8, 4, StandardCharsets.US_ASCII)
        if (kind == "WAVE") return Some("audio/x-wav")
        if (kind == "WEBP") return Some("image/webp")
      }
      return Some("application/x-riff")
    }
    if (startsWith(content, "OggS".getBytes)) return Some("audio/ogg")
    if (startsWith(content, "fLaC".getBytes)) return Some("audio/x-flac")
    if (content.length >= 12 &&
      new String(content, 4, 4, StandardCharsets.US_ASCII) == "ftyp")
      return Some("video/mp4")
    if (startsWith(content, "MZ".getBytes)) return Some("application/x-msdownload")
    if (startsWith(content, Array(0x7F.toByte, 'E', 'L', 'F')))
      return Some("application/x-executable")
    if (startsWith(content, Array(0x1F.toByte, 0x8B.toByte)))
      return Some("application/gzip")
    if (startsWith(content, Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte)))
      return Some("application/x-7z-compressed")
    if (startsWith(content, "Rar!".getBytes)) return Some("application/vnd.rar")
    None
  }

  /** HTML/XHTML sniff (reference utils.py:66-79): ASCII-decode ignoring
    * errors, strip XML comments, then prefix-match. */
  def detectHtmlXhtml(content: Array[Byte]): Option[String] = {
    val ascii = new String(content.filter(b => b >= 0), StandardCharsets.US_ASCII)
      .toLowerCase
    val stripped = "(?s)<!--(.*?)-->".r.replaceAllIn(ascii, "")
    val s = stripped.dropWhile(_.isWhitespace)
    if (s.startsWith("<?xml")) {
      if (s.take(1000).contains("xhtml")) return Some("application/xhtml+xml")
    }
    if (Seq("<!doctype html", "<html", "<head", "<body").exists(p => s.startsWith(p)))
      return Some("text/html")
    None
  }

  /** Extension → MIME fallback, in the reference's probe order
    * (utils.py:123-132): asciidoc, html, md, csv. */
  def mimeFromExtension(ext: String): Option[String] =
    if (FormatToExtensions("asciidoc").contains(ext)) Some("text/asciidoc")
    else if (FormatToExtensions("html").contains(ext)) Some("text/html")
    else if (FormatToExtensions("md").contains(ext)) Some("text/markdown")
    else if (FormatToExtensions("csv").contains(ext)) Some("text/csv")
    else None

  def isCsvFile(filename: String): Boolean =
    filename != null && filename.toLowerCase.endsWith(".csv")

  /** The reference's `guess_format` (utils.py:87-104). Total: never throws
    * on arbitrary bytes (property-tested). */
  def guessFormat(content: Array[Byte], filename: String): Option[String] = {
    if (isCsvFile(filename)) return Some("csv")
    val sniffed = sniffMime(content)
    val mime = sniffed.orElse {
      // rsplit('.', 1) semantics (utils.py:97): case-SENSITIVE ext, no
      // dotfiles, trailing dot → empty ext. (Only the .csv shortcut above
      // lowercases — reference quirk preserved.)
      val ext =
        if (filename != null && filename.contains(".") && !filename.startsWith("."))
          filename.substring(filename.lastIndexOf('.') + 1)
        else ""
      mimeFromExtension(ext)
    }.orElse(detectHtmlXhtml(content)).getOrElse("text/plain")
    MimeToFormat.get(mime)
  }

  def isSupported(content: Array[Byte], filename: String): Boolean =
    guessFormat(content, filename).isDefined
}
