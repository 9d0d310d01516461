package graft.kernel

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import graft.kernel.DocModel._

/** Pure-JVM format parsers (the parse kernel, SURVEY.md O9/§7.4.1).
  *
  * The reference delegates parsing to Docling (Python + PyTorch models);
  * there is no JVM Docling and this build is zero-egress. The text formats
  * (md, csv, html, asciidoc) get exact parsers here; docx/pptx get
  * zip+StAX structural parsers (OoxmlParsers); only the genuinely-ML
  * formats (pdf — layout models, image — OCR, per reference
  * Dockerfile:45-51) are honestly scoped out with the reference's own
  * error-row shape.
  */
trait FormatParser {
  def parse(name: String, bytes: Array[Byte]): Either[String, DocTree]
}

object Parsers {

  private def text(bytes: Array[Byte]): String =
    new String(bytes, StandardCharsets.UTF_8)

  /** Markdown: headings / pipe-tables / image placeholders / paragraphs.
    * Block-structured: blocks separated by blank lines, except inside
    * ``` fences — a code block with internal blank lines stays one
    * verbatim block. */
  object MarkdownParser extends FormatParser {

    private[kernel] def splitBlocks(src: String): Seq[String] = {
      val blocks = ArrayBuffer[String]()
      val cur = new StringBuilder
      var inFence = false
      def flush(): Unit = {
        val b = cur.toString.trim
        cur.clear()
        if (b.nonEmpty) blocks += b
      }
      src.linesIterator.foreach { line =>
        if (line.trim.startsWith("```")) {
          inFence = !inFence
          cur ++= line; cur += '\n'
        } else if (line.trim.isEmpty && !inFence) flush()
        else { cur ++= line; cur += '\n' }
      }
      flush()
      blocks.toSeq
    }

    def parse(name: String, bytes: Array[Byte]): Either[String, DocTree] = {
      val blocks = splitBlocks(text(bytes))
      val items = blocks.map { b =>
        if (b.startsWith("#")) {
          val level = b.takeWhile(_ == '#').length
          HeadingElement(b.dropWhile(_ == '#').trim, level)
        } else if (b.startsWith("![") || b == ImagePlaceholder) {
          PictureElement(None)
        } else if (b.linesIterator.forall(l => l.trim.startsWith("|")) &&
          b.linesIterator.size >= 2) {
          parsePipeTable(b)
        } else parseListBlock(b).getOrElse(TextElement(b))
      }
      Right(DocTree(name, items.toSeq))
    }

    private val Bullet = """( *)[-*] (.*)""".r
    private val Numbered = """( *)\d+\. (.*)""".r

    /** A block whose every line is a bullet (`- `/`* `) or every line a
      * number (`1. `) marker becomes a structural ListElement; leading
      * indentation maps to nesting levels at two spaces per level (the
      * same contract renderMarkdown emits, so lists round-trip). Mixed
      * blocks stay text. */
    private def parseListBlock(b: String): Option[Element] = {
      val lines = b.linesIterator.toSeq
      val bullets = lines.map { case Bullet(ind, t) => Some((t.trim, ind.length / 2)); case _ => None }
      if (bullets.forall(_.isDefined))
        return Some(ListElement(bullets.flatten.map(_._1), ordered = false,
          levels = bullets.flatten.map(_._2)))
      val numbered = lines.map { case Numbered(ind, t) => Some((t.trim, ind.length / 2)); case _ => None }
      if (numbered.forall(_.isDefined))
        return Some(ListElement(numbered.flatten.map(_._1), ordered = true,
          levels = numbered.flatten.map(_._2)))
      None
    }

    private def parsePipeTable(block: String): Element = {
      val rows = block.linesIterator.map(_.trim)
        .filter(l => l.startsWith("|"))
        .map(_.stripPrefix("|").stripSuffix("|").split("\\|").map(_.trim).toSeq)
        .toSeq
      val dataRows = rows.filterNot(_.forall(c => c.nonEmpty && c.forall(ch => ch == '-' || ch == ':')))
      val nCols = if (dataRows.isEmpty) 0 else dataRows.map(_.length).max
      val cells = dataRows.zipWithIndex.flatMap { case (r, ri) =>
        r.zipWithIndex.map { case (c, ci) =>
          TableCellSpec(ri, ri + 1, ci, ci + 1, c, columnHeader = ri == 0)
        }
      }
      TableElement(cells, dataRows.length, nCols)
    }
  }

  /** CSV → one markdown table. Charset fallback happens before this parser
    * (graft.ingest.Transcode); here the bytes are UTF-8. Quoted fields with
    * embedded commas/quotes are handled. */
  object CsvParser extends FormatParser {
    def parse(name: String, bytes: Array[Byte]): Either[String, DocTree] = {
      val rows = parseCsv(text(bytes))
      if (rows.isEmpty) return Right(DocTree(name, Seq.empty))
      val nCols = rows.map(_.length).max
      val cells = rows.zipWithIndex.flatMap { case (r, ri) =>
        r.padTo(nCols, "").zipWithIndex.map { case (c, ci) =>
          TableCellSpec(ri, ri + 1, ci, ci + 1, c, columnHeader = ri == 0)
        }
      }
      Right(DocTree(name, Seq(TableElement(cells, rows.length, nCols))))
    }

    /** Delimiter sniff over the first line, counted OUTSIDE quotes —
      * the reference's Docling CSV backend runs csv.Sniffer over the
      * same candidate set (comma / semicolon / tab / pipe); ties and
      * zero-hits fall back to comma. */
    private[kernel] def sniffDelimiter(s: String): Char = {
      val firstLine = s.takeWhile(c => c != '\n' && c != '\r')
      val counts = Array(',', ';', '\t', '|').map { d =>
        var n = 0; var q = false
        firstLine.foreach { c =>
          if (c == '"') q = !q else if (c == d && !q) n += 1
        }
        d -> n
      }
      val (best, n) = counts.maxBy(_._2)
      if (n > 0) best else ','
    }

    private[kernel] def parseCsv(s: String): Seq[Seq[String]] = {
      val delim = sniffDelimiter(s)
      val rows = ArrayBuffer[Seq[String]]()
      val field = new StringBuilder
      val row = ArrayBuffer[String]()
      var inQuotes = false
      var i = 0
      def endField(): Unit = { row += field.toString; field.clear() }
      def endRow(): Unit = {
        endField()
        if (!(row.length == 1 && row.head.isEmpty)) rows += row.toSeq
        row.clear()
      }
      while (i < s.length) {
        val c = s.charAt(i)
        if (inQuotes) {
          if (c == '"') {
            if (i + 1 < s.length && s.charAt(i + 1) == '"') { field += '"'; i += 1 }
            else inQuotes = false
          } else field += c
        } else c match {
          case '"' => inQuotes = true
          case d if d == delim => endField()
          case '\r' => if (i + 1 >= s.length || s.charAt(i + 1) != '\n') endRow()
          case '\n' => endRow()
          case other => field += other
        }
        i += 1
      }
      if (field.nonEmpty || row.nonEmpty) endRow()
      rows.toSeq
    }
  }

  /** HTML → markdown-able tree: stack-free single-pass tag walk over a
    * tag/text tokenization (the reference's own sniff is regex-based; a
    * full DOM is out of scope). Handles h1..h6, p, table/tr/th/td, img,
    * li; comments, scripts and styles are dropped. Stripping and
    * tokenizing are linear scans, so unclosed openers cost linear time. */
  object HtmlParser extends FormatParser {
    private val Href = "(?i)href\\s*=\\s*[\"']([^\"']*)[\"']".r
    private val Colspan = spanAttr("colspan")
    private val Rowspan = spanAttr("rowspan")
    private def spanAttr(attr: String) = s"""(?i)$attr\\s*=\\s*["']?(\\d+)""".r

    /** The first match at or after a position, for positions asked in
      * non-decreasing order: a cached answer stands until the position
      * passes it, so all the asks together scan `find`'s input about
      * once, where a regex re-scans to the end of input from every
      * unclosed opener. */
    private final class NextMatch(find: Int => Int) {
      private var from0 = Int.MaxValue
      private var at = -1
      def apply(from: Int): Int = {
        if (from < from0 || (at >= 0 && at < from)) { at = find(from); from0 = from }
        at
      }
    }

    private def asciiLower(c: Char): Char = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

    /** `word` (lower case) at `at` in `s`, ASCII case-insensitively. */
    private def wordAt(s: String, at: Int, word: String): Boolean =
      at + word.length <= s.length && {
        var j = 0
        while (j < word.length && asciiLower(s.charAt(at + j)) == word.charAt(j)) j += 1
        j == word.length
      }

    /** `raw` with what `(?s)<!--.*?-->` and then
      * `(?is)<(script|style)[^>]*>.*?</\1>` match replaced by "", in linear
      * time and with the same choices: a comment runs to the first `-->`
      * after its `<!--`; a script/style element runs from `<script` or
      * `<style` (any ASCII case), through the first `>` after the name,
      * to the first `</script>`/`</style>` (any ASCII case) after that
      * `>`. An opener with no closer is left in place, and a later opener
      * of the other element can still match. */
    private[kernel] def stripHidden(raw: String): String = {
      val s = {
        val out = new java.lang.StringBuilder(raw.length)
        var pos = 0
        var open = raw.indexOf("<!--")
        while (open >= 0) {
          val close = raw.indexOf("-->", open + 4)
          if (close < 0) open = -1
          else {
            out.append(raw, pos, open)
            pos = close + 3
            open = raw.indexOf("<!--", pos)
          }
        }
        out.append(raw, pos, raw.length).toString
      }
      val gt = new NextMatch(s.indexOf('>', _))
      def closerOf(name: String) = new NextMatch({ from =>
        var c = s.indexOf("</", from)
        while (c >= 0 && !(wordAt(s, c + 2, name) && c + 2 + name.length < s.length &&
            s.charAt(c + 2 + name.length) == '>'))
          c = s.indexOf("</", c + 1)
        c
      })
      val closers = Map("script" -> closerOf("script"), "style" -> closerOf("style"))
      val out = new java.lang.StringBuilder(s.length)
      var pos = 0
      var i = s.indexOf('<')
      while (i >= 0) {
        val name = if (wordAt(s, i + 1, "script")) "script" else if (wordAt(s, i + 1, "style")) "style" else null
        val end = if (name == null) -1 else {
          val g = gt(i + 1 + name.length)
          val c = if (g < 0) -1 else closers(name)(g + 1)
          if (c < 0) -1 else c + name.length + 3
        }
        if (end < 0) i = s.indexOf('<', i + 1)
        else {
          out.append(s, pos, i)
          pos = end
          i = s.indexOf('<', end)
        }
      }
      out.append(s, pos, s.length).toString
    }

    /** The tokens `(?s)<[^>]*>|[^<]+` finds left to right, in linear
      * time: a tag runs from `<` to the first `>` after it, text runs to
      * the next `<`, and a `<` with no `>` after it is dropped, as that
      * regex skips it. */
    private[kernel] def tagsAndText(s: String): Iterator[String] = new Iterator[String] {
      private val gt = new NextMatch(s.indexOf('>', _))
      private var i = 0
      private def skipUnclosed(): Unit =
        while (i < s.length && s.charAt(i) == '<' && gt(i + 1) < 0) i += 1
      def hasNext: Boolean = { skipUnclosed(); i < s.length }
      def next(): String = {
        if (!hasNext) throw new NoSuchElementException("no more HTML tokens")
        val end =
          if (s.charAt(i) == '<') gt(i + 1) + 1
          else { val lt = s.indexOf('<', i); if (lt < 0) s.length else lt }
        val tok = s.substring(i, end)
        i = end
        tok
      }
    }

    def parse(name: String, bytes: Array[Byte]): Either[String, DocTree] = {
      val noScripts = stripHidden(text(bytes))

      val items = ArrayBuffer[Element]()
      var headingLevel = 0
      val textBuf = new StringBuilder
      var inTable = false
      var tableDepth = 0
      // per cell: (text, colspan, rowspan) — spans parsed off the open tag
      var tableRows = ArrayBuffer[ArrayBuffer[(String, Int, Int)]]()
      var cellBuf = new StringBuilder
      var inCell = false
      var cellColspan = 1
      var cellRowspan = 1
      var listDepth = 0
      var listOrdered = false
      val listItems = ArrayBuffer[(String, Int)]() // (text, nesting level)
      val liBuf = new StringBuilder
      var inPre = false
      val preBuf = new StringBuilder
      var linkHref: Option[String] = None

      def flushText(): Unit = {
        val t = normalize(textBuf.toString)
        textBuf.clear()
        if (t.nonEmpty)
          items += (if (headingLevel > 0) HeadingElement(t, headingLevel) else TextElement(t))
      }
      def flushLi(): Unit = {
        val t = normalize(liBuf.toString)
        liBuf.clear()
        if (t.nonEmpty) listItems += ((t, math.max(0, listDepth - 1)))
      }
      def flushList(): Unit = {
        flushLi()
        if (listItems.nonEmpty)
          items += ListElement(listItems.map(_._1).toSeq, listOrdered,
            levels = listItems.map(_._2).toSeq)
        listItems.clear()
      }
      def flushCell(): Unit = {
        if (inCell) {
          tableRows.last += ((normalize(cellBuf.toString), cellColspan, cellRowspan))
          cellBuf.clear(); inCell = false
        }
      }
      // HTML grid semantics: each row's cells fill the next free columns,
      // skipping slots covered by rowspans from rows above — the same
      // spanned TableCellSpec shape the DOCX/PPTX parsers emit
      def flushTable(): Unit = {
        flushCell()
        val rows = tableRows.filter(_.nonEmpty)
        if (rows.nonEmpty) {
          val occupied = scala.collection.mutable.Set.empty[(Int, Int)]
          val specs = ArrayBuffer[TableCellSpec]()
          var nCols = 0
          rows.zipWithIndex.foreach { case (r, ri) =>
            var c = 0
            r.foreach { case (text, cs, rs) =>
              while (occupied((ri, c))) c += 1
              val endRow = math.min(ri + rs, rows.length)
              for (rr <- ri until endRow; cc <- c until c + cs) occupied += ((rr, cc))
              specs += TableCellSpec(ri, endRow, c, c + cs, text, columnHeader = ri == 0)
              c += cs
              nCols = math.max(nCols, c)
            }
          }
          items += TableElement(specs.toSeq, rows.length, nCols)
        }
        tableRows = ArrayBuffer(); inTable = false
      }

      tagsAndText(noScripts).foreach { tok =>
        if (tok.startsWith("<")) {
          val tag = tok.stripPrefix("<").stripPrefix("/").takeWhile(c => c.isLetterOrDigit).toLowerCase
          val isClose = tok.startsWith("</")
          tag match {
            case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
              flushText()
              headingLevel = if (isClose) 0 else tag.drop(1).toInt
            case "ul" | "ol" =>
              if (isClose) {
                flushLi() // pending item text belongs to the closing depth
                listDepth = math.max(0, listDepth - 1)
                if (listDepth == 0) flushList()
              } else {
                if (listDepth == 0) { flushText(); listOrdered = tag == "ol" }
                else flushLi() // text before a nested list stays at the outer level
                listDepth += 1 // nested items keep their depth via levels
              }
            case "li" =>
              if (listDepth > 0) flushLi() else flushText()
            case "p" | "div" | "br" => if (!inPre) flushText()
            case "pre" =>
              // verbatim block: whitespace preserved, emitted as a fenced
              // code block (the markdown parser's fence round-trips it).
              // Inside a table cell or list item the enclosing buffer owns
              // the content — a standalone fenced element would split the
              // cell/item out of order, so the code joins inline instead
              // (and the later normalize() collapses its whitespace like
              // any other inline cell/item text).
              if (isClose) {
                val code = unescape(preBuf.toString).stripPrefix("\n").stripSuffix("\n")
                preBuf.clear(); inPre = false
                if (code.nonEmpty) {
                  if (inCell) cellBuf ++= code
                  else if (listDepth > 0) liBuf ++= code
                  else items += TextElement(s"```\n$code\n```")
                }
              } else { if (!inCell && listDepth == 0) flushText(); inPre = true }
            case "a" =>
              // hyperlinks become markdown [text](href); targets the
              // active buffer (list item or paragraph)
              val buf = if (listDepth > 0) liBuf else textBuf
              if (isClose) {
                if (linkHref.nonEmpty) { buf ++= s"](${linkHref.get})"; linkHref = None }
              } else {
                linkHref = Href.findFirstMatchIn(tok).map(_.group(1))
                if (linkHref.nonEmpty) buf += '['
              }
            case "img" =>
              flushText(); items += PictureElement(None)
            case "table" =>
              // nested tables (layout HTML) flatten into the enclosing
              // cell's text: only the OUTERMOST table builds a grid —
              // without depth tracking an inner <table> would reset the
              // outer capture and lose its rows entirely
              if (isClose) {
                if (tableDepth == 1) flushTable()
                tableDepth = math.max(0, tableDepth - 1)
              } else {
                tableDepth += 1
                if (tableDepth == 1) { flushText(); inTable = true; tableRows = ArrayBuffer() }
              }
            case "tr" =>
              if (inTable && tableDepth == 1) {
                flushCell(); if (!isClose) tableRows += ArrayBuffer()
              } else if (tableDepth > 1 && inCell && cellBuf.nonEmpty)
                cellBuf += ' ' // inner-table row break → word gap in the cell
            case "td" | "th" =>
              if (inTable && tableDepth == 1) {
                if (isClose) flushCell()
                else {
                  flushCell(); inCell = true
                  def span(re: scala.util.matching.Regex): Int =
                    re.findFirstMatchIn(tok).map(_.group(1).toInt)
                      .filter(_ >= 1).getOrElse(1)
                  cellColspan = span(Colspan)
                  cellRowspan = span(Rowspan)
                }
              } else if (tableDepth > 1 && inCell && cellBuf.nonEmpty)
                cellBuf += ' ' // inner-table cell boundary → word gap
            case _ => ()
          }
        } else {
          if (inPre) preBuf ++= tok
          else if (inCell) cellBuf ++= tok
          else if (inTable) ()
          else if (listDepth > 0) liBuf ++= tok
          else textBuf ++= tok
        }
      }
      flushText()
      if (inTable) flushTable()
      if (listDepth > 0 || listItems.nonEmpty) flushList()
      Right(DocTree(name, items.toSeq))
    }

    private def normalize(s: String): String =
      unescape(s).replaceAll("\\s+", " ").trim

    private def unescape(s: String): String = s
      .replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")
  }

  /** AsciiDoc (minimal): `= Title` / `== Section` headings, image::
    * macros, `*` bullet / `.` ordered list blocks, paragraphs. */
  object AsciiDocParser extends FormatParser {
    private def asciidocTable(rows: Seq[String]): Option[TableElement] = {
      val grid = rows.map(r =>
        r.stripPrefix("|").split("\\|").map(_.trim).toSeq)
      if (grid.isEmpty) None
      else {
        val nCols = grid.map(_.length).max
        val cells = grid.zipWithIndex.flatMap { case (row, ri) =>
          row.padTo(nCols, "").zipWithIndex.map { case (c, ci) =>
            TableCellSpec(ri, ri + 1, ci, ci + 1, c, columnHeader = ri == 0)
          }
        }
        Some(TableElement(cells, grid.length, nCols))
      }
    }

    /** `link:URL[text]` and bare `http(s)://URL[text]` macros become
      * markdown links; an empty `[]` falls back to the URL as its own
      * text (AsciiDoc renders the bare location the same way). */
    private val LinkMacro = """(?:link:|(?=https?://))(\S+?)\[([^\]]*)\]""".r
    private[kernel] def rewriteLinks(s: String): String =
      LinkMacro.replaceAllIn(s, m => {
        val url = m.group(1)
        val label = if (m.group(2).isEmpty) url else m.group(2)
        java.util.regex.Matcher.quoteReplacement(s"[$label]($url)")
      })

    def parse(name: String, bytes: Array[Byte]): Either[String, DocTree] = {
      val blocks = text(bytes).split("\n{2,}").map(_.trim).filter(_.nonEmpty)
      val items = blocks.map { b =>
        val lines = b.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
        if (b.startsWith("=")) {
          val level = b.takeWhile(_ == '=').length
          HeadingElement(b.dropWhile(_ == '=').trim, level)
        } else if (b.startsWith("image::")) PictureElement(None)
        else if (lines.nonEmpty && lines.forall(l => l.startsWith("* ")))
          ListElement(lines.map(l => rewriteLinks(l.stripPrefix("* ").trim)))
        else if (lines.nonEmpty && lines.forall(l => l.startsWith(". ")))
          ListElement(lines.map(l => rewriteLinks(l.stripPrefix(". ").trim)), ordered = true)
        else if (lines.length >= 3 && lines.head == "|===" && lines.last == "|===")
          // |=== table block: each interior line is |cell|cell…; first row
          // is the header (AsciiDoc's default with a blank-line-free block)
          asciidocTable(lines.slice(1, lines.length - 1))
            .getOrElse(TextElement(rewriteLinks(b)))
        else TextElement(rewriteLinks(b))
      }
      Right(DocTree(name, items.toSeq))
    }
  }

  /** ML-parse formats: honestly unsupported in a pure-JVM zero-egress build
    * (reference needs Docling's layout/OCR models, Dockerfile:45-51). */
  final class UnsupportedParser(format: String) extends FormatParser {
    def parse(name: String, bytes: Array[Byte]): Either[String, DocTree] =
      Left(s"Format '$format' requires ML parsing models not available in this build")
  }

  /** Image inputs (PNG/JPEG/GIF/BMP/TIFF — `image` is a first-class
    * InputFormat, reference utils.py:9-17): the reference renders the
    * image to a page and runs Docling layout+OCR over it
    * (Dockerfile:45-51). In a pure-JVM zero-egress build the structural
    * subset is the document that pipeline produces BEFORE the text models
    * run — a single-page doc holding the picture itself, which the kernel
    * then decodes/scales/re-encodes per request config exactly like
    * embedded DOCX/PPTX media (so the ImageData array and counters come
    * out right). OCR TEXT extraction stays scoped out, and stays HONEST:
    * the markdown is the image placeholder (never silently-empty "text"),
    * and an undecodable payload is an error row, not a blank picture. */
  object ImageParser extends FormatParser {
    def parse(name: String, bytes: Array[Byte]): Either[String, DocTree] = {
      val decoded =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        catch { case _: Exception => None }
      decoded match {
        case Some(_) =>
          Right(DocTree(name, Seq(PictureElement(None, rawMedia = Some(bytes)))))
        case None =>
          Left(s"Could not decode image '$name' (OCR text extraction additionally " +
            "requires ML models not available in this build)")
      }
    }
  }

  /** Parser registry keyed by detected InputFormat. docx/pptx are pure-JVM
    * zip+StAX walks (OoxmlParsers); pdf is the positioned-text parser;
    * image inputs convert structurally (picture document, no OCR text). */
  val byFormat: Map[String, FormatParser] = Map(
    "md" -> MarkdownParser,
    "csv" -> CsvParser,
    "html" -> HtmlParser,
    "asciidoc" -> AsciiDocParser,
    "docx" -> OoxmlParsers.DocxParser,
    "pptx" -> OoxmlParsers.PptxParser,
    "pdf" -> PdfParser,
    "image" -> ImageParser)
}
