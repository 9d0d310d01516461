package graft.kernel

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.ArrayBuffer

import graft.kernel.DocModel._

/** Pure-JVM DOCX/PPTX parsers — zip container + StAX over the OOXML parts
  * (ECMA-376 part names: `word/document.xml`, `ppt/slides/slideN.xml`).
  *
  * The reference treats docx/pptx as first-class Docling inputs
  * (document_converter/utils.py:27-47); this build extracts the text
  * skeleton — headings (w:pStyle Heading*), paragraphs, numbered/bulleted
  * lists (w:numPr resolved through word/numbering.xml numFmt), tables
  * (w:tbl/a:tbl grids), pictures (w:drawing / w:pict / p:pic, including
  * pictures inside table cells) — without layout models. Embedded picture
  * bytes are resolved through the part's relationships (a:blip r:embed /
  * v:imagedata r:id → word/media/… or ppt/media/…) and carried on
  * [[DocModel.PictureElement.rawMedia]]; the reference ships these same
  * pixels base64-encoded (document_converter/service.py:106-128). PPTX
  * speaker notes (ppt/notesSlides/…, associated via each slide's rels)
  * append as text after their slide. Cell merges produce real spanned
  * [[DocModel.TableCellSpec]]s in both formats: DOCX via w:gridSpan +
  * w:vMerge restart/continue, PPTX via a:tc gridSpan/rowSpan attributes
  * with hMerge/vMerge continuation slots. Everything emits into the same
  * DocTree the md/html/csv parsers use, so splice/counters/serialization
  * downstream are shared.
  */
object OoxmlParsers {

  /** Decompression-bomb guard: the most bytes one zip part (or one PDF
    * Flate stream, which shares it) may inflate to. */
  private[kernel] val MaxEntryBytes = 64 << 20

  /** Read selected entries of a zip (by predicate on the entry name). */
  private[kernel] def zipEntries(bytes: Array[Byte],
                                 want: String => Boolean): Map[String, Array[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    try {
      var e = zis.getNextEntry
      while (e != null) {
        if (!e.isDirectory && want(e.getName)) {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = zis.read(chunk)
          while (n >= 0 && buf.size <= MaxEntryBytes) {
            buf.write(chunk, 0, n); n = zis.read(chunk)
          }
          if (buf.size <= MaxEntryBytes) out += e.getName -> buf.toByteArray
        }
        e = zis.getNextEntry
      }
    } finally zis.close()
    out.result()
  }

  // The JDK's own StAX implementation, chosen explicitly: newInstance()
  // is a ServiceLoader scan per call whose answer depends on the classpath
  // (Spark's carries Hadoop's shaded Woodstox). Configured once, with DTDs
  // and external entities off, and kept per thread because a factory is
  // not guaranteed thread-safe.
  private val xmlFactory: ThreadLocal[XMLInputFactory] = ThreadLocal.withInitial { () =>
    val f = XMLInputFactory.newDefaultFactory()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def newReader(bytes: Array[Byte]): XMLStreamReader =
    xmlFactory.get().createXMLStreamReader(new ByteArrayInputStream(bytes))

  private def attr(r: XMLStreamReader, local: String): Option[String] =
    (0 until r.getAttributeCount)
      .find(i => r.getAttributeLocalName(i) == local)
      .map(r.getAttributeValue)

  /** One relationship from a `_rels/….rels` part. */
  private[kernel] final case class Rel(id: String, relType: String, target: String)

  /** All relationships of a rels part (Id, Type, Target). */
  private[kernel] def parseRels(xml: Array[Byte]): Seq[Rel] = {
    val r = newReader(xml)
    val out = ArrayBuffer[Rel]()
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT &&
        r.getLocalName == "Relationship") {
        for (id <- attr(r, "Id"); target <- attr(r, "Target"))
          out += Rel(id, attr(r, "Type").getOrElse(""), target)
      }
    }
    r.close()
    out.toSeq
  }

  /** Resolve a rels Target (relative to `baseDir`, e.g. "media/image1.png"
    * from word/, "../media/image1.png" from ppt/slides/) to a part name. */
  private[kernel] def resolveTarget(baseDir: String, target: String): String = {
    if (target.startsWith("/")) return target.drop(1)
    val stack = ArrayBuffer(baseDir.split("/").filter(_.nonEmpty): _*)
    target.split("/").foreach {
      case ".." => if (stack.nonEmpty) stack.remove(stack.length - 1)
      case "." | "" => ()
      case seg => stack += seg
    }
    stack.mkString("/")
  }

  /** Span-aware table build (DOCX): each cell carries its w:gridSpan width
    * and w:vMerge state. A vMerge restart opens a vertical cell; continues
    * extend it (their empty text drops, per Word semantics); everything
    * else is a (possibly column-spanned) single-row cell. The markdown
    * renderer repeats spanned text into every covered grid position. */
  private[kernel] def tableFromSpanned(
      rows: Seq[Seq[(String, Int, Option[String])]]): Option[TableElement] = {
    val nonEmpty = rows.filter(_.nonEmpty)
    if (nonEmpty.isEmpty) return None
    val specs = ArrayBuffer[TableCellSpec]()
    val openByCol = scala.collection.mutable.Map.empty[Int, Int] // startCol -> specs idx
    var maxCol = 0
    nonEmpty.zipWithIndex.foreach { case (row, ri) =>
      var col = 0
      row.foreach { case (text, span, vm) =>
        vm match {
          case Some("continue") =>
            openByCol.get(col) match {
              case Some(idx) =>
                val c = specs(idx)
                specs(idx) = c.copy(endRow = ri + 1)
                col += c.endCol - c.startCol
              case None => // dangling continue: degrade to a normal cell
                specs += TableCellSpec(ri, ri + 1, col, col + span, text, columnHeader = ri == 0)
                col += span
            }
          case other =>
            val idx = specs.length
            specs += TableCellSpec(ri, ri + 1, col, col + span, text, columnHeader = ri == 0)
            if (other.contains("restart")) openByCol(col) = idx else openByCol.remove(col)
            col += span
        }
      }
      maxCol = math.max(maxCol, col)
    }
    Some(TableElement(specs.toSeq, nonEmpty.length, maxCol))
  }

  /** Span-aware table build (PPTX): DrawingML writes an explicit a:tc for
    * EVERY grid slot — covered slots carry hMerge/vMerge="1" — so each tc
    * advances the column cursor by exactly one; an origin cell's
    * gridSpan/rowSpan only widen its spec over the following continuation
    * slots (ECMA-376 §21.1.3.16). */
  private[kernel] def tableFromPptx(
      rows: Seq[Seq[(String, Int, Int, Boolean)]]): Option[TableElement] = {
    val nonEmpty = rows.filter(_.nonEmpty)
    if (nonEmpty.isEmpty) return None
    val specs = ArrayBuffer[TableCellSpec]()
    var maxCol = 0
    nonEmpty.zipWithIndex.foreach { case (row, ri) =>
      row.zipWithIndex.foreach { case ((text, gs, rs, merged), col) =>
        if (!merged)
          specs += TableCellSpec(ri, math.min(ri + rs, nonEmpty.length),
            col, col + gs, text, columnHeader = ri == 0)
      }
      maxCol = math.max(maxCol, row.length)
    }
    Some(TableElement(specs.toSeq, nonEmpty.length, maxCol))
  }

  /** DrawingML chart part (`word/charts/chartN.xml` / `ppt/charts/…`) →
    * its cached DATA as a table: header row = series names, first column =
    * categories, body = the c:numCache values. Charts are the one OOXML
    * embed whose content is fully recoverable without rendering — the
    * XML carries the plotted numbers — so a data table preserves what the
    * reference's image render only pictures. Series names come from the
    * first c:v under c:ser/c:tx (the strCache, not the c:f formula);
    * categories from the first series carrying a c:cat cache, index
    * labels otherwise. Returns None for chartless/empty parts. */
  private[kernel] def parseChart(xml: Array[Byte]): Option[TableElement] = {
    final class Ser {
      var name: String = ""
      val cats = ArrayBuffer[String]()
      val vals = ArrayBuffer[String]()
    }
    val r = newReader(xml)
    val series = ArrayBuffer[Ser]()
    var inSer = false
    var inTx = false
    var inCat = false
    var inVal = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "ser" => series += new Ser; inSer = true
            case "tx" if inSer => inTx = true
            case "cat" if inSer => inCat = true
            case "val" if inSer => inVal = true
            case "v" if inSer =>
              val t = r.getElementText
              val s = series.last
              if (inTx) { if (s.name.isEmpty) s.name = t }
              else if (inCat) s.cats += t
              else if (inVal) s.vals += t
            case _ => ()
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "ser" => inSer = false
            case "tx" => inTx = false
            case "cat" => inCat = false
            case "val" => inVal = false
            case _ => ()
          }
        case _ => ()
      }
    }
    r.close()
    if (series.isEmpty || series.forall(_.vals.isEmpty)) None
    else {
      val cats = series.find(_.cats.nonEmpty).map(_.cats.toSeq)
        .getOrElse((1 to series.map(_.vals.size).max).map(_.toString))
      val cells = ArrayBuffer[TableCellSpec]()
      cells += TableCellSpec(0, 1, 0, 1, "", columnHeader = true)
      series.zipWithIndex.foreach { case (s, ci) =>
        cells += TableCellSpec(0, 1, ci + 1, ci + 2,
          if (s.name.nonEmpty) s.name else s"Series ${ci + 1}", columnHeader = true)
      }
      cats.zipWithIndex.foreach { case (c, ri) =>
        cells += TableCellSpec(ri + 1, ri + 2, 0, 1, c)
        series.zipWithIndex.foreach { case (s, ci) =>
          cells += TableCellSpec(ri + 1, ri + 2, ci + 1, ci + 2,
            s.vals.lift(ri).getOrElse(""))
        }
      }
      Some(TableElement(cells.toSeq, cats.size + 1, series.size + 1))
    }
  }

  /** SmartArt diagram data part (`word/diagrams/dataN.xml` /
    * `ppt/diagrams/…`) → its node texts as a bullet list. The data model
    * (`dgm:dataModel/dgm:ptLst`) carries every node's text inline — like
    * charts, SmartArt is fully recoverable without rendering. Each
    * `dgm:t` block (one per diagram node) concatenates its `a:t` runs
    * into one list item, in ptLst document order; transition points
    * (`parTrans`/`sibTrans`) have empty text and drop out with the
    * nonEmpty filter. Both `dgm:t` and `a:t` have localName "t", so the
    * two are split by namespace URI. Returns None for textless parts. */
  private val DgmNs = "http://schemas.openxmlformats.org/drawingml/2006/diagram"

  private[kernel] def parseDiagram(xml: Array[Byte]): Option[ListElement] = {
    val r = newReader(xml)
    val items = ArrayBuffer[String]()
    var inDgmT = false
    val buf = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "t" =>
          if (r.getNamespaceURI == DgmNs) { inDgmT = true; buf.clear() }
          else if (inDgmT) buf ++= r.getElementText
        case XMLStreamConstants.END_ELEMENT
          if r.getLocalName == "t" && r.getNamespaceURI == DgmNs =>
          val t = buf.toString.trim
          if (t.nonEmpty) items += t
          inDgmT = false
        case _ => ()
      }
    }
    r.close()
    if (items.isEmpty) None else Some(ListElement(items.toSeq))
  }

  private val HeadingStyle = "Heading(\\d)".r

  /** w:numFmt values that render as ordered (`1. 2. 3.`) markdown lists;
    * everything else (bullet, none, unknown) stays a bullet list. */
  private val OrderedNumFmts = Set(
    "decimal", "decimalZero", "lowerLetter", "upperLetter",
    "lowerRoman", "upperRoman", "ordinal", "cardinalText", "ordinalText")

  /** DOCX: StAX walk of word/document.xml. Headings via w:pStyle
    * (Heading1..9 or Title), body paragraphs, depth-1 tables, pictures
    * (emitted after their paragraph's text — or after their table, for
    * pictures inside cells — in document order, with embedded media bytes
    * resolved through document.xml.rels). */
  object DocxParser extends FormatParser {
    private val RelsPart = "word/_rels/document.xml.rels"
    private val NumberingPart = "word/numbering.xml"
    private val FootnotesPart = "word/footnotes.xml"
    private val EndnotesPart = "word/endnotes.xml"

    def parse(name: String, bytes: Array[Byte]): Either[String, DocTree] = {
      val parts = zipEntries(bytes,
        n => n == "word/document.xml" || n == RelsPart || n == NumberingPart ||
          n == FootnotesPart || n == EndnotesPart || n.startsWith("word/media/") ||
          n.startsWith("word/charts/") || n.startsWith("word/diagrams/") ||
          n.startsWith("word/header") || n.startsWith("word/footer") ||
          n.startsWith("word/_rels/header") || n.startsWith("word/_rels/footer"))
      parts.get("word/document.xml") match {
        case None => Left("Invalid DOCX: missing word/document.xml")
        case Some(xml) =>
          try {
            val rels = parts.get(RelsPart).map(parseRels).getOrElse(Seq.empty)
            val relTarget = rels.map(r => r.id -> r.target).toMap
            val numbering =
              parts.get(NumberingPart).map(parseNumbering).getOrElse(Map.empty)
            // footnote/endnote ids live in separate parts and can collide,
            // so each id is namespaced ("f2" / "e2"); the reference sites
            // look up with the matching prefix. One shared [^n] sequence
            // keeps markers unique in the linear export.
            val footnotes =
              parts.get(FootnotesPart).map(x => parseNotes(x, "footnote"))
                .getOrElse(Map.empty).map { case (k, v) => ("f" + k) -> v } ++
              parts.get(EndnotesPart).map(x => parseNotes(x, "endnote"))
                .getOrElse(Map.empty).map { case (k, v) => ("e" + k) -> v }
            val media: String => Option[Array[Byte]] =
              id => relTarget.get(id).flatMap(t => parts.get(resolveTarget("word", t)))
            val charts: String => Option[TableElement] =
              id => relTarget.get(id).flatMap(t => parts.get(resolveTarget("word", t)))
                .flatMap(parseChart)
            val diagrams: String => Option[ListElement] =
              id => relTarget.get(id).flatMap(t => parts.get(resolveTarget("word", t)))
                .flatMap(parseDiagram)
            val body = parseDocumentXml(xml, relTarget, numbering, media, footnotes,
              charts, diagrams)
            // default header paragraphs lead the document, default footer
            // paragraphs trail it (Word renders them on every page; a
            // linear markdown export keeps one copy each, like a text
            // export does). Each part resolves media through its OWN rels.
            val (hdrIds, ftrIds) = sectionRefs(xml)
            def partItems(rid: String): Seq[Element] =
              relTarget.get(rid).toSeq.flatMap { t =>
                val partName = resolveTarget("word", t)
                parts.get(partName).toSeq.flatMap { pxml =>
                  val prels = parts
                    .get("word/_rels/" + partName.stripPrefix("word/") + ".rels")
                    .map(parseRels).getOrElse(Seq.empty)
                  val prelTarget = prels.map(r => r.id -> r.target).toMap
                  val pmedia: String => Option[Array[Byte]] =
                    id => prelTarget.get(id).flatMap(t2 => parts.get(resolveTarget("word", t2)))
                  val pcharts: String => Option[TableElement] =
                    id => prelTarget.get(id).flatMap(t2 => parts.get(resolveTarget("word", t2)))
                      .flatMap(parseChart)
                  val pdiagrams: String => Option[ListElement] =
                    id => prelTarget.get(id).flatMap(t2 => parts.get(resolveTarget("word", t2)))
                      .flatMap(parseDiagram)
                  parseDocumentXml(pxml, prelTarget, numbering, pmedia, Map.empty,
                    pcharts, pdiagrams)
                }
              }
            val header = hdrIds.flatMap(partItems)
            val footer = ftrIds.flatMap(partItems)
            Right(DocTree(name, header ++ body ++ footer))
          } catch { case e: Exception => Left(s"Invalid DOCX: ${e.getMessage}") }
      }
    }

    /** The body sectPr's default header/footer references: r:ids of
      * w:headerReference / w:footerReference with w:type="default" (the
      * variant Word uses on every ordinary page; first/even variants are
      * page-layout detail a linear export skips). */
    private[kernel] def sectionRefs(xml: Array[Byte]): (Seq[String], Seq[String]) = {
      val r = newReader(xml)
      val hdr = ArrayBuffer[String]()
      val ftr = ArrayBuffer[String]()
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT) {
          r.getLocalName match {
            case "headerReference" if attr(r, "type").contains("default") =>
              attr(r, "id").foreach(hdr += _)
            case "footerReference" if attr(r, "type").contains("default") =>
              attr(r, "id").foreach(ftr += _)
            case _ => ()
          }
        }
      }
      r.close()
      (hdr.toSeq, ftr.toSeq)
    }

    /** word/footnotes.xml or word/endnotes.xml → (id → text); `element`
      * is "footnote" or "endnote" (the parts share their schema shape).
      * Separator/continuation stubs (w:type present) are skipped;
      * paragraphs join with a space. */
    private[kernel] def parseNotes(xml: Array[Byte], element: String): Map[String, String] = {
      val r = newReader(xml)
      val out = Map.newBuilder[String, String]
      var curId: Option[String] = None
      val buf = new StringBuilder
      // text-only collector: any mc:AlternateContent here duplicates its
      // w:t runs across Choice/Fallback, so Fallback skips unconditionally
      var skipDepth = 0
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT if skipDepth > 0 =>
            skipDepth += 1
          case XMLStreamConstants.END_ELEMENT if skipDepth > 0 =>
            skipDepth -= 1
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "Fallback" => skipDepth = 1
              case `element` =>
                curId = if (attr(r, "type").isDefined) None else attr(r, "id")
                buf.clear()
              case "t" if curId.isDefined => buf ++= r.getElementText
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "p" if curId.isDefined =>
                if (buf.nonEmpty && !buf.endsWith(" ")) buf += ' '
              case `element` =>
                curId.foreach(id => out += id -> buf.toString.trim)
                curId = None
              case _ => ()
            }
          case _ => ()
        }
      }
      r.close()
      out.result()
    }

    /** word/numbering.xml → ((numId, ilvl) → numFmt), via the two-level
      * w:num → w:abstractNum indirection (ECMA-376 §17.9). */
    private[kernel] def parseNumbering(xml: Array[Byte]): Map[(String, String), String] = {
      val r = newReader(xml)
      val lvlFmt = Map.newBuilder[(String, String), String] // (abstractId, ilvl) -> fmt
      val numToAbs = Map.newBuilder[String, String]
      var curAbstract: Option[String] = None
      var curLvl: Option[String] = None
      var curNum: Option[String] = None
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "abstractNum" => curAbstract = attr(r, "abstractNumId")
              case "lvl" if curAbstract.isDefined => curLvl = attr(r, "ilvl")
              case "numFmt" =>
                for (a <- curAbstract; l <- curLvl; f <- attr(r, "val"))
                  lvlFmt += (a, l) -> f
              case "num" => curNum = attr(r, "numId")
              case "abstractNumId" =>
                for (n <- curNum; a <- attr(r, "val")) numToAbs += n -> a
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "abstractNum" => curAbstract = None
              case "lvl" => curLvl = None
              case "num" => curNum = None
              case _ => ()
            }
          case _ => ()
        }
      }
      r.close()
      val fmts = lvlFmt.result()
      val n2a = numToAbs.result()
      n2a.flatMap { case (numId, absId) =>
        fmts.collect { case ((a, ilvl), fmt) if a == absId => (numId, ilvl) -> fmt }
      }
    }

    private def parseDocumentXml(xml: Array[Byte],
                                 rels: Map[String, String],
                                 numbering: Map[(String, String), String],
                                 media: String => Option[Array[Byte]],
                                 footnotes: Map[String, String],
                                 charts: String => Option[TableElement] = _ => None,
                                 diagrams: String => Option[ListElement] = _ => None): Seq[Element] = {
      val r = newReader(xml)
      val items = ArrayBuffer[Element]()
      // footnote id → 1-based number, in first-reference order (Word
      // renumbers the same way regardless of the file's internal ids)
      val footnoteOrder = scala.collection.mutable.LinkedHashMap.empty[String, Int]

      var tblDepth = 0
      // per cell: (text, gridSpan width, vMerge state)
      val tableRows = ArrayBuffer[ArrayBuffer[(String, Int, Option[String])]]()
      val cellBuf = new StringBuilder
      var cellSpan = 1
      var cellVMerge: Option[String] = None

      // paragraph content as (text, bold, italic) run segments — rendered
      // to markdown emphasis at paragraph end (adjacent same-format
      // segments merge first, so Word's arbitrary run splits don't leak
      // as `**bo****ld**`)
      val paraSegs = ArrayBuffer[(String, Boolean, Boolean)]()
      var runBold = false
      var runItalic = false
      var insideRun = false
      var hyperStart = 0
      var hyperHref: Option[String] = None
      var paraStyle: Option[String] = None
      // pictures seen in the current paragraph (slot per drawing; media
      // bytes filled in when the nested a:blip/v:imagedata resolves)
      val paraPics = ArrayBuffer[Option[Array[Byte]]]()
      // pictures seen inside the current depth-1 table's cells — the cell
      // grid is text-only, so these emit right after the TableElement
      val tblPics = ArrayBuffer[Option[Array[Byte]]]()
      // chart drawings resolve to DATA tables (parseChart) and SmartArt
      // drawings to node-text lists (parseDiagram); both consume their
      // drawing's picture slot and emit after the paragraph's text (or
      // after the enclosing table, like cell pics)
      val paraCharts = ArrayBuffer[Element]()
      val tblCharts = ArrayBuffer[Element]()
      var paraIsListItem = false
      var inNumPr = false
      var paraNumId: Option[String] = None
      var paraIlvl: Option[String] = None
      var paraOrdered = false
      val pendingList = ArrayBuffer[(String, Int)]() // (text, ilvl)
      var pendingOrdered = false

      def renderSegs(): String = {
        val merged = ArrayBuffer[(StringBuilder, Boolean, Boolean)]()
        paraSegs.foreach { case (t, b, i) =>
          merged.lastOption match {
            case Some((sb, lb, li)) if lb == b && li == i => sb ++= t
            case _ => merged += ((new StringBuilder(t), b, i))
          }
        }
        paraSegs.clear()
        merged.map { case (sb, b, i) =>
          val t = sb.toString
          val marker = (b, i) match {
            case (true, true) => "***"
            case (true, false) => "**"
            case (false, true) => "*"
            case _ => ""
          }
          if (marker.isEmpty || t.trim.isEmpty) t
          else {
            val lead = t.takeWhile(_.isWhitespace)
            val trail = t.reverse.takeWhile(_.isWhitespace).reverse
            lead + marker + t.trim + marker + trail
          }
        }.mkString
      }

      def flushPendingList(): Unit = {
        if (pendingList.nonEmpty)
          items += ListElement(pendingList.map(_._1).toSeq,
            ordered = pendingOrdered, levels = pendingList.map(_._2).toSeq)
        pendingList.clear()
      }

      def endParagraph(): Unit = {
        val text = renderSegs().trim
        if (text.nonEmpty) {
          if (paraIsListItem) {
            // ilvl defaults to 0 when the numPr omits it (ECMA-376)
            val fmt = paraNumId.flatMap(n =>
              numbering.get((n, paraIlvl.getOrElse("0"))))
            val ordered = fmt.exists(OrderedNumFmts)
            val level = paraIlvl.flatMap(_.toIntOption).getOrElse(0)
            // a format change at the top level splits the list; nested
            // items stay inside it (their depth renders as indentation,
            // marker style follows the list's top-level format)
            if (pendingList.nonEmpty && level == 0 && pendingOrdered != ordered)
              flushPendingList()
            if (pendingList.isEmpty) pendingOrdered = ordered
            pendingList += ((text, level))
          } else {
            flushPendingList()
            val el = paraStyle match {
              case Some("Title") => HeadingElement(text, 1)
              case Some(HeadingStyle(lvl)) => HeadingElement(text, lvl.toInt)
              case _ => TextElement(text)
            }
            items += el
          }
        }
        if (paraPics.nonEmpty || paraCharts.nonEmpty) flushPendingList()
        paraPics.foreach(m => items += PictureElement(rawMedia = m))
        paraPics.clear()
        paraCharts.foreach(items += _)
        paraCharts.clear()
        paraStyle = None
        paraIsListItem = false
        paraNumId = None
        paraIlvl = None
      }

      // >0 ⇒ inside an mc:Fallback subtree being skipped wholesale: Word
      // writes drawings/textboxes as mc:AlternateContent with an mc:Choice
      // (DrawingML, e.g. wps:txbx) AND an mc:Fallback (legacy VML) carrying
      // the SAME w:txbxContent — processing both would emit every
      // textbox's text twice and open two picture slots. The skip is
      // CONDITIONAL on the Choice branch having yielded something this
      // parser extracts (acYielded, reset at each AlternateContent): when
      // the Choice holds a format we cannot read (e.g. a chartex chart),
      // the Fallback — often a cached image — is the only recoverable
      // representation and must still be processed.
      var skipDepth = 0
      var acYielded = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT if skipDepth > 0 =>
            skipDepth += 1
          case XMLStreamConstants.END_ELEMENT if skipDepth > 0 =>
            skipDepth -= 1
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "AlternateContent" => acYielded = false
              case "Fallback" =>
                if (acYielded) skipDepth = 1
                else {
                  // the Choice's unresolved drawing left an empty picture
                  // slot; the Fallback re-renders the same drawing, so
                  // its slot supersedes rather than adds
                  val buf = if (tblDepth == 0) paraPics else tblPics
                  if (buf.nonEmpty && buf.last.isEmpty) buf.remove(buf.length - 1)
                }
              // w:txbxContent marks the enclosing drawing as a TEXT
              // container (Word text box): its w:p/w:t flow through the
              // normal paragraph cases below; the drawing's pending
              // picture slot is dropped — a text box is not a picture
              case "txbxContent" =>
                acYielded = true
                val buf = if (tblDepth == 0) paraPics else tblPics
                if (buf.nonEmpty && buf.last.isEmpty) buf.remove(buf.length - 1)
              case "tbl" =>
                if (tblDepth == 0) flushPendingList()
                tblDepth += 1
              case "tr" if tblDepth == 1 =>
                tableRows += ArrayBuffer[(String, Int, Option[String])]()
              case "tc" if tblDepth == 1 =>
                cellBuf.clear(); cellSpan = 1; cellVMerge = None
              case "gridSpan" if tblDepth == 1 =>
                cellSpan = attr(r, "val").flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
              case "vMerge" if tblDepth == 1 =>
                // absent w:val means continue (ECMA-376 §17.4.84)
                cellVMerge = Some(attr(r, "val").getOrElse("continue"))
              case "pStyle" if tblDepth == 0 =>
                paraStyle = attr(r, "val")
              case "numPr" if tblDepth == 0 =>
                paraIsListItem = true; inNumPr = true
              case "ilvl" if inNumPr => paraIlvl = attr(r, "val")
              case "numId" if inNumPr => paraNumId = attr(r, "val")
              // w:object is the embedded-OLE container (spreadsheet,
              // equation, …): its v:imagedata preview renders like a
              // picture, exactly how Word's own export shows the object
              case "drawing" | "pict" | "object" =>
                if (tblDepth == 0) paraPics += None else tblPics += None
              // embedded media references inside the current drawing/pict:
              // DrawingML a:blip r:embed, legacy VML v:imagedata r:id
              case "blip" =>
                for (id <- attr(r, "embed"); m <- media(id)) {
                  acYielded = true
                  val buf = if (tblDepth == 0) paraPics else tblPics
                  if (buf.nonEmpty) buf(buf.length - 1) = Some(m)
                }
              case "imagedata" =>
                for (id <- attr(r, "id"); m <- media(id)) {
                  acYielded = true
                  val buf = if (tblDepth == 0) paraPics else tblPics
                  if (buf.nonEmpty) buf(buf.length - 1) = Some(m)
                }
              // a chart graphic inside the current drawing: resolve the
              // chart part and replace the drawing's picture slot with
              // its data table
              case "chart" =>
                for (id <- attr(r, "id"); tbl <- charts(id)) {
                  acYielded = true
                  if (tblDepth == 0) {
                    if (paraPics.nonEmpty && paraPics.last.isEmpty)
                      paraPics.remove(paraPics.length - 1)
                    paraCharts += tbl
                  } else {
                    if (tblPics.nonEmpty && tblPics.last.isEmpty)
                      tblPics.remove(tblPics.length - 1)
                    tblCharts += tbl
                  }
                }
              // a SmartArt graphic inside the current drawing: dgm:relIds
              // r:dm names the diagram DATA part; its node texts replace
              // the drawing's picture slot as a bullet list
              case "relIds" =>
                for (id <- attr(r, "dm"); lst <- diagrams(id)) {
                  acYielded = true
                  if (tblDepth == 0) {
                    if (paraPics.nonEmpty && paraPics.last.isEmpty)
                      paraPics.remove(paraPics.length - 1)
                    paraCharts += lst
                  } else {
                    if (tblPics.nonEmpty && tblPics.last.isEmpty)
                      tblPics.remove(tblPics.length - 1)
                    tblCharts += lst
                  }
                }
              case "hyperlink" if tblDepth == 0 =>
                hyperStart = paraSegs.length
                hyperHref = attr(r, "id").flatMap(rels.get)
              case "r" if tblDepth == 0 =>
                insideRun = true; runBold = false; runItalic = false
              // OOXML boolean props: absent val = on, "0"/"false" = off
              case "b" if insideRun =>
                runBold = !attr(r, "val").exists(v => v == "0" || v == "false")
              case "i" if insideRun =>
                runItalic = !attr(r, "val").exists(v => v == "0" || v == "false")
              case "t" =>
                val text = r.getElementText
                if (text.nonEmpty) acYielded = true
                if (tblDepth >= 1) cellBuf ++= text
                else paraSegs += ((text, runBold, runItalic))
              case "footnoteReference" if tblDepth == 0 =>
                for (id <- attr(r, "id"); k = "f" + id if footnotes.contains(k)) {
                  val n = footnoteOrder.getOrElseUpdate(k, footnoteOrder.size + 1)
                  paraSegs += ((s"[^$n]", false, false))
                }
              case "endnoteReference" if tblDepth == 0 =>
                for (id <- attr(r, "id"); k = "e" + id if footnotes.contains(k)) {
                  val n = footnoteOrder.getOrElseUpdate(k, footnoteOrder.size + 1)
                  paraSegs += ((s"[^$n]", false, false))
                }
              case "tab" if tblDepth == 0 => paraSegs += ((" ", false, false))
              case "br" if tblDepth == 0 => paraSegs += ((" ", false, false))
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "r" => insideRun = false
              case "numPr" => inNumPr = false
              case "hyperlink" if tblDepth == 0 =>
                hyperHref.foreach { url =>
                  val text = paraSegs.drop(hyperStart).map(_._1).mkString.trim
                  paraSegs.remove(hyperStart, paraSegs.length - hyperStart)
                  if (text.nonEmpty) paraSegs += ((s"[$text]($url)", false, false))
                }
                hyperHref = None
              case "p" if tblDepth == 0 => endParagraph()
              case "p" if tblDepth >= 1 => // paragraph break inside a cell
                if (cellBuf.nonEmpty && !cellBuf.endsWith(" ")) cellBuf += ' '
              case "tc" if tblDepth == 1 =>
                if (tableRows.nonEmpty)
                  tableRows.last += ((cellBuf.toString.trim, cellSpan, cellVMerge))
              case "tbl" =>
                tblDepth -= 1
                if (tblDepth == 0) {
                  tableFromSpanned(tableRows.map(_.toSeq).toSeq).foreach(items += _)
                  tableRows.clear()
                  // cell pictures/charts follow their table in document order
                  tblPics.foreach(m => items += PictureElement(rawMedia = m))
                  tblPics.clear()
                  tblCharts.foreach(items += _)
                  tblCharts.clear()
                }
              case _ => ()
            }
          case _ => ()
        }
      }
      r.close()
      flushPendingList()
      // footnote definitions append at document end, numbered in
      // first-reference order
      footnoteOrder.foreach { case (id, n) =>
        footnotes.get(id).filter(_.nonEmpty)
          .foreach(t => items += TextElement(s"[^$n]: $t"))
      }
      items.toSeq
    }
  }

  /** PPTX: slides in ppt/slides/slideN.xml, N ascending. Title-placeholder
    * shapes (ph type title/ctrTitle, or an untagged shape whose cNvPr name
    * starts with "Title") become level-1 headings, body paragraphs text,
    * a:tbl grids tables, p:pic pictures with embedded media resolved via
    * the slide's rels. Speaker notes (the slide's notesSlide rel) append
    * as text after the slide's own content. */
  object PptxParser extends FormatParser {
    private val SlideName = "ppt/slides/slide(\\d+)\\.xml".r
    private val SlideRels = "ppt/slides/_rels/slide(\\d+)\\.xml\\.rels".r

    def parse(name: String, bytes: Array[Byte]): Either[String, DocTree] = {
      val parts = zipEntries(bytes, n =>
        SlideName.pattern.matcher(n).matches() ||
          SlideRels.pattern.matcher(n).matches() ||
          n.startsWith("ppt/media/") || n.startsWith("ppt/notesSlides/") ||
          n.startsWith("ppt/charts/") || n.startsWith("ppt/diagrams/"))
      val slides = parts.filter { case (n, _) => SlideName.pattern.matcher(n).matches() }
      if (slides.isEmpty) return Left("Invalid PPTX: no ppt/slides/*.xml parts")
      val ordered = slides.toSeq
        .map { case (n, b) => val SlideName(i) = n: @unchecked; (i.toInt, b) }
        .sortBy(_._1)
      try Right(DocTree(name, ordered.flatMap { case (i, xml) =>
        val rels = parts.get(s"ppt/slides/_rels/slide$i.xml.rels")
          .map(parseRels).getOrElse(Seq.empty)
        val relTarget = rels.map(rel => rel.id -> rel.target).toMap
        val media: String => Option[Array[Byte]] =
          id => relTarget.get(id).flatMap(t => parts.get(resolveTarget("ppt/slides", t)))
        val notes = rels.filter(_.relType.endsWith("/notesSlide"))
          .flatMap(rel => parts.get(resolveTarget("ppt/slides", rel.target)))
          .flatMap(parseNotesXml)
        val charts: String => Option[TableElement] =
          id => relTarget.get(id).flatMap(t => parts.get(resolveTarget("ppt/slides", t)))
            .flatMap(parseChart)
        val diagrams: String => Option[ListElement] =
          id => relTarget.get(id).flatMap(t => parts.get(resolveTarget("ppt/slides", t)))
            .flatMap(parseDiagram)
        parseSlideXml(xml, media, relTarget.get, charts, diagrams) ++ notes
      }))
      catch { case e: Exception => Left(s"Invalid PPTX: ${e.getMessage}") }
    }

    /** Speaker-notes part: text of body-placeholder shapes only (the other
      * shapes are the slide-image and slide-number placeholders). */
    private[kernel] def parseNotesXml(xml: Array[Byte]): Seq[Element] = {
      val r = newReader(xml)
      val out = ArrayBuffer[Element]()
      var shapeIsBody = false
      val paraBuf = new StringBuilder
      val shapeParas = ArrayBuffer[String]()
      // text-only collector: skip mc:Fallback unconditionally (its a:t
      // runs duplicate the Choice branch's)
      var skipDepth = 0
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT if skipDepth > 0 =>
            skipDepth += 1
          case XMLStreamConstants.END_ELEMENT if skipDepth > 0 =>
            skipDepth -= 1
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "Fallback" => skipDepth = 1
              case "ph" if attr(r, "type").contains("body") => shapeIsBody = true
              case "t" => paraBuf ++= r.getElementText
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "p" =>
                shapeParas += paraBuf.toString.trim
                paraBuf.clear()
              case "sp" =>
                if (shapeIsBody)
                  shapeParas.filter(_.nonEmpty).foreach(out += TextElement(_))
                shapeParas.clear()
                shapeIsBody = false
              case _ => ()
            }
          case _ => ()
        }
      }
      r.close()
      out.toSeq
    }

    private def parseSlideXml(xml: Array[Byte],
                              media: String => Option[Array[Byte]],
                              linkTarget: String => Option[String],
                              charts: String => Option[TableElement] = _ => None,
                              diagrams: String => Option[ListElement] = _ => None): Seq[Element] = {
      val r = newReader(xml)
      val items = ArrayBuffer[Element]()

      var inTable = false
      // per cell: (text, gridSpan, rowSpan, merge-continuation?)
      val tableRows = ArrayBuffer[ArrayBuffer[(String, Int, Int, Boolean)]]()
      val cellBuf = new StringBuilder
      var tcSpan = 1
      var tcRowSpan = 1
      var tcMerged = false

      var shapeIsTitle = false
      var inNvSpPr = false // inside p:sp/p:nvSpPr (NOT nvGraphicFramePr/nvGrpSpPr)
      var inPic = false
      var picIdx = -1
      val paraBuf = new StringBuilder
      val shapeParas = ArrayBuffer[(String, Int)]() // (text, a:pPr lvl)
      var paraLvl = 0
      var runBold = false
      var runItalic = false
      var runLink: Option[String] = None

      def endShape(): Unit = {
        val paras = shapeParas.filter(_._1.nonEmpty).toSeq
        shapeParas.clear()
        if (shapeIsTitle) paras.foreach(p => items += HeadingElement(p._1, 1))
        // PowerPoint body placeholders are bulleted by default: multi-
        // paragraph body shapes render as a bullet list (indent levels
        // from a:pPr lvl), single paragraphs as plain text
        else if (paras.size > 1)
          items += ListElement(paras.map(_._1), levels = paras.map(_._2))
        else paras.foreach(p => items += TextElement(p._1))
        shapeIsTitle = false
      }

      // same mc:AlternateContent rule as the DOCX body loop: skip the
      // mc:Fallback ONLY when the mc:Choice yielded extractable content
      // (slides wrap SmartArt/modern frames in AlternateContent with a
      // cached-picture fallback: duplicate content when the Choice
      // parses, the sole recoverable representation when it does not)
      var skipDepth = 0
      var acYielded = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT if skipDepth > 0 =>
            skipDepth += 1
          case XMLStreamConstants.END_ELEMENT if skipDepth > 0 =>
            skipDepth -= 1
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "AlternateContent" => acYielded = false
              case "Fallback" => if (acYielded) skipDepth = 1
              case "ph" =>
                if (attr(r, "type").exists(t => t == "title" || t == "ctrTitle"))
                  shapeIsTitle = true
              // untagged title shapes: no ph type, but PowerPoint names the
              // layout shape "Title N" (p:cNvPr) — common in hand-built decks.
              // Only honored under p:sp/p:nvSpPr: cNvPr also appears under
              // p:graphicFrame/p:grpSp (nvGraphicFramePr/nvGrpSpPr), and a
              // "Title..."-named frame there must not promote the NEXT
              // shape's paragraphs to headings
              case "nvSpPr" => inNvSpPr = true
              case "cNvPr" if inNvSpPr && !inPic && !inTable =>
                if (attr(r, "name").exists(_.startsWith("Title")))
                  shapeIsTitle = true
              case "tbl" => inTable = true
              case "tr" if inTable =>
                tableRows += ArrayBuffer[(String, Int, Int, Boolean)]()
              case "tc" if inTable =>
                cellBuf.clear()
                tcSpan = attr(r, "gridSpan").flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
                tcRowSpan = attr(r, "rowSpan").flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
                tcMerged = (attr(r, "hMerge").toSeq ++ attr(r, "vMerge"))
                  .exists(v => v == "1" || v == "true")
              case "pic" =>
                acYielded = true
                inPic = true
                picIdx = items.length
                items += PictureElement()
              // a chart graphicFrame: the chart part's cached data emits
              // as a table in slide order
              case "chart" =>
                for (id <- attr(r, "id"); tbl <- charts(id)) {
                  acYielded = true
                  items += tbl
                }
              // a SmartArt graphicFrame: the diagram part's node texts
              // emit as a bullet list in slide order
              case "relIds" =>
                for (id <- attr(r, "dm"); lst <- diagrams(id)) {
                  acYielded = true
                  items += lst
                }
              case "blip" if inPic =>
                for (id <- attr(r, "embed"); m <- media(id))
                  if (picIdx >= 0 && picIdx < items.length)
                    items(picIdx) = PictureElement(rawMedia = Some(m))
              case "pPr" if !inTable && !inPic =>
                paraLvl = attr(r, "lvl").flatMap(_.toIntOption).getOrElse(0)
              case "rPr" => // DrawingML run props are ATTRIBUTES: b="1" i="1"
                runBold = attr(r, "b").exists(v => v == "1" || v == "true")
                runItalic = attr(r, "i").exists(v => v == "1" || v == "true")
              // run hyperlink: a:hlinkClick r:id inside the run's rPr,
              // resolved to the external URL via the slide's rels
              case "hlinkClick" =>
                runLink = attr(r, "id").flatMap(linkTarget)
              case "t" =>
                val text = r.getElementText
                if (text.nonEmpty) acYielded = true
                if (inTable) cellBuf ++= text
                else {
                  val marker = (runBold, runItalic) match {
                    case (true, true) => "***"
                    case (true, false) => "**"
                    case (false, true) => "*"
                    case _ => ""
                  }
                  val styled =
                    if (marker.nonEmpty && text.trim.nonEmpty) s"$marker${text.trim}$marker"
                    else text
                  runLink match {
                    case Some(url) if styled.trim.nonEmpty =>
                      paraBuf ++= s"[${styled.trim}]($url)"
                    case _ => paraBuf ++= styled
                  }
                  runBold = false; runItalic = false; runLink = None
                }
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "p" =>
                if (inTable) {
                  if (cellBuf.nonEmpty && !cellBuf.endsWith(" ")) cellBuf += ' '
                } else if (!inPic) {
                  shapeParas += ((paraBuf.toString.trim, paraLvl))
                  paraBuf.clear()
                  paraLvl = 0
                }
              case "tc" if inTable =>
                if (tableRows.nonEmpty)
                  tableRows.last += ((cellBuf.toString.trim, tcSpan, tcRowSpan, tcMerged))
              case "tbl" =>
                inTable = false
                tableFromPptx(tableRows.map(_.toSeq).toSeq).foreach(items += _)
                tableRows.clear()
              case "pic" => inPic = false; picIdx = -1
              case "nvSpPr" => inNvSpPr = false
              case "sp" => endShape()
              case _ => ()
            }
          case _ => ()
        }
      }
      r.close()
      endShape() // stray paragraphs outside any sp
      items.toSeq
    }
  }
}
