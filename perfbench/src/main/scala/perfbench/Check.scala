package perfbench

import java.util.Base64

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.kernel.ConvertKernel

/** Output checks against the generator's ground truth. Each check returns
  * None when the output is right, or the reason it is wrong. */
object Check {

  private val mapper = new ObjectMapper()

  def json(bytes: Array[Byte]): JsonNode = mapper.readTree(bytes)

  /** Width and height from a base64 PNG's IHDR chunk. */
  def pngDims(b64: String): Option[(Int, Int)] =
    try {
      val head = Base64.getDecoder.decode(b64.substring(0, math.min(b64.length, 32)))
      if (head.length < 24 || head(1) != 'P' || head(2) != 'N' || head(3) != 'G') None
      else {
        def int(o: Int) = ((head(o) & 0xFF) << 24) | ((head(o + 1) & 0xFF) << 16) |
          ((head(o + 2) & 0xFF) << 8) | (head(o + 3) & 0xFF)
        Some((int(16), int(20)))
      }
    } catch { case _: IllegalArgumentException => None }

  /** A converted document: no error, stem filename, every marker in the
    * text, one picture per embedded picture, each native size x scale. */
  def result(doc: Gen.Doc, filename: String, markdown: String,
             images: Seq[(String, String, String)], error: String, scale: Int): Option[String] = {
    val missing = doc.markers.filterNot(m => markdown != null && markdown.contains(m))
    if (error != null) Some(s"${doc.name}: error row: $error")
    else if (filename != ConvertKernel.stemOf(doc.name)) Some(s"${doc.name}: filename $filename")
    else if (missing.nonEmpty) Some(s"${doc.name}: markers missing: ${missing.mkString(",")}")
    else if (images.size != doc.pictures.size)
      Some(s"${doc.name}: ${images.size} images, expected ${doc.pictures.size}")
    else images.zip(doc.pictures).zipWithIndex.collectFirst {
      case (((tpe, name, b64), (w, h)), i)
          if tpe != "picture" || name != s"picture-${i + 1}.png" ||
            !pngDims(b64).contains((w * scale, h * scale)) =>
        s"${doc.name}: image ${i + 1} is $tpe/$name ${pngDims(b64)}, expected ${(w * scale, h * scale)}"
    }
  }

  private def str(n: JsonNode, field: String): String =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText).orNull

  def resultJson(doc: Gen.Doc, n: JsonNode, scale: Int): Option[String] = {
    val imgs = Option(n.get("images")).map(_.elements.asScala.toSeq).getOrElse(Nil)
      .map(i => (str(i, "type"), str(i, "filename"), str(i, "image")))
    result(doc, str(n, "filename"), str(n, "markdown"), imgs, str(n, "error"), scale)
  }

  def syncReply(doc: Gen.Doc, r: HttpConn.Response, scale: Int): Option[String] =
    if (r.status != 200) Some(s"${doc.name}: status ${r.status}: ${r.text.take(200)}")
    else resultJson(doc, json(r.body), scale)

  def batchReply(docs: Seq[Gen.Doc], r: HttpConn.Response, scale: Int): Option[String] =
    if (r.status != 200) Some(s"batch: status ${r.status}: ${r.text.take(200)}")
    else {
      val arr = json(r.body).elements.asScala.toSeq
      if (arr.size != docs.size) Some(s"batch: ${arr.size} results for ${docs.size} documents")
      else docs.zip(arr).iterator.map { case (d, n) => resultJson(d, n, scale) }.collectFirst { case Some(e) => e }
    }

  /** A planted invalid upload: the reference's status and exact detail. */
  def invalidReply(inv: Gen.Invalid, r: HttpConn.Response): Option[String] = {
    val detail = try str(json(r.body), "detail") catch { case _: Exception => null }
    if (r.status != inv.status || detail != inv.detail)
      Some(s"${inv.name}: got ${r.status} ${r.text.take(200)}, expected ${inv.status} ${inv.detail}")
    else None
  }

  /** A finished batch job: SUCCESS with one SUCCESS result per document. */
  def jobStatus(docs: Seq[Gen.Doc], n: JsonNode, scale: Int): Option[String] =
    if (str(n, "status") != "SUCCESS") Some(s"job: status ${str(n, "status")} ${str(n, "error")}")
    else {
      val rs = n.get("conversion_results").elements.asScala.toSeq
      if (rs.size != docs.size) Some(s"job: ${rs.size} results for ${docs.size} documents")
      else docs.zip(rs).iterator.map { case (d, jr) =>
        if (str(jr, "status") != "SUCCESS") Some(s"job: ${d.name}: ${str(jr, "status")} ${str(jr, "error")}")
        else resultJson(d, jr.get("result"), scale)
      }.collectFirst { case Some(e) => e }
    }

  def converted(doc: Gen.Doc, r: ConvertKernel.ConversionResult, scale: Int): Option[String] =
    result(doc, r.filename, r.markdown, r.images.map(i => (i.`type`, i.filename, i.image)), r.error, scale)
}
