package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** A minimal HTTP/1.1 client over one persistent keep-alive connection, as a
  * real client library keeps one. One request at a time; the caller's
  * thread does all the work, so the load generator's thread and connection
  * count is exactly what it opens. */
final class HttpConn(port: Int, timeoutMs: Int = 60000) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(timeoutMs)
  sock.connect(new InetSocketAddress("127.0.0.1", port), timeoutMs)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)

  def request(method: String, path: String, contentType: Option[String] = None,
              body: Array[Byte] = Array.emptyByteArray): HttpConn.Response = {
    val head = new StringBuilder(s"$method $path HTTP/1.1\r\nHost: localhost\r\n")
    contentType.foreach(ct => head ++= s"Content-Type: $ct\r\n")
    if (method != "GET") head ++= s"Content-Length: ${body.length}\r\n"
    head ++= "\r\n"
    out.write(head.toString.getBytes(ISO_8859_1))
    out.write(body)
    out.flush()
    readResponse()
  }

  private def readLine(): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed mid-response")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    new String(b.toByteArray, ISO_8859_1)
  }

  private def readN(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new java.io.EOFException("connection closed mid-body")
      off += r
    }
    buf
  }

  private def readResponse(): HttpConn.Response = {
    val status = readLine().split(" ")(1).toInt
    var length = -1
    var chunked = false
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0) {
        val (k, v) = (line.substring(0, i).trim.toLowerCase, line.substring(i + 1).trim)
        if (k == "content-length") length = v.toInt
        if (k == "transfer-encoding" && v.toLowerCase.contains("chunked")) chunked = true
      }
      line = readLine()
    }
    val body =
      if (chunked) {
        val b = new ByteArrayOutputStream()
        var n = Integer.parseInt(readLine().split(";")(0).trim, 16)
        while (n > 0) { b.write(readN(n)); readLine(); n = Integer.parseInt(readLine().split(";")(0).trim, 16) }
        readLine()
        b.toByteArray
      } else if (length >= 0) readN(length)
      else Array.emptyByteArray
    HttpConn.Response(status, body)
  }

  def close(): Unit = sock.close()
}

object HttpConn {
  final case class Response(status: Int, body: Array[Byte]) {
    def text: String = new String(body, UTF_8)
  }

  /** A multipart/form-data body with one file part per upload under
    * `field`; returns (Content-Type, body). */
  def multipart(field: String, files: Seq[(String, Array[Byte])], boundary: String): (String, Array[Byte]) = {
    val b = new ByteArrayOutputStream()
    files.foreach { case (name, bytes) =>
      b.write(s"--$boundary\r\nContent-Disposition: form-data; name=\"$field\"; filename=\"$name\"\r\n".getBytes(UTF_8))
      b.write("Content-Type: application/octet-stream\r\n\r\n".getBytes(UTF_8))
      b.write(bytes)
      b.write("\r\n".getBytes(UTF_8))
    }
    b.write(s"--$boundary--\r\n".getBytes(UTF_8))
    (s"multipart/form-data; boundary=$boundary", b.toByteArray)
  }
}
