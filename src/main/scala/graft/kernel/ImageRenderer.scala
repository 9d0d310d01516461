package graft.kernel

import java.awt.image.{BufferedImage, DataBufferInt}
import java.nio.charset.StandardCharsets
import java.util.zip.{CRC32, Deflater}

import javax.imageio.ImageIO

/** Deterministic placeholder PNG rendering for picture/table elements.
  *
  * The reference renders real page crops via Docling's layout models and
  * PIL (service.py:106-128, `generate_picture_images=True` default at
  * service.py:67, `generate_table_images=extract_tables` at :61,
  * `images_scale=image_resolution_scale` at :60). This zero-egress JVM
  * build has no layout models, so the pixel content is an honest
  * placeholder — but the full image pipeline around it (per-request
  * config, scale-dependent dimensions, per-type counters, markdown splice,
  * PNG encode, base64) is real and pinned by ConvertKernelSpec.
  *
  * What the API promises is the dimensions and the pixels, not particular
  * PNG bytes, so every PNG here comes from one small writer ([[writePng]]):
  * embedded pictures are decoded at native size and upscaled by
  * images_scale inside the PNG row stream (each row written once, then
  * repeated as all-zero Up-filtered rows), never as a scaled bitmap, and
  * compressed at a fixed fast deflate level. Placeholder pixels are pure
  * integer arithmetic (no fonts/antialiasing), so the PNG bytes are
  * identical across JVMs sharing a zlib for a given (dims, grid) input.
  */
object ImageRenderer {

  // In-memory streams only: the default ImageIO disk cache writes a temp
  // file per decode, which serializes executor-parallel image work on
  // filesystem churn.
  ImageIO.setUseCache(false)

  /** Base picture dimensions at scale 1; the reference's images_scale
    * multiplies rendered resolution the same way. */
  val PictureBaseW = 64
  val PictureBaseH = 48

  /** Cell size for table renders at scale 1. */
  val CellW = 24
  val CellH = 12

  private val MaxDim = 4096 // cap adversarial row/col counts

  // Picture bytes are a pure function of scale (4 legal values) — memoize
  // so kernel rows with many pictures don't re-encode identical PNGs.
  private val pictureCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()

  def renderPicture(scale: Int): Array[Byte] =
    pictureCache.computeIfAbsent(scale, s => {
      val (w, h) = (PictureBaseW * s, PictureBaseH * s)
      writePng(fill(w, h, grid = None), w, h, 1)
    })

  /** Decode a document-embedded image (any JVM ImageIO codec — png, jpeg,
    * gif, bmp, wbmp), scale its native dimensions by the request's
    * images_scale (the reference multiplies rendered resolution the same
    * way, service.py:60), and re-encode as PNG — the reference ships
    * document pictures as PNG base64 (service.py:106-128). Returns None
    * when the bytes aren't a decodable raster (e.g. wmf/emf vector parts,
    * which need codecs outside the base JVM) — callers fall back to the
    * placeholder. Alpha is preserved (ARGB) so transparent PNGs round-trip.
    *
    * The source is drawn once at native size (drawImage, not getRGB: the
    * two convert gray rasters differently) and the integer upscale happens
    * in the PNG row stream, which decodes to the same pixels as a
    * nearest-neighbour drawImage at native × scale. Only when that would
    * exceed [[MaxDim]] is the source drawn to the clamped size. */
  def renderEmbedded(raw: Array[Byte], scale: Int): Option[Array[Byte]] =
    try {
      val src = ImageIO.read(new java.io.ByteArrayInputStream(raw))
      if (src == null) None
      else {
        val (sw, sh) = (src.getWidth, src.getHeight)
        val replicate = scale >= 1 && sw * scale <= MaxDim && sh * scale <= MaxDim
        val (w, h, factor) =
          if (replicate) (sw, sh, scale)
          else (math.min(MaxDim, math.max(1, sw * scale)),
                math.min(MaxDim, math.max(1, sh * scale)), 1)
        val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
        val g = out.createGraphics()
        try g.drawImage(src, 0, 0, w, h, null) finally g.dispose()
        val argb = out.getRaster.getDataBuffer.asInstanceOf[DataBufferInt].getData
        Some(writePng(argb, w, h, factor))
      }
    } catch { case _: Exception => None }

  def renderTable(numRows: Int, numCols: Int, scale: Int): Array[Byte] = {
    val w = math.min(MaxDim, math.max(1, numCols) * CellW * scale)
    val h = math.min(MaxDim, (math.max(1, numRows) + 1) * CellH * scale)
    writePng(fill(w, h, grid = Some((CellW * scale, CellH * scale))), w, h, 1)
  }

  /** Opaque white w×h ARGB pixels with a gray 1-px border and, when
    * given, gray grid lines every (cw, ch) pixels. */
  private def fill(w: Int, h: Int, grid: Option[(Int, Int)]): Array[Int] = {
    val white = 0xFFFFFFFF
    val gray = 0xFF808080
    val px = new Array[Int](w * h)
    val (cw, ch) = grid.getOrElse((0, 0))
    var y = 0
    while (y < h) {
      val rowLine = y == 0 || y == h - 1 || (ch > 0 && y % ch == 0)
      var x = 0
      while (x < w) {
        val line = rowLine || x == 0 || x == w - 1 || (cw > 0 && x % cw == 0)
        px(y * w + x) = if (line) gray else white
        x += 1
      }
      y += 1
    }
    px
  }

  private val PngSignature =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n').map(_.toByte)

  /** Non-premultiplied ARGB pixels (row-major, `w` × `h`) → PNG bytes of
    * the image upscaled `factor`× by pixel replication.
    *
    * Each source row is emitted once with filter Sub and every pixel
    * repeated `factor` times, so the deltas inside a run are zero; the
    * `factor − 1` rows below it are filter Up with all-zero bytes. The
    * scaled bitmap never exists. Colour type is 2 (RGB) when every alpha
    * is 0xFF, 6 (RGBA) otherwise; 8 bits per sample, no interlace.
    * Chunks: IHDR (first, so readers can take the dimensions from a fixed
    * offset), one IDAT (zlib at BEST_SPEED), IEND. */
  private[kernel] def writePng(argb: Array[Int], w: Int, h: Int, factor: Int): Array[Byte] = {
    require(w > 0 && h > 0 && factor >= 1 && argb.length >= w * h,
      s"bad PNG raster ${w}x$h factor $factor")
    var opaque = true
    var i = 0
    while (opaque && i < w * h) { opaque = (argb(i) >>> 24) == 0xFF; i += 1 }
    val bpp = if (opaque) 3 else 4
    val rowBytes = w * factor * bpp
    // the bytes of replicas 2..factor of every pixel stay zero for good;
    // only the first replica's Sub delta is rewritten per row
    val subRow = new Array[Byte](1 + rowBytes)
    subRow(0) = 1
    val upRow = new Array[Byte](1 + rowBytes)
    upRow(0) = 2
    val stride = factor * bpp
    val z = new java.io.ByteArrayOutputStream(math.min(1 << 20, w * h * bpp / 4 + 64))
    val buf = new Array[Byte](16384)
    val deflater = new Deflater(Deflater.BEST_SPEED)
    try {
      def feed(row: Array[Byte]): Unit = {
        deflater.setInput(row)
        while (!deflater.needsInput()) z.write(buf, 0, deflater.deflate(buf))
      }
      var y = 0
      while (y < h) {
        var prev = 0
        var x = 0
        var off = 1
        val base = y * w
        while (x < w) {
          val p = argb(base + x)
          subRow(off) = ((p >>> 16) - (prev >>> 16)).toByte
          subRow(off + 1) = ((p >>> 8) - (prev >>> 8)).toByte
          subRow(off + 2) = (p - prev).toByte
          if (bpp == 4) subRow(off + 3) = ((p >>> 24) - (prev >>> 24)).toByte
          prev = p
          off += stride
          x += 1
        }
        feed(subRow)
        var r = 1
        while (r < factor) { feed(upRow); r += 1 }
        y += 1
      }
      deflater.finish()
      while (!deflater.finished()) z.write(buf, 0, deflater.deflate(buf))
    } finally deflater.end()

    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w * factor).putInt(h * factor)
      .put(8.toByte).put((if (opaque) 2 else 6).toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val bos = new java.io.ByteArrayOutputStream(z.size + 64)
    val out = new java.io.DataOutputStream(bos)
    out.write(PngSignature)
    chunk(out, "IHDR", ihdr)
    chunk(out, "IDAT", z.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    bos.toByteArray
  }

  private def chunk(out: java.io.DataOutputStream, kind: String, data: Array[Byte]): Unit = {
    val tag = kind.getBytes(StandardCharsets.US_ASCII)
    val crc = new CRC32()
    crc.update(tag)
    crc.update(data)
    out.writeInt(data.length)
    out.write(tag)
    out.write(data)
    out.writeInt(crc.getValue.toInt)
  }
}
