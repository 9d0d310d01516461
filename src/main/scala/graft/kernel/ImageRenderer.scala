package graft.kernel

import java.awt.image.{BufferedImage, DataBufferInt}
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

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
  * repeated as all-zero Up-filtered rows), never as a scaled bitmap. The
  * writer deflates that stream itself, from the source pixels, emitting
  * the replicated pixels and rows as back-references, so its cost follows
  * the source's pixels rather than the scaled output's. It is plain JVM
  * code with no native zlib, and placeholder pixels are pure integer
  * arithmetic (no fonts/antialiasing), so the PNG bytes are a pure
  * function of the pixels on every JVM.
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
    * `factor − 1` rows below it are filter Up with all-zero bytes. Colour
    * type is 2 (RGB) when every alpha is 0xFF, 6 (RGBA) otherwise; 8 bits
    * per sample, no interlace. Chunks: IHDR (first, so readers can take the
    * dimensions from a fixed offset), one IDAT, IEND.
    *
    * Neither the scaled bitmap nor its filtered bytes ever exist: the IDAT
    * zlib stream is written straight from the source pixels by
    * [[writeIdat]], with the repeats as deflate back-references, so the
    * cost follows `w × h`, not the output's `factor²` times more bytes. */
  private[kernel] def writePng(argb: Array[Int], w: Int, h: Int, factor: Int): Array[Byte] = {
    require(w > 0 && h > 0 && factor >= 1 && argb.length >= w * h,
      s"bad PNG raster ${w}x$h factor $factor")
    var opaque = true
    var i = 0
    while (opaque && i < w * h) { opaque = (argb(i) >>> 24) == 0xFF; i += 1 }
    val bpp = if (opaque) 3 else 4
    val out = new PngOut(math.min(1L << 20, w.toLong * h * bpp / 2 + 256).toInt)
    out.bytes(PngSignature)
    var at = out.beginChunk("IHDR")
    out.int(w * factor); out.int(h * factor)
    out.bytes(Array[Byte](8, (if (opaque) 2 else 6).toByte, 0, 0, 0))
    out.endChunk(at)
    at = out.beginChunk("IDAT")
    writeIdat(out, argb, w, h, factor, bpp)
    out.endChunk(at)
    out.endChunk(out.beginChunk("IEND"))
    out.result()
  }

  /** The zlib stream (RFC 1950) of the filtered scanlines described at
    * [[writePng]], deflated (RFC 1951) at source-pixel granularity: a
    * match always covers whole replicated pixels, whose bytes are equal
    * exactly when their Sub deltas are, so candidates are found and
    * extended by comparing one delta word per source pixel.
    *
    *  - Each pixel is tried against its left neighbour (`factor × bpp`
    *    bytes back), the pixel above (one source row, `factor × (rowBytes
    *    + 1)` bytes back) and the last pixel whose delta pair hashed alike
    *    (repeated shapes such as glyphs); the longest run wins, within
    *    deflate's 32 KB window.
    *  - The `(factor − 1) × bpp` zero replica bytes after a literal delta
    *    join the next match, or else repeat the left neighbour's (the
    *    above pixel's in column 0).
    *  - Each all-zero Up row is `2, 0`, then a match at distance 1.
    *
    * The Adler-32 is summed per source pixel; a run of `n` zero bytes adds
    * `n × s1` to `s2` and nothing to `s1`. */
  private def writeIdat(out: PngOut, argb: Array[Int], w: Int, h: Int, factor: Int, bpp: Int): Unit = {
    val sc = scratch.get()
    val z = new DeflateBlocks(out, sc.tokens)
    val stride = factor * bpp
    val zeros = stride - bpp
    val rowBytes = w * stride
    val period = factor * (rowBytes + 1L) // bytes from one Sub row to the next
    val rowDist = if (period <= MaxDist) period.toInt else 0 // 0: no match above
    val mask = if (bpp == 4) -1 else 0x00FFFFFF
    // Sub delta of pixel i (column x) as one ARGB word: bytewise p − left
    def delta(i: Int, x: Int): Int = {
      val p = argb(i)
      val q = if (x == 0) 0 else argb(i - 1)
      (((p | 0x80808080) - (q & 0x7F7F7F7F)) ^ ((p ^ ~q) & 0x80808080)) & mask
    }
    var cur = new Array[Int](w) // this row's deltas
    var above = new Array[Int](w)
    // hashed delta pair → (last pixel index + 1, the pair's full hash)
    val lastAt = sc.lastAt
    val lastPair = sc.lastPair
    java.util.Arrays.fill(lastAt, 0)
    var s1 = 1L
    var s2 = 0L
    out.bits(0x78, 8); out.bits(0x01, 8) // deflate, 32 KB window, fastest
    var y = 0
    while (y < h) {
      val base = y * w
      s1 += 1; s2 += s1
      var x = 0
      while (x < w) {
        val d = delta(base + x, x)
        cur(x) = d
        s1 += (d >>> 16) & 0xFF; s2 += s1
        s1 += (d >>> 8) & 0xFF; s2 += s1
        s1 += d & 0xFF; s2 += s1
        if (bpp == 4) { s1 += d >>> 24; s2 += s1 }
        s2 += zeros * s1
        x += 1
        if ((x & 4095) == 0) { s1 %= Adler; s2 %= Adler }
      }
      s1 %= Adler; s2 %= Adler

      val up = rowDist > 0 && y > 0
      z.literal(1)
      // the zero replica bytes of the last literal pixel, at column owedX,
      // not yet emitted: they repeat its left neighbour's, or the pixel's
      // above, or are spelled out in the first row
      var owed = 0
      var owedX = 0
      val owedDist = if (up) rowDist else 0
      x = 0
      while (x < w) {
        val d = cur(x)
        var best = 0
        var bestDist = 0
        var srcX = 0
        if (x > 0) {
          while (x + best < w && cur(x + best) == cur(x + best - 1)) best += 1
          bestDist = stride; srcX = x - 1
        }
        if (best < NiceRun && up) {
          var n = 0
          while (x + n < w && cur(x + n) == above(x + n)) n += 1
          if (n > best) { best = n; bestDist = rowDist; srcX = x }
        }
        if (x + 1 < w) {
          val pair = (d * 0x9E3779B1 + cur(x + 1)) * 0x9E3779B1
          val key = pair >>> (32 - HashBits)
          val j = lastAt(key) - 1
          if (best < NiceRun && j >= 0 && lastPair(key) == pair) {
            val xj = j % w
            val dist = (y - j / w) * period + (x - xj) * stride
            if (dist <= MaxDist && dist != stride && dist != rowDist) {
              var n = 0
              while (x + n < w && xj + n < w && cur(x + n) == delta(j + n, xj + n)) n += 1
              if (n >= 2 && n > best) { best = n; bestDist = dist.toInt; srcX = xj }
            }
          }
          lastAt(key) = base + x + 1
          lastPair(key) = pair
        }
        if (best > 0) {
          // owed zeros repeat too when the source pixel has a left neighbour
          if (owed > 0 && srcX > 0) z.copy(bestDist, owed + best * stride)
          else { z.zeros(owed, if (owedX > 0) stride else owedDist); z.copy(bestDist, best * stride) }
          owed = 0
          x += best
        } else {
          z.zeros(owed, if (owedX > 0) stride else owedDist)
          z.literal((d >>> 16) & 0xFF); z.literal((d >>> 8) & 0xFF); z.literal(d & 0xFF)
          if (bpp == 4) z.literal(d >>> 24)
          owed = zeros; owedX = x
          x += 1
        }
      }
      z.zeros(owed, if (owedX > 0) stride else owedDist)
      val t = above; above = cur; cur = t

      var k = 1
      while (k < factor) {
        z.literal(2); z.zeros(rowBytes, 0)
        s1 = (s1 + 2) % Adler
        s2 = (s2 + s1 + rowBytes.toLong * s1) % Adler
        k += 1
      }
      y += 1
    }
    z.finish()
    out.int(((s2 << 16) | s1).toInt)
  }

  private val HashBits = 12
  /** A run this many pixels long is taken without trying further candidates. */
  private val NiceRun = 32
  private val Adler = 65521L
  private val MaxDist = 32768

  /** Symbols per deflate block: bounds the token buffer on any raster. */
  private[kernel] val BlockSymbols = 1 << 16

  // RFC 1951 §3.2.5: length symbols 257..285 and distance codes 0..29
  private val LenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31,
    35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val LenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
    3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val DistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
    257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289, 16385, 24577)
  private val DistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
    7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
  /** Match length 3..258 → its length symbol's index into LenBase. */
  private val LenCode: Array[Byte] = {
    val t = new Array[Byte](259)
    for (c <- LenBase.indices; l <- LenBase(c) until LenBase(c) + (1 << LenExtra(c)) if l <= 258)
      t(l) = c.toByte
    t
  }
  /** Distance 1..32768 → its distance code. */
  private val DistCode: Array[Byte] = {
    val t = new Array[Byte](MaxDist + 1)
    for (c <- DistBase.indices; d <- DistBase(c) until DistBase(c) + (1 << DistExtra(c)))
      t(d) = c.toByte
    t
  }
  /** The order code-length code lengths are sent in (RFC 1951 §3.2.7). */
  private val ClOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)

  /** A thread's token buffer and match tables, reused picture after
    * picture: allocated per picture they were most of the writer's garbage
    * (~0.5 MB for a 160×120 JPEG-sourced picture at scale 4). */
  private final class Scratch {
    // literal: the byte; match: length << 16 | distance
    val tokens = new Array[Int](BlockSymbols)
    val lastAt = new Array[Int](1 << HashBits)
    val lastPair = new Array[Int](1 << HashBits)
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Deflate tokens — literal bytes and (length, distance) matches — coded
    * as one dynamic-Huffman block per [[BlockSymbols]] tokens. */
  private final class DeflateBlocks(out: PngOut, tokens: Array[Int]) {
    private var n = 0
    private val litFreq = new Array[Int](286)
    private val distFreq = new Array[Int](30)

    private def room(): Unit = if (n == BlockSymbols) block(last = false)

    def literal(b: Int): Unit = {
      room()
      tokens(n) = b; n += 1
      litFreq(b) += 1
    }

    /** `len` ≥ 3 bytes repeated from `dist` back, as legal matches. */
    def copy(dist: Int, len: Int): Unit = {
      val dc = DistCode(dist)
      var left = len
      while (left > 0) {
        val k = if (left <= 258) left else if (left < 261) left - 3 else 258
        room()
        tokens(n) = (k << 16) | dist; n += 1
        litFreq(257 + LenCode(k)) += 1
        distFreq(dc) += 1
        left -= k
      }
    }

    /** `len` zero bytes: a match at `dist` when the caller knows zeros lie
      * that far back (`dist` > 0), else a literal zero and a match at 1. */
    def zeros(len: Int, dist: Int): Unit =
      if (len > 0) {
        if (dist > 0) copy(dist, len)
        else {
          literal(0)
          if (len > 3) copy(1, len - 1)
          else { var i = 1; while (i < len) { literal(0); i += 1 } }
        }
      }

    def finish(): Unit = { block(last = true); out.align() }

    private def block(last: Boolean): Unit = {
      litFreq(256) = 1
      val litLen = codeLengths(litFreq, 15)
      val distLen = codeLengths(distFreq, 15)
      var hlit = 286
      while (litLen(hlit - 1) == 0) hlit -= 1
      var hdist = 30
      while (distLen(hdist - 1) == 0) hdist -= 1
      // run-length code both length tables as one sequence (§3.2.7):
      // 16 repeats the previous length 3-6×, 17/18 give 3-10/11-138 zeros
      val lens = new Array[Int](hlit + hdist)
      System.arraycopy(litLen, 0, lens, 0, hlit)
      System.arraycopy(distLen, 0, lens, hlit, hdist)
      val rle = new Array[Int](lens.length) // symbol | extra bits << 8
      var m = 0
      val clFreq = new Array[Int](19)
      def put(sym: Int, extra: Int): Unit = { rle(m) = sym | (extra << 8); m += 1; clFreq(sym) += 1 }
      var i = 0
      while (i < lens.length) {
        val l = lens(i)
        var run = 1
        while (i + run < lens.length && lens(i + run) == l) run += 1
        var left = run
        if (l == 0 && run >= 3) {
          while (left >= 3) {
            val r = math.min(left, 138)
            if (r <= 10) put(17, r - 3) else put(18, r - 11)
            left -= r
          }
        } else if (l != 0 && run >= 4) {
          put(l, 0); left -= 1
          while (left >= 3) { val r = math.min(left, 6); put(16, r - 3); left -= r }
        } else { put(l, 0); left -= 1 }
        i += run - left
      }
      val clLen = codeLengths(clFreq, 7)
      var hclen = 19
      while (hclen > 4 && clLen(ClOrder(hclen - 1)) == 0) hclen -= 1

      out.bits(if (last) 1 else 0, 1); out.bits(2, 2)
      out.bits(hlit - 257, 5); out.bits(hdist - 1, 5); out.bits(hclen - 4, 4)
      i = 0
      while (i < hclen) { out.bits(clLen(ClOrder(i)), 3); i += 1 }
      val clCode = codes(clLen)
      i = 0
      while (i < m) {
        val sym = rle(i) & 0xFF
        out.bits(clCode(sym), clLen(sym))
        if (sym >= 16) out.bits(rle(i) >>> 8, if (sym == 16) 2 else if (sym == 17) 3 else 7)
        i += 1
      }
      val litCode = codes(litLen)
      val distCode = codes(distLen)
      i = 0
      while (i < n) {
        val t = tokens(i)
        if (t < 256) out.bits(litCode(t), litLen(t))
        else {
          // each code with its extra bits in one write: ≤ 15 + 13 bits
          val len = t >>> 16
          val lc = LenCode(len)
          val ll = litLen(257 + lc)
          out.bits(litCode(257 + lc) | ((len - LenBase(lc)) << ll), ll + LenExtra(lc))
          val dist = t & 0xFFFF
          val dc = DistCode(dist)
          val dl = distLen(dc)
          out.bits(distCode(dc) | ((dist - DistBase(dc)) << dl), dl + DistExtra(dc))
        }
        i += 1
      }
      out.bits(litCode(256), litLen(256))
      n = 0
      java.util.Arrays.fill(litFreq, 0)
      java.util.Arrays.fill(distFreq, 0)
    }
  }

  /** Huffman code lengths for `freq` (0 = unused), none longer than
    * `maxBits`: build the tree, and while it is too deep halve every
    * frequency (rounding up, so used symbols stay used) and rebuild. At
    * least two symbols get a length, so every code is complete, as zlib's
    * inflate requires. */
  private def codeLengths(freq: Array[Int], maxBits: Int): Array[Int] = {
    val f = freq.clone()
    var used = f.count(_ > 0)
    var s = 0
    while (used < 2) { if (f(s) == 0) { f(s) = 1; used += 1 }; s += 1 }
    val lens = new Array[Int](f.length)
    while (true) {
      // leaves sorted by weight, then merged two-queue style: internal
      // nodes are made in non-decreasing weight order, after their children
      val leaves = new Array[Long](used)
      var k = 0
      s = 0
      while (s < f.length) { if (f(s) > 0) { leaves(k) = (f(s).toLong << 9) | s; k += 1 }; s += 1 }
      java.util.Arrays.sort(leaves)
      val nodes = 2 * used - 1
      val weight = new Array[Long](nodes)
      val parent = new Array[Int](nodes)
      k = 0
      while (k < used) { weight(k) = leaves(k) >>> 9; k += 1 }
      var nextLeaf = 0
      var nextInner = used
      def smallest(made: Int): Int =
        if (nextLeaf < used && (nextInner >= made || weight(nextLeaf) <= weight(nextInner))) {
          nextLeaf += 1; nextLeaf - 1
        } else { nextInner += 1; nextInner - 1 }
      var made = used
      while (made < nodes) {
        val a = smallest(made)
        val b = smallest(made)
        weight(made) = weight(a) + weight(b)
        parent(a) = made; parent(b) = made
        made += 1
      }
      val depth = new Array[Int](nodes)
      var deepest = 0
      k = nodes - 2
      while (k >= 0) {
        depth(k) = depth(parent(k)) + 1
        if (k < used) deepest = math.max(deepest, depth(k))
        k -= 1
      }
      if (deepest <= maxBits) {
        k = 0
        while (k < used) { lens((leaves(k) & 0x1FF).toInt) = depth(k); k += 1 }
        return lens
      }
      s = 0
      while (s < f.length) { f(s) = (f(s) + 1) >> 1; s += 1 }
    }
    lens
  }

  /** Canonical Huffman codes (RFC 1951 §3.2.2) for `lens`, bit-reversed
    * because deflate sends codes most significant bit first into an LSB-first
    * stream. */
  private def codes(lens: Array[Int]): Array[Int] = {
    val count = new Array[Int](16)
    lens.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](16)
    var code = 0
    var b = 1
    while (b < 16) { code = (code + count(b - 1)) << 1; next(b) = code; b += 1 }
    val out = new Array[Int](lens.length)
    var s = 0
    while (s < lens.length) {
      val l = lens(s)
      if (l > 0) { out(s) = Integer.reverse(next(l)) >>> (32 - l); next(l) += 1 }
      s += 1
    }
    out
  }

  /** A growable PNG byte buffer: big-endian ints and chunks for the
    * container, an LSB-first bit writer for the deflate stream inside it. */
  private final class PngOut(capacity: Int) {
    private var buf = new Array[Byte](math.max(64, capacity))
    private var pos = 0
    private var acc = 0L
    private var nAcc = 0

    private def room(k: Int): Unit =
      if (pos + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(pos + k, buf.length * 2))

    /** Appends the low `len` (≤ 32) bits of `v`, which has no higher bits. */
    def bits(v: Int, len: Int): Unit = {
      acc |= (v.toLong & 0xFFFFFFFFL) << nAcc
      nAcc += len
      if (nAcc >= 32) {
        room(4)
        buf(pos) = acc.toByte; buf(pos + 1) = (acc >>> 8).toByte
        buf(pos + 2) = (acc >>> 16).toByte; buf(pos + 3) = (acc >>> 24).toByte
        pos += 4; acc >>>= 32; nAcc -= 32
      }
    }

    /** Pads the bit stream to a byte boundary with zero bits. */
    def align(): Unit = {
      room(4)
      while (nAcc > 0) { buf(pos) = acc.toByte; pos += 1; acc >>>= 8; nAcc -= 8 }
      acc = 0; nAcc = 0
    }

    def bytes(b: Array[Byte]): Unit = { room(b.length); System.arraycopy(b, 0, buf, pos, b.length); pos += b.length }

    def int(v: Int): Unit = {
      room(4)
      buf(pos) = (v >>> 24).toByte; buf(pos + 1) = (v >>> 16).toByte
      buf(pos + 2) = (v >>> 8).toByte; buf(pos + 3) = v.toByte
      pos += 4
    }

    /** Writes a chunk's length placeholder and type; returns its start. */
    def beginChunk(kind: String): Int = {
      val at = pos
      int(0); bytes(kind.getBytes(StandardCharsets.US_ASCII))
      at
    }

    /** Patches the length of the chunk begun at `at` and appends its CRC. */
    def endChunk(at: Int): Unit = {
      val len = pos - at - 8
      buf(at) = (len >>> 24).toByte; buf(at + 1) = (len >>> 16).toByte
      buf(at + 2) = (len >>> 8).toByte; buf(at + 3) = len.toByte
      val crc = new CRC32()
      crc.update(buf, at + 4, len + 4)
      int(crc.getValue.toInt)
    }

    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, pos)
  }
}
