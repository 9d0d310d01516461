package graft.kernel

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.zip.{CRC32, Deflater, Inflater}

import javax.imageio.ImageIO

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the PNG writer behind every kernel image: decoded pixels equal
  * the earlier path (nearest-neighbour drawImage to native × scale, then
  * ImageIO's PNG writer — kept here as the reference) across source
  * codecs, raster types, scales 1-4 and the MaxDim clamp; the container
  * is well-formed (IHDR first, colour type 2 or 6 by alpha, valid CRCs)
  * and the output is a pure function of the input. The IDAT stream is
  * also checked byte for byte (Adler-32 included) against the filtered
  * scanlines built here independently, and its size against
  * `Deflater(BEST_SPEED)` over those same scanlines. */
class ImageRendererSpec extends AnyFunSuite {

  private val MaxDim = 4096

  private def decode(png: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    assert(img != null, "output is not a decodable PNG")
    img
  }

  private def encodeAs(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, format, bos), s"no $format writer for type ${img.getType}")
    bos.toByteArray
  }

  /** The pre-replication renderEmbedded: scaled drawImage + ImageIO.write. */
  private def reference(raw: Array[Byte], scale: Int): BufferedImage = {
    val src = ImageIO.read(new ByteArrayInputStream(raw))
    val w = math.min(MaxDim, math.max(1, src.getWidth * scale))
    val h = math.min(MaxDim, math.max(1, src.getHeight * scale))
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    val g = out.createGraphics()
    try g.drawImage(src, 0, 0, w, h, null) finally g.dispose()
    decode(encodeAs(out, "png"))
  }

  private def assertSamePixels(want: BufferedImage, got: BufferedImage, clue: String): Unit = {
    assert((got.getWidth, got.getHeight) == (want.getWidth, want.getHeight), clue)
    var mismatches = 0
    var first = ""
    for (y <- 0 until want.getHeight; x <- 0 until want.getWidth) {
      val (a, b) = (want.getRGB(x, y), got.getRGB(x, y))
      if (a != b) {
        if (mismatches == 0) first = f"($x,$y) want $a%08x got $b%08x"
        mismatches += 1
      }
    }
    assert(mismatches == 0, s"$clue: $mismatches pixel mismatches, first $first")
  }

  private final case class Chunk(kind: String, data: Array[Byte], crc: Int)

  private def chunks(png: Array[Byte]): Seq[Chunk] = {
    val sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n').map(_.toByte)
    assert(png.take(8).sameElements(sig), "bad PNG signature")
    val bb = ByteBuffer.wrap(png, 8, png.length - 8)
    val out = Seq.newBuilder[Chunk]
    while (bb.hasRemaining) {
      val len = bb.getInt()
      val tag = new Array[Byte](4); bb.get(tag)
      val data = new Array[Byte](len); bb.get(data)
      out += Chunk(new String(tag, StandardCharsets.US_ASCII), data, bb.getInt())
    }
    out.result()
  }

  private def crcOk(c: Chunk): Boolean = {
    val crc = new CRC32()
    crc.update(c.kind.getBytes(StandardCharsets.US_ASCII))
    crc.update(c.data)
    crc.getValue.toInt == c.crc
  }

  private def colourType(png: Array[Byte]): Int = png(25) & 0xFF

  // deterministic source content: seeded noise plus flat runs, so both
  // Sub deltas and zero runs occur
  private def noise(w: Int, h: Int, imageType: Int, seed: Long)(px: (Int, Int, Int) => Int): BufferedImage = {
    val img = new BufferedImage(w, h, imageType)
    val rnd = new scala.util.Random(seed)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, px(x, y, if (x % 7 < 3) 0x3C8AF0 else rnd.nextInt()))
    img
  }

  private val W = 37
  private val H = 23
  private def opaque(t: Int, seed: Long) = noise(W, H, t, seed)((_, _, v) => 0xFF000000 | v)
  private def translucent(t: Int, seed: Long) = noise(W, H, t, seed) { (x, y, v) =>
    val a = (x + y) % 4 match { case 0 => 0x00; case 1 => 0xFF; case 2 => 0x80; case _ => v >>> 24 }
    (a << 24) | (v & 0xFFFFFF)
  }

  private val ushortGray: BufferedImage = {
    val img = new BufferedImage(W, H, BufferedImage.TYPE_USHORT_GRAY)
    val rnd = new scala.util.Random(7)
    for (y <- 0 until H; x <- 0 until W)
      img.getRaster.setSample(x, y, 0, if (y % 5 == 0) 40000 else rnd.nextInt(65536))
    img
  }

  /** (name, encoded source bytes, sources with non-opaque alpha) */
  private val cases: Seq[(String, Array[Byte], Boolean)] = Seq(
    ("png BYTE_GRAY", encodeAs(opaque(BufferedImage.TYPE_BYTE_GRAY, 1), "png"), false),
    ("png USHORT_GRAY", encodeAs(ushortGray, "png"), false),
    ("png BYTE_INDEXED", encodeAs(opaque(BufferedImage.TYPE_BYTE_INDEXED, 2), "png"), false),
    ("png BYTE_BINARY", encodeAs(opaque(BufferedImage.TYPE_BYTE_BINARY, 3), "png"), false),
    ("png INT_RGB", encodeAs(opaque(BufferedImage.TYPE_INT_RGB, 4), "png"), false),
    ("png INT_ARGB partial alpha", encodeAs(translucent(BufferedImage.TYPE_INT_ARGB, 5), "png"), true),
    ("png 4BYTE_ABGR", encodeAs(translucent(BufferedImage.TYPE_4BYTE_ABGR, 6), "png"), true),
    ("jpeg", encodeAs(opaque(BufferedImage.TYPE_INT_RGB, 8), "jpg"), false),
    ("bmp", encodeAs(opaque(BufferedImage.TYPE_INT_RGB, 9), "bmp"), false),
    ("gif", encodeAs(opaque(BufferedImage.TYPE_BYTE_INDEXED, 10), "gif"), false))

  for ((name, raw, alpha) <- cases; scale <- 1 to 4)
    test(s"$name at scale $scale decodes to the reference pixels") {
      val png = ImageRenderer.renderEmbedded(raw, scale).getOrElse(fail("not rendered"))
      assertSamePixels(reference(raw, scale), decode(png), s"$name x$scale")
      assert(colourType(png) == (if (alpha) 6 else 2), s"$name x$scale colour type")
    }

  test("native x scale beyond MaxDim clamps exactly as before") {
    // 1100 x 4 = 4400 > 4096: width clamps, height scales
    val raw = encodeAs(noise(1100, 9, BufferedImage.TYPE_INT_RGB, 11)((_, _, v) => v), "png")
    val png = ImageRenderer.renderEmbedded(raw, 4).getOrElse(fail("not rendered"))
    val got = decode(png)
    assert((got.getWidth, got.getHeight) == (4096, 36))
    assertSamePixels(reference(raw, 4), got, "clamped")
  }

  test("every chunk's CRC32 checks out, IHDR first, one IDAT, IEND last") {
    val outputs = cases.map { case (_, raw, _) => ImageRenderer.renderEmbedded(raw, 3).get } ++
      Seq(ImageRenderer.renderPicture(2), ImageRenderer.renderTable(3, 4, 1))
    outputs.foreach { png =>
      val cs = chunks(png)
      assert(cs.map(_.kind) == Seq("IHDR", "IDAT", "IEND"))
      cs.foreach(c => assert(crcOk(c), s"${c.kind} CRC mismatch"))
    }
  }

  test("the same input gives byte-identical output twice") {
    cases.foreach { case (name, raw, _) =>
      val a = ImageRenderer.renderEmbedded(raw, 4).get
      val b = ImageRenderer.renderEmbedded(raw, 4).get
      assert(a.sameElements(b), name)
    }
    assert(ImageRenderer.renderTable(5, 2, 3).sameElements(ImageRenderer.renderTable(5, 2, 3)))
  }

  test("writePng replicates each pixel factor x factor, RGB when opaque") {
    val (w, h) = (5, 3)
    val rnd = new scala.util.Random(12)
    val argb = Array.fill(w * h)(0xFF000000 | rnd.nextInt(0x1000000))
    val png = ImageRenderer.writePng(argb, w, h, 3)
    assert(colourType(png) == 2)
    val img = decode(png)
    assert((img.getWidth, img.getHeight) == (15, 9))
    for (y <- 0 until 9; x <- 0 until 15)
      assert(img.getRGB(x, y) == argb((y / 3) * w + x / 3), s"($x,$y)")
  }

  test("placeholder picture: gray 1-px border around a white interior") {
    val img = decode(ImageRenderer.renderPicture(1))
    assert((img.getWidth, img.getHeight) == (64, 48))
    assert(img.getRGB(0, 0) == 0xFF808080)
    assert(img.getRGB(63, 47) == 0xFF808080)
    assert(img.getRGB(32, 24) == 0xFFFFFFFF)
  }

  // ------------------------------------------------ the IDAT deflate stream

  /** The scanlines writePng promises, built the plain way: per source row
    * a Sub row with every pixel repeated `factor` times, then `factor − 1`
    * all-zero Up rows; RGB when every alpha is 0xFF, else RGBA. */
  private def filtered(argb: Array[Int], w: Int, h: Int, factor: Int): Array[Byte] = {
    val bpp = if (argb.take(w * h).forall(_ >>> 24 == 0xFF)) 3 else 4
    val out = new ByteArrayOutputStream()
    for (y <- 0 until h) {
      out.write(1)
      var left = 0
      for (x <- 0 until w) {
        val p = argb(y * w + x)
        for (k <- 0 until factor) {
          val q = if (k == 0) left else p
          Seq(16, 8, 0).foreach(s => out.write((p >>> s) - (q >>> s)))
          if (bpp == 4) out.write((p >>> 24) - (q >>> 24))
        }
        left = p
      }
      for (_ <- 1 until factor) { out.write(2); out.write(new Array[Byte](w * factor * bpp)) }
    }
    out.toByteArray
  }

  private def idat(png: Array[Byte]): Array[Byte] = {
    val cs = chunks(png)
    assert(cs.map(_.kind) == Seq("IHDR", "IDAT", "IEND"))
    cs(1).data
  }

  /** The zlib stream's content; Inflater verifies the Adler-32. */
  private def inflate(z: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(z)
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        assert(n > 0 || !(inf.needsInput() || inf.needsDictionary()), "truncated zlib stream")
        out.write(buf, 0, n)
      }
      assert(inf.getRemaining == 0, "bytes after the zlib stream")
      out.toByteArray
    } finally inf.end()
  }

  private def bestSpeedSize(data: Array[Byte]): Int = {
    val d = new Deflater(Deflater.BEST_SPEED)
    try {
      d.setInput(data); d.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0
      while (!d.finished()) n += d.deflate(buf)
      n
    } finally d.end()
  }

  private def roundTrips(argb: Array[Int], w: Int, h: Int, factor: Int): Boolean =
    inflate(idat(ImageRenderer.writePng(argb, w, h, factor))).sameElements(filtered(argb, w, h, factor))

  /** Seeded pixels of one kind: opaque noise, translucent noise, one flat
    * colour, or two colours at random (so deltas repeat to the left,
    * above and at random distances). */
  private def pixels(kind: Int, w: Int, h: Int, seed: Long): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    val (c0, c1) = (rnd.nextInt(), rnd.nextInt())
    kind match {
      case 0 => Array.fill(w * h)(0xFF000000 | rnd.nextInt())
      case 1 => Array.fill(w * h)(rnd.nextInt())
      case 2 => Array.fill(w * h)(c0)
      case _ => Array.fill(w * h)(if (rnd.nextInt(4) == 0) c1 else c0)
    }
  }

  test("IDAT inflates to the filtered scanlines for random rasters (property)") {
    val prop = Prop.forAll(Gen.choose(1, 64), Gen.choose(1, 64), Gen.choose(1, 4),
        Gen.choose(0, 3), Gen.long) { (w, h, factor, kind, seed) =>
      Prop(roundTrips(pixels(kind, w, h, seed), w, h, factor)) :| s"${w}x$h factor $factor kind $kind seed $seed"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status)
  }

  test("4096-wide output rows: matches only inside the 32 KB window") {
    // rows 0-2 and 4 repeat: the row above is 16385 bytes back at
    // 4096 x 1 RGBA (legal), 32770 at 2048 x 2 and 65540 at 1024 x 4 (not)
    for ((w, factor) <- Seq(4096 -> 1, 2048 -> 2, 1024 -> 4); kind <- 0 to 1) {
      val a = pixels(kind, w, 1, w + kind).map(p => if ((p & 0x300) == 0) 0xFF123456 else p)
      val b = pixels(kind, w, 1, 7L * w + kind)
      val argb = Array(a, a, a, b, a).flatten
      assert(roundTrips(argb, w, 5, factor), s"${w}x5 factor $factor kind $kind")
    }
  }

  test("a raster spanning several deflate blocks round-trips") {
    val (w, h) = (200, 200) // 160,000 literals for translucent noise
    assert(w * h * 4 > 2 * ImageRenderer.BlockSymbols)
    for (factor <- Seq(1, 3)) assert(roundTrips(pixels(1, w, h, 5), w, h, factor), s"factor $factor")
  }

  /** perfbench's Gen.raster: smooth gradients plus six solid blocks. */
  private def gradient(w: Int, h: Int, seed: Long): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    val (a, b, c) = (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
    val px = Array.tabulate(w * h) { i =>
      val (x, y) = (i % w, i / w)
      0xFF000000 | (((a + x) & 0xFF) << 16) | (((b + y) & 0xFF) << 8) | ((c + x + y) & 0xFF)
    }
    for (_ <- 0 until 6) {
      val col = 0xFF000000 | rnd.nextInt(1 << 24)
      val (x0, y0) = (rnd.nextInt(w), rnd.nextInt(h))
      val (bw, bh) = (1 + rnd.nextInt(w / 3 + 1), 1 + rnd.nextInt(h / 3 + 1))
      for (y <- y0 until math.min(h, y0 + bh); x <- x0 until math.min(w, x0 + bw)) px(y * w + x) = col
    }
    px
  }

  /** Black 5x7 glyphs from a 26-shape alphabet on white, in lines of text. */
  private def text(w: Int, h: Int, seed: Long): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    val glyphs = Array.fill(26, 35)(rnd.nextInt(3) == 0)
    val px = Array.fill(w * h)(0xFFFFFFFF)
    for (line <- 2 until h - 7 by 11) {
      var x = 2
      while (x + 5 < w) {
        if (rnd.nextInt(6) == 0) x += 4
        else {
          val g = glyphs(rnd.nextInt(26))
          for (gy <- 0 until 7; gx <- 0 until 5 if g(gy * 5 + gx)) px((line + gy) * w + x + gx) = 0xFF000000
          x += 6
        }
      }
    }
    px
  }

  test("IDAT is at most 10% larger than Deflater BEST_SPEED's") {
    val (w, h) = (160, 120)
    val rasters = Seq("gradient" -> gradient(w, h, 1), "noise" -> pixels(0, w, h, 2),
      "flat" -> pixels(2, w, h, 3), "text" -> text(w, h, 4))
    for ((name, argb) <- rasters; factor <- Seq(1, 4)) {
      val got = idat(ImageRenderer.writePng(argb, w, h, factor)).length
      val ref = bestSpeedSize(filtered(argb, w, h, factor))
      assert(got <= 1.10 * ref, s"$name x$factor: $got bytes vs $ref")
    }
  }
}
