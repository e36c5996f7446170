package graft.ext

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{CRC32, Deflater}

import org.scalatest.funsuite.AnyFunSuite

/** The pure-JVM PNG codec, cross-validated against the JDK's own
  * independent implementation (javax.imageio) in BOTH directions, plus
  * hand-built streams covering every scanline filter type and the
  * palette path, plus rejection tests for the unsupported/corrupt
  * variants that must flow to the fallback, never half-decode.
  */
class PngSpec extends AnyFunSuite {

  private def rng(seed: Long) = new scala.util.Random(seed)

  private def randomImage(seed: Long, w: Int, h: Int, ch: Int): Png.Image = {
    val r = rng(seed)
    val px = new Array[Byte](w * h * ch)
    r.nextBytes(px)
    Png.Image(w, h, ch, px)
  }

  test("encode→decode roundtrips exactly for all channel counts (fuzzed)") {
    for (seed <- 1 to 8; ch <- 1 to 4) {
      val r = rng(seed * 31 + ch)
      val w = 1 + r.nextInt(40)
      val h = 1 + r.nextInt(40)
      val img = randomImage(seed * 1000 + ch, w, h, ch)
      val back = Png.decode(Png.encode(img))
      assert(back.isDefined, s"seed=$seed ch=$ch ${w}x$h")
      assert(back.get.width == w && back.get.height == h && back.get.channels == ch)
      assert(java.util.Arrays.equals(back.get.pixels, img.pixels),
        s"pixel mismatch seed=$seed ch=$ch ${w}x$h")
    }
  }

  test("our encodes are readable by the JDK's independent decoder (ImageIO)") {
    System.setProperty("java.awt.headless", "true")
    val img = randomImage(7, 13, 9, 3)
    val jdk = javax.imageio.ImageIO.read(new ByteArrayInputStream(Png.encode(img)))
    assert(jdk != null && jdk.getWidth == 13 && jdk.getHeight == 9)
    for (y <- 0 until 9; x <- 0 until 13) {
      val p = (y * 13 + x) * 3
      val expected = 0xFF000000 |
        ((img.pixels(p) & 0xFF) << 16) |
        ((img.pixels(p + 1) & 0xFF) << 8) |
        (img.pixels(p + 2) & 0xFF)
      assert(jdk.getRGB(x, y) == expected, s"($x,$y)")
    }
  }

  test("we decode the JDK encoder's output (independent filter choices)") {
    System.setProperty("java.awt.headless", "true")
    val w = 24; val h = 17
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val r = rng(99)
    for (y <- 0 until h; x <- 0 until w)
      bi.setRGB(x, y, r.nextInt() & 0xFFFFFF)
    val bos = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", bos))
    val ours = Png.decode(bos.toByteArray)
    assert(ours.isDefined, "JDK PNG must decode")
    val img = ours.get
    assert(img.width == w && img.height == h && img.channels == 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      val got = ((img.pixels(p) & 0xFF) << 16) |
        ((img.pixels(p + 1) & 0xFF) << 8) | (img.pixels(p + 2) & 0xFF)
      assert(got == (bi.getRGB(x, y) & 0xFFFFFF), s"($x,$y)")
    }
  }

  // -- hand-built streams: forward-filter each scanline with a chosen
  //    filter type, deflate, wrap in chunks — exercises every unfilter arm

  private def chunk(out: ByteArrayOutputStream, t: String, data: Array[Byte]): Unit = {
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    out.write(be32(data.length))
    val tb = t.getBytes("US-ASCII")
    out.write(tb)
    out.write(data)
    val crc = new CRC32(); crc.update(tb); crc.update(data)
    out.write(be32(crc.getValue.toInt))
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(); d.setInput(raw); d.finish()
    val bos = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end(); bos.toByteArray
  }

  private def buildPng(w: Int, h: Int, colorType: Int, raw: Array[Byte],
      plte: Option[Array[Byte]] = None, trns: Option[Array[Byte]] = None,
      bitDepth: Int = 8, interlace: Int = 0): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
    val ihdr = new Array[Byte](13)
    def putBe32(b: Array[Byte], i: Int, v: Int): Unit = {
      b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
      b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
    }
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = bitDepth.toByte; ihdr(9) = colorType.toByte; ihdr(12) = interlace.toByte
    chunk(out, "IHDR", ihdr)
    plte.foreach(chunk(out, "PLTE", _))
    trns.foreach(chunk(out, "tRNS", _))
    chunk(out, "IDAT", deflate(raw))
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def forwardFilter(px: Array[Byte], w: Int, h: Int, bpp: Int,
      filterOf: Int => Int): Array[Byte] = {
    val stride = w * bpp
    val raw = new Array[Byte]((stride + 1) * h)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    for (y <- 0 until h) {
      val f = filterOf(y)
      raw(y * (stride + 1)) = f.toByte
      for (x <- 0 until stride) {
        val cur = px(y * stride + x) & 0xFF
        val a = if (x >= bpp) px(y * stride + x - bpp) & 0xFF else 0
        val b = if (y > 0) px((y - 1) * stride + x) & 0xFF else 0
        val c = if (y > 0 && x >= bpp) px((y - 1) * stride + x - bpp) & 0xFF else 0
        val v = f match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - ((a + b) >> 1)
          case 4 => cur - paeth(a, b, c)
        }
        raw(y * (stride + 1) + 1 + x) = (v & 0xFF).toByte
      }
    }
    raw
  }

  test("every scanline filter type (0–4) unfilters back to the pixels") {
    val img = randomImage(1234, 9, 7, 3)
    for (f <- 0 to 4) {
      val raw = forwardFilter(img.pixels, 9, 7, 3, _ => f)
      val got = Png.decode(buildPng(9, 7, colorType = 2, raw))
      assert(got.isDefined, s"filter $f")
      assert(java.util.Arrays.equals(got.get.pixels, img.pixels), s"filter $f")
    }
    // mixed filters per scanline (the real-world adaptive case)
    val rawMixed = forwardFilter(img.pixels, 9, 7, 3, y => y % 5)
    val got = Png.decode(buildPng(9, 7, colorType = 2, rawMixed))
    assert(got.isDefined && java.util.Arrays.equals(got.get.pixels, img.pixels))
  }

  test("palette decode expands PLTE (and tRNS to alpha)") {
    // 4 palette entries; 2x2 image of indices 0..3, filter 0
    val plte = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val idx = Array[Byte](0, 0, 1, 0, 2, 3) // filter byte + 2 idx, twice
    val noAlpha = Png.decode(buildPng(2, 2, colorType = 3, idx, plte = Some(plte)))
    assert(noAlpha.isDefined && noAlpha.get.channels == 3)
    assert(noAlpha.get.pixels.toSeq == Seq[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120))
    val withAlpha = Png.decode(buildPng(2, 2, colorType = 3, idx,
      plte = Some(plte), trns = Some(Array[Byte](0x11, 0x22))))
    assert(withAlpha.isDefined && withAlpha.get.channels == 4)
    val px = withAlpha.get.pixels
    assert(px(3) == 0x11 && px(7) == 0x22)
    assert(px(11) == 0xFF.toByte && px(15) == 0xFF.toByte, "entries past tRNS are opaque")
  }

  test("16-bit samples decode with the high-byte scale-down, every filter") {
    // 16-bit big-endian sample stream: high bytes are the expected 8-bit
    // pixels, low bytes are noise the scale-down must discard
    for (ch <- Seq(1, 3); f <- 0 to 4) {
      val img = randomImage(500 + ch * 10 + f, 7, 5, ch)
      val r = rng(900 + f)
      val wide = new Array[Byte](img.pixels.length * 2)
      img.pixels.zipWithIndex.foreach { case (b, i) =>
        wide(i * 2) = b; wide(i * 2 + 1) = r.nextInt(256).toByte
      }
      val raw = forwardFilter(wide, 7, 5, ch * 2, _ => f)
      val colorType = if (ch == 1) 0 else 2
      val got = Png.decode(buildPng(7, 5, colorType, raw, bitDepth = 16))
      assert(got.isDefined, s"ch=$ch filter=$f")
      assert(got.get.width == 7 && got.get.height == 5 && got.get.channels == ch)
      assert(java.util.Arrays.equals(got.get.pixels, img.pixels),
        s"high-byte mismatch ch=$ch filter=$f")
    }
  }

  /** Adam7 pass geometry, implemented independently of the decoder:
    * returns (x0, y0, dx, dy, w, h) for each non-empty pass.
    */
  private def adam7Passes(w: Int, h: Int): Seq[(Int, Int, Int, Int, Int, Int)] = {
    val xs = Seq(0, 4, 0, 2, 0, 1, 0); val ys = Seq(0, 0, 4, 0, 2, 0, 1)
    val dxs = Seq(8, 8, 4, 4, 2, 2, 1); val dys = Seq(8, 8, 8, 4, 4, 2, 2)
    (0 until 7).map { p =>
      val pw = if (w > xs(p)) (w - xs(p) + dxs(p) - 1) / dxs(p) else 0
      val ph = if (h > ys(p)) (h - ys(p) + dys(p) - 1) / dys(p) else 0
      (xs(p), ys(p), dxs(p), dys(p), pw, ph)
    }.filter(t => t._5 > 0 && t._6 > 0)
  }

  test("Adam7 interlaced streams deinterlace to the sequential pixels") {
    // sizes straddling the 8x8 pass grid: tiny, exact multiple, ragged
    for ((w, h) <- Seq((3, 2), (8, 8), (13, 11), (1, 9)); ch <- Seq(1, 3, 4)) {
      val img = randomImage(w * 100 + h * 10 + ch, w, h, ch)
      val bos = new ByteArrayOutputStream()
      adam7Passes(w, h).foreach { case (x0, y0, dx, dy, pw, ph) =>
        // gather this pass's pixels, filter each scanline with its index
        // mod 5 (exercises every unfilter arm against pass-local geometry)
        val passPx = new Array[Byte](pw * ph * ch)
        for (py <- 0 until ph; px <- 0 until pw; c <- 0 until ch)
          passPx((py * pw + px) * ch + c) =
            img.pixels(((y0 + py * dy) * w + (x0 + px * dx)) * ch + c)
        bos.write(forwardFilter(passPx, pw, ph, ch, y => y % 5))
      }
      val colorType = ch match { case 1 => 0; case 3 => 2; case 4 => 6 }
      val got = Png.decode(buildPng(w, h, colorType, bos.toByteArray, interlace = 1))
      assert(got.isDefined, s"${w}x$h ch=$ch")
      assert(java.util.Arrays.equals(got.get.pixels, img.pixels),
        s"deinterlace mismatch ${w}x$h ch=$ch")
    }
  }

  test("16-bit Adam7 combines both arms (scale-down + deinterlace)") {
    val (w, h, ch) = (10, 6, 3)
    val img = randomImage(777, w, h, ch)
    val r = rng(778)
    val bos = new ByteArrayOutputStream()
    adam7Passes(w, h).foreach { case (x0, y0, dx, dy, pw, ph) =>
      val passPx = new Array[Byte](pw * ph * ch * 2)
      for (py <- 0 until ph; px <- 0 until pw; c <- 0 until ch) {
        val v = img.pixels(((y0 + py * dy) * w + (x0 + px * dx)) * ch + c)
        passPx(((py * pw + px) * ch + c) * 2) = v
        passPx(((py * pw + px) * ch + c) * 2 + 1) = r.nextInt(256).toByte
      }
      bos.write(forwardFilter(passPx, pw, ph, ch * 2, y => (y + 3) % 5))
    }
    val got = Png.decode(buildPng(w, h, 2, bos.toByteArray,
      bitDepth = 16, interlace = 1))
    assert(got.isDefined)
    assert(java.util.Arrays.equals(got.get.pixels, img.pixels))
  }

  /** Pack 8-bit sample values (< 2^bits) MSB-first into PNG scanbytes. */
  private def packRows(samples: Array[Int], w: Int, h: Int, bits: Int): Array[Byte] = {
    val stride = (w * bits + 7) / 8
    val out = new Array[Byte](stride * h)
    for (y <- 0 until h; x <- 0 until w) {
      val bitPos = x * bits
      val shift = 8 - bits - (bitPos & 7)
      out(y * stride + (bitPos >> 3)) =
        (out(y * stride + (bitPos >> 3)) | (samples(y * w + x) << shift)).toByte
    }
    out
  }

  test("sub-byte gray decodes with max-value expansion, every depth and filter") {
    for (bits <- Seq(1, 2, 4); f <- 0 to 4) {
      val (w, h) = (11, 5) // ragged: 11 samples never fill whole bytes
      val r = rng(bits * 100 + f)
      val samples = Array.fill(w * h)(r.nextInt(1 << bits))
      val packed = packRows(samples, w, h, bits)
      val stride = (w * bits + 7) / 8
      // filters run over the PACKED bytes with bpp = 1
      val raw = forwardFilter(packed, stride, h, 1, _ => f)
      val got = Png.decode(buildPng(w, h, 0, raw, bitDepth = bits))
      assert(got.isDefined, s"bits=$bits filter=$f")
      val expect = samples.map(v => (v * 255 / ((1 << bits) - 1)).toByte)
      assert(java.util.Arrays.equals(got.get.pixels, expect),
        s"gray expansion mismatch bits=$bits filter=$f")
    }
  }

  test("sub-byte palette decodes through PLTE (raw indexes, no scaling)") {
    val plte = Array.tabulate(16 * 3)(i => (i * 5 + 3).toByte)
    for (bits <- Seq(2, 4)) {
      val (w, h) = (9, 4)
      val r = rng(77 + bits)
      val idx = Array.fill(w * h)(r.nextInt(1 << bits))
      val stride = (w * bits + 7) / 8
      val raw = forwardFilter(packRows(idx, w, h, bits), stride, h, 1, y => y % 5)
      val got = Png.decode(buildPng(w, h, 3, raw, plte = Some(plte), bitDepth = bits))
      assert(got.isDefined, s"bits=$bits")
      assert(got.get.channels == 3)
      for (p <- 0 until w * h; c <- 0 until 3)
        assert(got.get.pixels(p * 3 + c) == plte(idx(p) * 3 + c),
          s"palette bits=$bits p=$p c=$c")
    }
  }

  test("JDK-written 1-bit and 4-bit indexed PNGs decode via the pure codec") {
    System.setProperty("java.awt.headless", "true")
    val (w, h) = (19, 7)
    // 1-bit: TYPE_BYTE_BINARY default black/white palette
    val bw = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    val r = rng(31337)
    for (y <- 0 until h; x <- 0 until w)
      bw.setRGB(x, y, if (r.nextBoolean()) 0xFFFFFF else 0)
    val bos1 = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bw, "png", bos1))
    val got1 = Png.decode(bos1.toByteArray)
    assert(got1.isDefined, "JDK 1-bit PNG must decode in the pure codec")
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * got1.get.channels
      assert((got1.get.pixels(p) & 0xFF) == (bw.getRGB(x, y) & 0xFF), s"1-bit ($x,$y)")
    }
    // 4-bit: 16-entry IndexColorModel
    val cmap = Array.tabulate(16)(i => (i * 17) << 16 | (255 - i * 17) << 8 | i * 11)
    val icm = new java.awt.image.IndexColorModel(4, 16, cmap, 0, false, -1,
      java.awt.image.DataBuffer.TYPE_BYTE)
    val ix = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY, icm)
    for (y <- 0 until h; x <- 0 until w)
      ix.getRaster.setSample(x, y, 0, r.nextInt(16))
    val bos4 = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(ix, "png", bos4))
    val got4 = Png.decode(bos4.toByteArray)
    assert(got4.isDefined, "JDK 4-bit indexed PNG must decode in the pure codec")
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * got4.get.channels
      val rgb = ix.getRGB(x, y)
      assert((got4.get.pixels(p) & 0xFF) == ((rgb >> 16) & 0xFF) &&
        (got4.get.pixels(p + 1) & 0xFF) == ((rgb >> 8) & 0xFF) &&
        (got4.get.pixels(p + 2) & 0xFF) == (rgb & 0xFF), s"4-bit ($x,$y)")
    }
  }

  test("JDK-written 16-bit gray PNG decodes via the pure codec") {
    System.setProperty("java.awt.headless", "true")
    val (w, h) = (9, 7)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val r = rng(4242)
    val expected = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val v16 = r.nextInt(65536)
      bi.getRaster.setSample(x, y, 0, v16)
      expected(y * w + x) = (v16 >>> 8).toByte
    }
    val bos = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", bos))
    val got = Png.decode(bos.toByteArray)
    assert(got.isDefined, "JDK 16-bit gray PNG must decode in the pure codec")
    assert(got.get.channels == 1 && got.get.width == w && got.get.height == h)
    assert(java.util.Arrays.equals(got.get.pixels, expected))
  }

  test("unsupported and corrupt streams are rejected, never half-decoded") {
    val img = randomImage(5, 6, 4, 3)
    val good = Png.encode(img)
    // corrupt a pixel byte inside IDAT → chunk CRC mismatch
    val bad = good.clone()
    bad(good.length - 20) = (bad(good.length - 20) ^ 0x5A).toByte
    assert(Png.decode(bad).isEmpty, "CRC corruption must reject")
    // truncation
    assert(Png.decode(good.take(good.length - 6)).isEmpty)
    // sub-byte depth on a TRUECOLOR type is illegal per the spec matrix;
    // 16-bit/interlace headers whose payload length doesn't match the
    // declared geometry are malformed → rejected
    val raw = forwardFilter(img.pixels, 6, 4, 3, _ => 0)
    assert(Png.decode(buildPng(6, 4, 2, raw, bitDepth = 4)).isEmpty)
    assert(Png.decode(buildPng(6, 4, 2, raw, bitDepth = 16)).isEmpty,
      "8-bit-sized payload under a 16-bit header must reject")
    assert(Png.decode(buildPng(6, 4, 2, raw, interlace = 1)).isEmpty,
      "sequential-sized payload under an Adam7 header must reject")
    // 16-bit palette is an illegal spec combination
    assert(Png.decode(buildPng(2, 2, 3, Array[Byte](0, 0, 0, 0, 0, 0),
      plte = Some(Array[Byte](1, 2, 3)), bitDepth = 16)).isEmpty)
    // not a PNG at all
    assert(Png.decode("just text".getBytes).isEmpty)
    assert(Png.decode(Array.emptyByteArray).isEmpty)
    // decompression-bomb guard: a valid-looking header claiming a raster
    // past the 256 MB cap is rejected at IHDR, before any inflate work
    val bomb = buildPng(20000, 20000, colorType = 6,
      raw = Array[Byte](0, 0, 0, 0, 0)) // bogus tiny IDAT — never reached
    assert(Png.decode(bomb).isEmpty, "oversized raster must be rejected")
    // adversarial chunk length near Int.MaxValue: `i + 12 + len` would
    // overflow Int and sail past a naive bounds check — must reject, not
    // throw out of the bounds-checked chunk walk
    val hostile = good.clone()
    val at = 8 // first chunk (IHDR) length field
    hostile(at) = 0x7F.toByte; hostile(at + 1) = 0xFF.toByte
    hostile(at + 2) = 0xFF.toByte; hostile(at + 3) = 0xF0.toByte
    assert(Png.decode(hostile).isEmpty, "overflowing chunk len must reject")
  }

  test("box downscale is the exact integer mean; resize preserves channels") {
    val src = Array(0, 10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120, 130, 140, 150)
    val out = Png.boxDownscale(src, 4, 4, 2, 2)
    // each 2x2 box mean, floor
    assert(out.toSeq == Seq((0 + 10 + 40 + 50) / 4, (20 + 30 + 60 + 70) / 4,
      (80 + 90 + 120 + 130) / 4, (100 + 110 + 140 + 150) / 4))
    val img = randomImage(77, 16, 12, 4)
    val small = Png.resize(img, 4, 3)
    assert(small.width == 4 && small.height == 3 && small.channels == 4)
    // resize output re-encodes and roundtrips like any raster
    assert(Png.decode(Png.encode(small)).get.pixels.toSeq == small.pixels.toSeq)
  }

  test("pixel checksum and aHash are re-encode invariant (JDK vs ours)") {
    System.setProperty("java.awt.headless", "true")
    // smooth gradient so the two encoders pick different filters/compression
    val w = 32; val h = 32
    val px = Array.tabulate(w * h * 3)(i => ((i / 3 % w) * 8 % 256).toByte)
    val img = Png.Image(w, h, 3, px)
    val oursBytes = Png.encode(img)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      bi.setRGB(x, y, ((px(p) & 0xFF) << 16) | ((px(p + 1) & 0xFF) << 8) | (px(p + 2) & 0xFF))
    }
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    val jdkBytes = bos.toByteArray
    assert(!java.util.Arrays.equals(oursBytes, jdkBytes),
      "encoders differ at the byte layer (that's the point)")
    val a = Png.decode(oursBytes).get
    val b = Png.decode(jdkBytes).get
    assert(Png.pixelChecksum(a) == Png.pixelChecksum(b))
    assert(Png.aHash(a) == Png.aHash(b))
    val fa = Png.features(a, 48); val fb = Png.features(b, 48)
    assert(fa.toSeq == fb.toSeq, "same raster embeds identically")
  }

  test("decodeAny reads JPEG/GIF real pixels via the JDK's ImageIO arm") {
    System.setProperty("java.awt.headless", "true")
    val w = 20; val h = 14
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      bi.setRGB(x, y, ((x * 12) << 16) | ((y * 17) << 8) | 0x40)
    for (fmt <- Seq("jpg", "gif")) {
      val bos = new ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, fmt, bos), fmt)
      val bytes = bos.toByteArray
      assert(Png.decode(bytes).isEmpty, s"own codec must not claim $fmt")
      val img = Png.decodeAny(bytes)
      assert(img.isDefined, fmt)
      assert(img.get.width == w && img.get.height == h, fmt)
      // deterministic: decoding twice yields identical pixels
      assert(java.util.Arrays.equals(img.get.pixels, Png.decodeAny(bytes).get.pixels))
      // JPEG is lossy — compare approximately; GIF palette round-trips
      // this smooth ramp closely too
      val px = img.get.pixels
      var maxErr = 0
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * img.get.channels
        maxErr = math.max(maxErr,
          math.abs((px(p) & 0xFF) - x * 12).max(math.abs((px(p + 1) & 0xFF) - y * 17)))
      }
      assert(maxErr <= 48, s"$fmt maxErr=$maxErr")
    }
  }

  test("WAV PCM sample decode: exact integer stats, 8 and 16 bit") {
    def wav(bits: Int, samples: Seq[Int]): Array[Byte] = {
      val bytesPer = bits / 8
      val out = new Array[Byte](44 + samples.length * bytesPer)
      def asc(o: Int, s: String): Unit = s.zipWithIndex.foreach { case (c, k) => out(o + k) = c.toByte }
      def le32(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte; out(o + 2) = (v >>> 16).toByte; out(o + 3) = (v >>> 24).toByte }
      def le16(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte }
      asc(0, "RIFF"); le32(4, 36 + samples.length * bytesPer); asc(8, "WAVE")
      asc(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1)
      le32(24, 8000); le32(28, 8000 * bytesPer); le16(32, bytesPer); le16(34, bits)
      asc(36, "data"); le32(40, samples.length * bytesPer)
      samples.zipWithIndex.foreach { case (s, k) =>
        if (bits == 16) le16(44 + k * 2, s & 0xFFFF)
        else out(44 + k) = ((s + 128) & 0xFF).toByte
      }
      out
    }
    val s16 = Seq(-1000, 0, 32767, -32768, 12345)
    val Some((r1, c1, b1, n1, sum1, sq1)) = AudioHeaders.pcm(wav(16, s16))
    assert((r1, c1, b1, n1) == (8000, 1, 16, 5L))
    assert(sum1 == s16.map(_.toLong).sum)
    assert(sq1 == s16.map(v => v.toLong * v).sum)
    val s8 = Seq(-128, -1, 0, 1, 127)
    val Some((_, _, b2, n2, sum2, sq2)) = AudioHeaders.pcm(wav(8, s8))
    assert(b2 == 8 && n2 == 5L)
    assert(sum2 == s8.map(_.toLong).sum && sq2 == s8.map(v => v.toLong * v).sum)
    // float tag with integer width is malformed → rejected; MS-ADPCM
    // (tag 2, genuinely compressed) falls back
    val f = wav(16, s16); f(20) = 3 // IEEE float tag, 16-bit: invalid
    assert(AudioHeaders.pcm(f).isEmpty)
    val ad = wav(8, s8); ad(20) = 2 // MS ADPCM
    assert(AudioHeaders.pcm(ad).isEmpty)
  }

  test("G.711 A-law and mu-law expand through the exact ITU formulas") {
    def wav8(fmtTag: Int, data: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](44 + data.length)
      def asc(o: Int, s: String): Unit = s.zipWithIndex.foreach { case (c, k) => out(o + k) = c.toByte }
      def le32(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte; out(o + 2) = (v >>> 16).toByte; out(o + 3) = (v >>> 24).toByte }
      def le16(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte }
      asc(0, "RIFF"); le32(4, 36 + data.length); asc(8, "WAVE")
      asc(12, "fmt "); le32(16, 16); le16(20, fmtTag); le16(22, 1)
      le32(24, 8000); le32(28, 8000); le16(32, 1); le16(34, 8)
      asc(36, "data"); le32(40, data.length)
      System.arraycopy(data, 0, out, 44, data.length)
      out
    }
    // canonical endpoints from the ITU tables: mu-law 0xFF/0x7F are the
    // two zeros, 0x80/0x00 the ±32124 extremes; A-law 0xD5/0x55 are ±8
    // (the smallest magnitudes), 0xAA/0x2A the ±32256 extremes
    val mu = Array[Byte](0xFF.toByte, 0x7F, 0x80.toByte, 0x00)
    val Some((_, _, bm, nm, sumM, sqM)) = AudioHeaders.pcm(wav8(7, mu))
    assert(bm == 8 && nm == 4L)
    assert(sumM == 0L + 0 + 32124 - 32124)
    assert(sqM == 2L * 32124 * 32124)
    val al2 = Array[Byte](0xD5.toByte, 0x55, 0xAA.toByte, 0x2A)
    val Some((_, _, ba, na, sumA, sqA)) = AudioHeaders.pcm(wav8(6, al2))
    assert(ba == 8 && na == 4L)
    assert(sumA == 8L - 8 + 32256 - 32256)
    assert(sqA == 2L * 8 * 8 + 2L * 32256 * 32256)
  }

  test("WAV 24-bit PCM and float32 decode with documented 16-bit-quantized stats") {
    def wavRaw(fmtTag: Int, bits: Int, data: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](44 + data.length)
      def asc(o: Int, s: String): Unit = s.zipWithIndex.foreach { case (c, k) => out(o + k) = c.toByte }
      def le32(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte; out(o + 2) = (v >>> 16).toByte; out(o + 3) = (v >>> 24).toByte }
      def le16(o: Int, v: Int): Unit = { out(o) = v.toByte; out(o + 1) = (v >>> 8).toByte }
      val bytesPer = bits / 8
      asc(0, "RIFF"); le32(4, 36 + data.length); asc(8, "WAVE")
      asc(12, "fmt "); le32(16, 16); le16(20, fmtTag); le16(22, 1)
      le32(24, 8000); le32(28, 8000 * bytesPer); le16(32, bytesPer); le16(34, bits)
      asc(36, "data"); le32(40, data.length)
      System.arraycopy(data, 0, out, 44, data.length)
      out
    }
    // 24-bit: full-width sign-extended decode, stats on the top 16 bits
    // (arithmetic >> 8 — floor toward -inf, monotone)
    val s24 = Seq(-8388608, -65536, -1, 0, 255, 8388607)
    val d24 = new Array[Byte](s24.length * 3)
    s24.zipWithIndex.foreach { case (v, k) =>
      d24(k * 3) = v.toByte; d24(k * 3 + 1) = (v >> 8).toByte
      d24(k * 3 + 2) = (v >> 16).toByte
    }
    val Some((r3, _, b3, n3, sum3, sq3)) = AudioHeaders.pcm(wavRaw(1, 24, d24))
    assert((r3, b3, n3) == (8000, 24, s24.length.toLong))
    val q24 = s24.map(_ >> 8)
    assert(sum3 == q24.map(_.toLong).sum, s"sum $sum3 vs ${q24.map(_.toLong).sum}")
    assert(sq3 == q24.map(v => v.toLong * v).sum)
    // float32: exactly-representable fractions → floor(f·32768), clamped
    val fs = Seq(0.0f, 0.5f, -0.25f, 1.0f, -1.0f, 1.5f, -2.0f, 0.125f)
    val df = new Array[Byte](fs.length * 4)
    fs.zipWithIndex.foreach { case (v, k) =>
      val bits32 = java.lang.Float.floatToIntBits(v)
      df(k * 4) = bits32.toByte; df(k * 4 + 1) = (bits32 >> 8).toByte
      df(k * 4 + 2) = (bits32 >> 16).toByte; df(k * 4 + 3) = (bits32 >> 24).toByte
    }
    val Some((_, _, bf, nf, sumF, sqF)) = AudioHeaders.pcm(wavRaw(3, 32, df))
    assert(bf == 32 && nf == fs.length.toLong)
    val qf = Seq(0, 16384, -8192, 32767, -32768, 32767, -32768, 4096)
    assert(sumF == qf.map(_.toLong).sum, s"sum $sumF vs ${qf.map(_.toLong).sum}")
    assert(sqF == qf.map(v => v.toLong * v).sum)
  }

  test("IMA ADPCM decode matches an independent reference on random nibbles") {
    // reference state machine written from the public IMA algorithm,
    // independently of the production decoder (cross-validation, the
    // buildPng discipline)
    val stepTab = Array(7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25,
      28, 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
      143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
      544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
      1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
      5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    val idxTab = Array(-1, -1, -1, -1, 2, 4, 6, 8)
    def reference(pred0: Int, index0: Int, nibbles: Seq[Int]): Seq[Int] = {
      var pred = pred0; var idx = index0
      pred0 +: nibbles.map { nib =>
        val st = stepTab(idx)
        var d = st >> 3
        if ((nib & 1) != 0) d += st >> 2
        if ((nib & 2) != 0) d += st >> 1
        if ((nib & 4) != 0) d += st
        pred = math.max(-32768, math.min(32767, if ((nib & 8) != 0) pred - d else pred + d))
        idx = math.max(0, math.min(88, idx + idxTab(nib & 7)))
        pred
      }
    }
    val r = rng(4242)
    for (trial <- 0 until 4) {
      val blockAlign = 64 // 4 header + 60 bytes = 121 samples/block
      val nBlocks = 3
      val states = Seq.fill(nBlocks)((r.nextInt(65536) - 32768, r.nextInt(89)))
      val nibs = Seq.fill(nBlocks)(Seq.fill((blockAlign - 4) * 2)(r.nextInt(16)))
      val data = new Array[Byte](nBlocks * blockAlign)
      for (bI <- 0 until nBlocks) {
        val off = bI * blockAlign
        data(off) = states(bI)._1.toByte
        data(off + 1) = (states(bI)._1 >> 8).toByte
        data(off + 2) = states(bI)._2.toByte
        for (j <- 0 until blockAlign - 4)
          data(off + 4 + j) =
            (nibs(bI)(2 * j) | (nibs(bI)(2 * j + 1) << 4)).toByte
      }
      val wav = new Array[Byte](48 + data.length)
      def asc(o: Int, s: String): Unit = s.zipWithIndex.foreach { case (c, k2) => wav(o + k2) = c.toByte }
      def le32(o: Int, v: Int): Unit = { wav(o) = v.toByte; wav(o + 1) = (v >>> 8).toByte; wav(o + 2) = (v >>> 16).toByte; wav(o + 3) = (v >>> 24).toByte }
      def le16(o: Int, v: Int): Unit = { wav(o) = v.toByte; wav(o + 1) = (v >>> 8).toByte }
      asc(0, "RIFF"); le32(4, 40 + data.length); asc(8, "WAVE")
      asc(12, "fmt "); le32(16, 20); le16(20, 0x11); le16(22, 1)
      le32(24, 8000); le32(28, 4055); le16(32, blockAlign); le16(34, 4)
      le16(36, 2); le16(38, 121)
      asc(40, "data"); le32(44, data.length)
      System.arraycopy(data, 0, wav, 48, data.length)
      val want = (0 until nBlocks).flatMap(bI =>
        reference(states(bI)._1, states(bI)._2, nibs(bI)))
      val Some((ra, ca, ba, na, sumA, sqA)) = AudioHeaders.pcm(wav)
      assert((ra, ca, ba) == (8000, 1, 4), s"trial $trial")
      assert(na == want.length.toLong, s"trial $trial n")
      assert(sumA == want.map(_.toLong).sum, s"trial $trial sum")
      assert(sqA == want.map(v => v.toLong * v).sum, s"trial $trial sumSq")
    }
  }
  test("rotate90: four rotations return to identity; dims and pixels remap") {
    val img = Png.Image(5, 3, 3, Array.tabulate(45)(i => (i * 7).toByte))
    val r1 = Png.rotate90(img)
    assert(r1.width == 3 && r1.height == 5)
    // src (0,0) -> dst (h-1-0, 0) = (2, 0)
    assert(r1.pixels(2 * 3) == img.pixels(0))
    val r4 = Png.rotate90(Png.rotate90(Png.rotate90(r1)))
    assert(r4.width == 5 && r4.height == 3)
    assert(r4.pixels.sameElements(img.pixels))
  }

  test("aHashCanonical: rotated copies collide at 0; plain aHash misses them") {
    val r = rng(99L)
    val px = Array.fill(256)((r.nextInt(256)).toByte)
    val img = Png.Image(16, 16, 1, px)
    val rot = Png.rotate90(img)
    assert(Png.aHashCanonical(img) == Png.aHashCanonical(rot))
    assert(Png.aHashCanonical(rot) == Png.aHashCanonical(Png.rotate90(rot)))
    // mirrored copies collide too (full D4 orbit)
    assert(Png.aHashCanonical(img) == Png.aHashCanonical(Png.flipH(img)))
    assert(Png.aHashCanonical(img) ==
      Png.aHashCanonical(Png.rotate90(Png.flipH(img))))
    // the negative control: plain aHash puts the rotated pair far apart
    val d = java.lang.Long.bitCount(Png.aHash(img) ^ Png.aHash(rot))
    assert(d > 5, s"plain aHash unexpectedly close under rotation: $d bits")
    // distinct images stay apart under the canonical hash
    val other = Png.Image(16, 16, 1, Array.fill(256)((r.nextInt(256)).toByte))
    assert(java.lang.Long.bitCount(
      Png.aHashCanonical(img) ^ Png.aHashCanonical(other)) > 5)
  }

  test("aHashD4: orbit carries all 8 orientations; min-pairwise is noise-stable") {
    // grid-aligned image (2x2 blocks at 0/255) so every aHash bit is a
    // block: flipping k blocks moves exactly k bits
    val r = rng(123L)
    val px = new Array[Byte](256)
    for (y <- 0 until 16; x <- 0 until 16)
      px(y * 16 + x) = if (((r.nextInt() >> 5) & 1) == 1) 0xFF.toByte else 0
    // re-derive per 2x2 block for grid alignment
    val blocks = Array.fill(64)(r.nextInt(2))
    blocks(0) = 1; blocks(63) = 0
    for (y <- 0 until 16; x <- 0 until 16)
      px(y * 16 + x) = if (blocks((y / 2) * 8 + x / 2) == 1) 0xFF.toByte else 0
    val img = Png.Image(16, 16, 1, px)
    val orbit = Png.aHashD4(img)
    assert(orbit(0) == Png.aHash(img))
    assert(orbit.map(h => java.lang.Long.compareUnsigned(h, Png.aHashCanonical(img)) >= 0).forall(identity))
    assert(orbit.contains(Png.aHashCanonical(img)))
    // rotated copy with 3 flipped blocks: min pairwise Hamming over the
    // orbits is EXACTLY 3 (the aligned orientation), regardless of which
    // orientation the canonical min lands on under the perturbation
    val rot = Png.rotate90(img)
    for (cell <- Seq((1, 1), (1, 2), (1, 3)); dy <- 0 until 2; dx <- 0 until 2) {
      val p = (cell._1 * 2 + dy) * 16 + (cell._2 * 2 + dx)
      rot.pixels(p) = (~rot.pixels(p)).toByte
    }
    val orbitRot = Png.aHashD4(rot)
    val minPairwise = (for (a <- orbit; b <- orbitRot)
      yield java.lang.Long.bitCount(a ^ b)).min
    assert(minPairwise == 3, s"orbit distance drifted: $minPairwise")
    // and the probe-side-only form the pairing uses is equivalent
    val probeForm = orbitRot.map(b => java.lang.Long.bitCount(orbit(0) ^ b)).min
    assert(probeForm == 3)
  }

  test("an IDAT that asks for a preset dictionary is rejected, not spun on") {
    // zlib FDICT: PNG supplies no dictionary, so the inflate can never
    // progress — the decode must return None rather than loop forever
    val raw = new Array[Byte]((4 * 3 + 1) * 4) // 4x4 RGB, filter 0
    val d = new Deflater()
    d.setDictionary("preset".getBytes("US-ASCII"))
    d.setInput(raw); d.finish()
    val bos = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
    val ihdr = new Array[Byte](13)
    ihdr(3) = 4; ihdr(7) = 4; ihdr(8) = 8; ihdr(9) = 2
    chunk(out, "IHDR", ihdr)
    chunk(out, "IDAT", bos.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val decoded = Future(Png.decode(out.toByteArray))
    assert(Await.result(decoded, 30.seconds).isEmpty)
  }
}
