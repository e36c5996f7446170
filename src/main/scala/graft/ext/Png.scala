package graft.ext

import java.util.zip.CRC32

import graft.ext.Bytes.{be32, putBe32}

/** Pure-JVM PNG codec — REAL pixel decode/encode with zero external
  * dependencies (zlib via [[Codecs]]' pooled deflate, CRC via
  * `java.util.zip.CRC32` — both core JDK).
  *
  * Coverage: the still-image subset a training-data lake actually stores
  * — 8-bit-per-sample, non-interlaced PNGs in all five color types
  * (grayscale, gray+alpha, RGB, RGBA, palette with optional tRNS).
  * Everything else (16-bit, Adam7 interlace, sub-byte depths) returns
  * None and flows to the documented fallback path — never a wrong
  * decode. Chunk CRCs are verified; a corrupt payload is rejected, not
  * half-read.
  *
  * Determinism: decoding is bit-exact by construction (zlib inflate +
  * integer un-filtering). Encoding always emits filter-0 scanlines and a
  * fixed-level deflate, so `decode(encode(img)) == img` exactly and the
  * DECODED-PIXEL form of any payload is the stable content identity
  * (re-encodes of the same pixels hash equal at the pixel layer even
  * when their compressed bytes differ).
  *
  * Reference: the PNG byte layout is from the public W3C PNG
  * specification (ISO/IEC 15948); the reference repo has no image
  * support — this backs the multimodal column family
  * (`/root/reference/index.js` pipes opaque bytes only).
  */
object Png {

  /** Decoded raster: 8-bit samples, row-major, channel-interleaved.
    * `channels`: 1 = gray, 2 = gray+alpha, 3 = RGB, 4 = RGBA.
    */
  final case class Image(width: Int, height: Int, channels: Int, pixels: Array[Byte]) {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(channels >= 1 && channels <= 4, s"bad channels $channels")
    require(pixels.length == width * height * channels,
      s"pixel buffer ${pixels.length} != $width*$height*$channels")
  }

  private[ext] val Magic = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  // ------------------------------------------------------------- decode

  /** Decode any spec-legal PNG depth/color/interlace combination:
    * 8-bit direct, 16-bit with the standard high-byte scale-down,
    * sub-byte (1/2/4) gray and palette with MSB-first unpacking,
    * non-interlaced or Adam7. None for anything else (other formats,
    * corrupt chunks/CRCs). A corrupt payload is rejected (None), never
    * half-read: any exception the structural guards miss is caught
    * here so a malformed blob can't crash the task.
    */
  def decode(bytes: Array[Byte]): Option[Image] =
    try decodeImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => None }

  private def decodeImpl(bytes: Array[Byte]): Option[Image] = {
    if (bytes.length < Magic.length + 25 || !bytes.startsWith(Magic)) return None
    var width = 0; var height = 0; var bitDepth = 0; var colorType = -1
    var interlace = 0
    var palette: Array[Byte] = null
    var trns: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var i = Magic.length
    var sawIhdr = false; var sawIend = false
    val crc = new CRC32()
    while (!sawIend && i + 12 <= bytes.length) {
      val len = be32(bytes, i)
      // overflow-safe: loop guard ensures bytes.length - 12 - i >= 0, so the
      // subtraction form can't wrap the way `i + 12 + len` would for huge len
      if (len < 0 || len > bytes.length - 12 - i) return None
      val chunkType = new String(bytes, i + 4, 4, "US-ASCII")
      crc.reset()
      crc.update(bytes, i + 4, 4 + len)
      if (crc.getValue != (be32(bytes, i + 8 + len) & 0xFFFFFFFFL)) return None
      chunkType match {
        case "IHDR" =>
          if (len != 13) return None
          width = be32(bytes, i + 8)
          height = be32(bytes, i + 12)
          bitDepth = bytes(i + 16) & 0xFF
          colorType = bytes(i + 17) & 0xFF
          val compression = bytes(i + 18) & 0xFF
          val filter = bytes(i + 19) & 0xFF
          interlace = bytes(i + 20) & 0xFF
          if (compression != 0 || filter != 0) return None
          if (interlace != 0 && interlace != 1) return None // 1 = Adam7
          // 8-bit direct; 16-bit with the standard high-byte scale-down;
          // sub-byte (1/2/4) gray and palette with bit unpacking — the
          // spec's legal depth × color-type matrix, nothing else
          if (!Set(1, 2, 4, 8, 16).contains(bitDepth)) return None
          if (bitDepth < 8 && colorType != 0 && colorType != 3) return None
          if (bitDepth == 16 && colorType == 3) return None // illegal combo
          if (!Set(0, 2, 3, 4, 6).contains(colorType)) return None
          if (width <= 0 || height <= 0) return None
          // decoded-size guard: refuse absurd rasters (decompression bomb)
          if (width.toLong * height * 4 > (1L << 28)) return None
          sawIhdr = true
        case "PLTE" =>
          if (len % 3 != 0) return None
          palette = java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + len)
        case "tRNS" =>
          trns = java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + len)
        case "IDAT" =>
          idat.write(bytes, i + 8, len)
        case "IEND" =>
          sawIend = true
        case _ => () // ancillary chunks skipped
      }
      i += 12 + len
    }
    if (!sawIhdr || !sawIend || idat.size() == 0) return None
    if (colorType == 3 && palette == null) return None

    val srcCh = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    }
    val bps = bitDepth / 8             // bytes per sample (0 for sub-byte)
    val bpp = math.max(1, srcCh * bps) // filter unit per the spec (byte floor)
    // packed scanline width in bytes for a pass of wPx pixels
    def strideOf(wPx: Int): Int =
      if (bitDepth >= 8) wPx * srcCh * bps
      else (wPx * bitDepth + 7) / 8

    // Adam7 pass geometry; non-interlaced = one full-size pass
    final case class Pass(x0: Int, y0: Int, dx: Int, dy: Int, w: Int, h: Int)
    val passes: Seq[Pass] =
      if (interlace == 0) Seq(Pass(0, 0, 1, 1, width, height))
      else {
        val xs = Array(0, 4, 0, 2, 0, 1, 0)
        val ys = Array(0, 0, 4, 0, 2, 0, 1)
        val dxs = Array(8, 8, 4, 4, 2, 2, 1)
        val dys = Array(8, 8, 8, 4, 4, 2, 2)
        (0 until 7).map { p =>
          val w = if (width > xs(p)) (width - xs(p) + dxs(p) - 1) / dxs(p) else 0
          val h = if (height > ys(p)) (height - ys(p) + dys(p) - 1) / dys(p) else 0
          Pass(xs(p), ys(p), dxs(p), dys(p), w, h)
        }.filter(p => p.w > 0 && p.h > 0)
      }
    val expectedRaw = passes.map(p => (strideOf(p.w).toLong + 1) * p.h).sum
    if (expectedRaw > Int.MaxValue) return None
    val zs = idat.toByteArray
    val raw = Codecs.inflateExact(zs, 0, zs.length, expectedRaw.toInt, zlib = true)
      .getOrElse(return None)

    // unfilter each pass independently, scattering its samples into the
    // raster (16-bit: high-byte scale-down; sub-byte: MSB-first unpack,
    // gray scaled to 8-bit by the standard max-value expansion)
    val px = new Array[Byte](width * height * srcCh)
    val subMax = (1 << bitDepth) - 1
    var rawOff = 0
    passes.foreach { pass =>
      val stride = strideOf(pass.w)
      val un = new Array[Byte](stride * pass.h)
      var y = 0
      while (y < pass.h) {
        val f = raw(rawOff + y * (stride + 1)) & 0xFF
        val rowIn = rawOff + y * (stride + 1) + 1
        val rowOut = y * stride
        val prevOut = (y - 1) * stride
        var x = 0
        while (x < stride) {
          val cur = raw(rowIn + x) & 0xFF
          val a = if (x >= bpp) un(rowOut + x - bpp) & 0xFF else 0
          val b = if (y > 0) un(prevOut + x) & 0xFF else 0
          val c = if (y > 0 && x >= bpp) un(prevOut + x - bpp) & 0xFF else 0
          val v = f match {
            case 0 => cur
            case 1 => cur + a
            case 2 => cur + b
            case 3 => cur + ((a + b) >> 1)
            case 4 => cur + paeth(a, b, c)
            case _ => return None
          }
          un(rowOut + x) = (v & 0xFF).toByte
          x += 1
        }
        // scatter this scanline's samples to their raster positions
        val iy = pass.y0 + y * pass.dy
        var pxI = 0
        while (pxI < pass.w) {
          val ix = pass.x0 + pxI * pass.dx
          val dst = (iy * width + ix) * srcCh
          if (bitDepth >= 8) {
            var ch = 0
            while (ch < srcCh) {
              // big-endian 16-bit: the high byte is the first of the pair
              px(dst + ch) = un(rowOut + (pxI * srcCh + ch) * bps)
              ch += 1
            }
          } else {
            // MSB-first packed samples; gray expands v*255/max, palette
            // indexes pass through raw
            val bitPos = pxI * bitDepth
            val v = ((un(rowOut + (bitPos >> 3)) & 0xFF)
              >> (8 - bitDepth - (bitPos & 7))) & subMax
            px(dst) =
              (if (colorType == 0) v * 255 / subMax else v).toByte
          }
          pxI += 1
        }
        y += 1
      }
      rawOff += (stride + 1) * pass.h
    }

    if (colorType != 3) Some(Image(width, height, srcCh, px))
    else {
      // palette expansion: RGB, or RGBA when a tRNS table is present
      val nEntries = palette.length / 3
      val outCh = if (trns != null) 4 else 3
      val out = new Array[Byte](width * height * outCh)
      var p = 0
      while (p < width * height) {
        val idx = px(p) & 0xFF
        if (idx >= nEntries) return None
        out(p * outCh) = palette(idx * 3)
        out(p * outCh + 1) = palette(idx * 3 + 1)
        out(p * outCh + 2) = palette(idx * 3 + 2)
        if (outCh == 4)
          out(p * outCh + 3) =
            (if (idx < trns.length) trns(idx) else 0xFF.toByte)
        p += 1
      }
      Some(Image(width, height, outCh, out))
    }
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  // ------------------------------------------------------------- encode

  /** Encode 8-bit samples as a non-interlaced PNG (filter 0, one IDAT).
    * Color type from channel count: 1→gray, 2→gray+alpha, 3→RGB, 4→RGBA.
    */
  def encode(img: Image): Array[Byte] = {
    val colorType = img.channels match {
      case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6
    }
    val stride = img.width * img.channels
    val raw = new Array[Byte]((stride + 1) * img.height)
    var y = 0
    while (y < img.height) {
      // filter byte 0 then the scanline verbatim
      System.arraycopy(img.pixels, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    val compressed = Codecs.compressDeflate(raw, zlib = true) // pooled, see Codecs

    val out = new java.io.ByteArrayOutputStream(compressed.length + 64)
    out.write(Magic, 0, Magic.length)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, img.width)
    putBe32(ihdr, 4, img.height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = colorType.toByte
    // compression 0, filter 0, interlace 0 already zero
    writeChunk(out, "IHDR", ihdr)
    writeChunk(out, "IDAT", compressed)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private[graft] def writeChunk(out: java.io.ByteArrayOutputStream, chunkType: String,
      data: Array[Byte]): Unit = {
    val len = new Array[Byte](4)
    putBe32(len, 0, data.length)
    out.write(len, 0, 4)
    val tb = chunkType.getBytes("US-ASCII")
    out.write(tb, 0, 4)
    out.write(data, 0, data.length)
    val crc = new CRC32()
    crc.update(tb)
    crc.update(data)
    val cb = new Array[Byte](4)
    putBe32(cb, 0, crc.getValue.toInt)
    out.write(cb, 0, 4)
  }

  // ------------------------------------------------- raster operations

  /** 90°-clockwise raster rotation (pure index remap, any channel
    * count): dst(x', y') = src(y', w−1−x') with dims swapped — the
    * building block of [[aHashCanonical]]'s rotation-canonical dedup
    * hash and of EXIF-orientation normalization.
    */
  def rotate90(img: Image): Image = {
    val w = img.width
    val h = img.height
    val c = img.channels
    val out = new Array[Byte](img.pixels.length)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // source (x, y) lands at destination (h-1-y, x) in a h×w raster
        val dx = h - 1 - y
        val dy = x
        var k = 0
        while (k < c) {
          out((dy * h + dx) * c + k) = img.pixels((y * w + x) * c + k)
          k += 1
        }
        x += 1
      }
      y += 1
    }
    Image(h, w, c, out)
  }

  /** Horizontal mirror (pure index remap, any channel count). */
  def flipH(img: Image): Image = {
    val w = img.width
    val c = img.channels
    val out = new Array[Byte](img.pixels.length)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < w) {
        var k = 0
        while (k < c) {
          out((y * w + (w - 1 - x)) * c + k) = img.pixels((y * w + x) * c + k)
          k += 1
        }
        x += 1
      }
      y += 1
    }
    Image(w, img.height, c, out)
  }

  /** Orientation-canonical perceptual hash: the UNSIGNED-min of [[aHash]]
    * over the full dihedral group D4 — four rotations of the raster and
    * four of its mirror. Copies that differ only by rotation OR
    * reflection — which plain aHash misses entirely (the 8×8 grid moves
    * with the raster) — share the canonical hash exactly, so they pair
    * at Hamming 0 through the same pigeonhole blocking. Cross-family
    * collision odds rise only ~64× versus plain aHash (min-of-8 against
    * min-of-8), still negligible at any corpus size.
    */
  def aHashCanonical(img: Image): Long = {
    var best = aHash(img)
    var r = img
    var k = 0
    while (k < 7) {
      r = if (k == 3) flipH(img) else rotate90(r)
      val h = aHash(r)
      if (java.lang.Long.compareUnsigned(h, best) < 0) best = h
      k += 1
    }
    best
  }

  /** The full D4 orbit of [[aHash]] — index 0 is the plain hash, 1-3 the
    * rotations, 4 the mirror, 5-7 its rotations. [[aHashCanonical]] is
    * the unsigned-min of this array; near-dup pairing that must survive
    * rotation PLUS pixel noise uses the whole orbit instead (min
    * PAIRWISE Hamming over orbits, served by
    * [[Multimodal.nearDupImagesOriented]]): under perturbation the
    * canonical min can land on a different orientation on each side and
    * miss, while the orbit minimum is stable — the bounded 8x probe
    * fan-out buys noise robustness the single canonical hash cannot
    * have.
    */
  def aHashD4(img: Image): Array[Long] = {
    val out = new Array[Long](8)
    out(0) = aHash(img)
    var r = img
    var k = 0
    while (k < 7) {
      r = if (k == 3) flipH(img) else rotate90(r)
      out(k + 1) = aHash(r)
      k += 1
    }
    out
  }

  /** Integer luma per pixel (ITU-R 601 weights in exact integer
    * arithmetic: (299r + 587g + 114b) / 1000, floor) — alpha ignored,
    * gray passthrough.
    */
  def toGray(img: Image): Array[Int] = {
    val n = img.width * img.height
    val out = new Array[Int](n)
    var p = 0
    img.channels match {
      case 1 | 2 =>
        while (p < n) { out(p) = img.pixels(p * img.channels) & 0xFF; p += 1 }
      case _ =>
        while (p < n) {
          val r = img.pixels(p * img.channels) & 0xFF
          val g = img.pixels(p * img.channels + 1) & 0xFF
          val b = img.pixels(p * img.channels + 2) & 0xFF
          out(p) = (299 * r + 587 * g + 114 * b) / 1000
          p += 1
        }
    }
    out
  }

  /** Deterministic box-average downscale of a single-channel raster to
    * exactly tw×th: each target cell averages (floor) its source box —
    * pure integer arithmetic, no resampling library.
    */
  def boxDownscale(src: Array[Int], w: Int, h: Int, tw: Int, th: Int): Array[Int] = {
    require(tw > 0 && th > 0 && tw <= w && th <= h,
      s"target ${tw}x$th must fit in ${w}x$h")
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = (ty.toLong * h / th).toInt
      val y1 = math.max(((ty + 1).toLong * h / th).toInt, y0 + 1)
      var tx = 0
      while (tx < tw) {
        val x0 = (tx.toLong * w / tw).toInt
        val x1 = math.max(((tx + 1).toLong * w / tw).toInt, x0 + 1)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += src(y * w + x); x += 1 }
          y += 1
        }
        out(ty * tw + tx) = (sum / ((y1 - y0).toLong * (x1 - x0))).toInt
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Box-downscale every channel of an image to tw×th (the real resize
    * behind [[Multimodal.resizeImages]]).
    */
  def resize(img: Image, tw: Int, th: Int): Image = {
    val ch = img.channels
    val out = new Array[Byte](tw * th * ch)
    val plane = new Array[Int](img.width * img.height)
    var c = 0
    while (c < ch) {
      var p = 0
      while (p < plane.length) { plane(p) = img.pixels(p * ch + c) & 0xFF; p += 1 }
      val small =
        if (tw <= img.width && th <= img.height)
          boxDownscale(plane, img.width, img.height, tw, th)
        else nearestUpscale(plane, img.width, img.height, tw, th)
      var q = 0
      while (q < small.length) { out(q * ch + c) = small(q).toByte; q += 1 }
      c += 1
    }
    Image(tw, th, ch, out)
  }

  private def nearestUpscale(src: Array[Int], w: Int, h: Int, tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val sy = math.min((ty.toLong * h / th).toInt, h - 1)
      var tx = 0
      while (tx < tw) {
        out(ty * tw + tx) = src(sy * w + math.min((tx.toLong * w / tw).toInt, w - 1))
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Classic aHash over REAL pixels: 8×8 box-downscaled grayscale, bit b
    * set when cell b exceeds the 64-cell mean — the pixel-layer twin of
    * [[StubDecoders.perceptualHash]]'s byte-stream form, invariant to
    * re-encoding (same pixels → same hash regardless of compression).
    */
  def aHash(img: Image): Long = {
    val g = toGray(img)
    val cells =
      if (img.width >= 8 && img.height >= 8) boxDownscale(g, img.width, img.height, 8, 8)
      else nearestUpscale(g, img.width, img.height, 8, 8)
    var total = 0L
    var i = 0
    while (i < 64) { total += cells(i); i += 1 }
    var h = 0L
    i = 0
    while (i < 64) {
      if (cells(i).toLong * 64 > total) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Real-pixel decode for the formats OUR codec doesn't own, via the
    * JDK's built-in ImageIO (java.desktop — part of the JDK, still zero
    * external dependencies): JPEG, GIF, BMP, and any PNG variant outside
    * the 8-bit non-interlaced envelope. Headless-safe. Returns RGB or
    * RGBA 8-bit rasters. Note the determinism scope: bit-exact within a
    * JDK, not contractually bit-exact ACROSS JDK major versions for
    * JPEG (color management) — which is why [[decode]] (fully
    * deterministic by construction) is tried first and remains the
    * canonical path for PNG.
    */
  /** Once-per-JVM ImageIO configuration for every JDK-arm codec path:
    * headless mode plus memory-backed streams (the default ImageIO cache
    * writes a temp FILE per payload — measured 3-5× on small-image
    * corpora). `setUseCache` is a PROCESS-GLOBAL mutation — any other
    * ImageIO user in the same JVM sees it; acceptable for this engine
    * (executors are ours), and deliberately applied ONCE here rather
    * than inside per-payload decode helpers. Referencing this lazy val
    * from a task thread initializes it exactly once per executor JVM.
    */
  private[graft] lazy val jdkImageIoInit: Unit = {
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
  }

  def decodeViaJdk(bytes: Array[Byte]): Option[Image] = {
    if (bytes.length < 4) return None
    try {
      jdkImageIoInit
      val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (bi == null) return None
      val w = bi.getWidth; val h = bi.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h * 4 > (1L << 28)) return None
      val hasAlpha = bi.getColorModel.hasAlpha
      val ch = if (hasAlpha) 4 else 3
      val out = new Array[Byte](w * h * ch)
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        bi.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val argb = row(x)
          val p = (y * w + x) * ch
          out(p) = ((argb >> 16) & 0xFF).toByte
          out(p + 1) = ((argb >> 8) & 0xFF).toByte
          out(p + 2) = (argb & 0xFF).toByte
          if (hasAlpha) out(p + 3) = ((argb >>> 24) & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      Some(Image(w, h, ch, out))
    } catch { case _: Exception => None }
  }

  /** Canonical pixel decode: our deterministic codec first, the JDK's
    * ImageIO for everything else it can read.
    */
  def decodeAny(bytes: Array[Byte]): Option[Image] =
    decode(bytes).orElse(Jpeg.decode(bytes))
      .orElse(Vp8l.decode(bytes).map(Vp8l.toPngImage))
      .orElse(Vp8.decodeToImage(bytes))
      .orElse(Bmp.decode(bytes))
      .orElse(Ico.decode(bytes))
      .orElse(TiffImg.decode(bytes))
      .orElse(if (Pnm.isPnm(bytes)) Pnm.decode(bytes) else None)
      .orElse(Webm.decodeFirstFrame(bytes)) // video thumbnail (EBML magic)
      .orElse(decodeViaJdk(bytes))

  /** Pixel-layer content identity: CRC32 over dims + channels + raw
    * samples. Invariant across re-encodes of the same raster (compressed
    * bytes differ, pixel checksum doesn't) — the media twin of text
    * content fingerprints.
    */
  def pixelChecksum(img: Image): Long = {
    val crc = new CRC32()
    val hdr = new Array[Byte](12)
    putBe32(hdr, 0, img.width); putBe32(hdr, 4, img.height)
    putBe32(hdr, 8, img.channels)
    crc.update(hdr)
    crc.update(img.pixels)
    crc.getValue
  }

  /** Channel-statistics embedding from real pixels: per-channel 16-bin
    * histograms (fractions) padded/truncated to `dim`, unit-normalized —
    * deterministic, and near-duplicate IMAGES (same pixels, different
    * compression) embed identically, which the content-hash stub cannot
    * do.
    */
  def features(img: Image, dim: Int): Array[Float] = {
    val ch = img.channels
    val n = img.width * img.height
    val hist = new Array[Float](ch * 16)
    var p = 0
    while (p < n) {
      var c = 0
      while (c < ch) {
        hist(c * 16 + ((img.pixels(p * ch + c) & 0xFF) >> 4)) += 1f
        c += 1
      }
      p += 1
    }
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) { out(i) = if (i < hist.length) hist(i) / n else 0f; i += 1 }
    var norm = 0.0
    i = 0
    while (i < dim) { norm += out(i).toDouble * out(i); i += 1 }
    val inv = if (norm > 0) (1.0 / math.sqrt(norm)).toFloat else 0f
    i = 0
    while (i < dim) { out(i) *= inv; i += 1 }
    out
  }
}
