package graft.ext

/** VP8L — WebP lossless bitstream decode (and a fixture encoder).
  *
  * Closes the round-12 envelope cut in [[Webp]] (metadata-only): VP8L is
  * fully deterministic and losslessly invertible, so unlike lossy VP8 it
  * is self-certifiable with encode-side fixtures — the same
  * builder-feeds-parser certificate discipline as PNG/FLAC.
  *
  * Decode implements the public "WebP Lossless Bitstream Specification":
  *   - LSB-first bit reader over the VP8L chunk payload (0x2F signature,
  *     14-bit w-1/h-1, alpha hint, 3-bit version);
  *   - all four transforms (predictor, cross-color, subtract-green,
  *     color-indexing incl. sub-byte pixel packing), applied inverse in
  *     reverse declaration order;
  *   - entropy image: optional color cache (hash 0x1e35a7bd) then, for
  *     the spatially-coded image only, an optional meta prefix-code
  *     image (that spec field order is certified against a REAL
  *     libwebp-encoded stream in Vp8lInteropSpec, alongside
  *     [[decodeHeaderless]] for ALPH lossless-coded alpha planes);
  *     five canonical prefix codes per group
  *     (green+length+cache / red / blue / alpha / distance), both the
  *     1–2-symbol simple form and the code-length-coded normal form
  *     (symbols 16/17/18 repeats, optional max_symbol);
  *   - LZ77 backward references with the DEFLATE-style prefix length /
  *     distance scheme and the 120-entry 2D neighbor plane-code map.
  * Prefix codes follow the DEFLATE canonical convention (code MSB read
  * first from the LSB-first stream), matching the spec's "packed like in
  * DEFLATE" language.
  *
  * The encoder emits a deliberately plain but fully-conformant stream —
  * no transforms, no color cache, one prefix-code group, canonical codes
  * written through the full code-length-code machinery, optional
  * whole-row LZ77 copies (distance = width via plane code) so the
  * reference path is exercised — enough to certify every decoder stage
  * the fixtures can reach byte-exactly.
  */
object Vp8l {

  final case class Image(width: Int, height: Int, argb: Array[Int])

  // ------------------------------------------------- canonical prefix code

  /** Decode-side canonical prefix code: first-read bit is the code's MSB
    * (DEFLATE convention). Represented as, per length, the canonical
    * first code and the symbol table slice — O(maxLen) per symbol, fine
    * at fixture/corpus scale and allocation-free per symbol.
    */
  private final class Prefix(lengths: Array[Int]) {
    private val maxLen = lengths.max
    // count per length; canonical ordering (length, then symbol index)
    private val count = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) count(l) += 1)
    private val firstCode = new Array[Int](maxLen + 2)
    private val firstIdx = new Array[Int](maxLen + 2)
    private val symbols = new Array[Int](count.sum)
    locally {
      var code = 0
      var idx = 0
      var l = 1
      while (l <= maxLen) {
        firstCode(l) = code
        firstIdx(l) = idx
        code = (code + count(l)) << 1
        idx += count(l)
        l += 1
      }
      val next = new Array[Int](maxLen + 1)
      var s = 0
      while (s < lengths.length) {
        val len = lengths(s)
        if (len > 0) {
          symbols(firstIdx(len) + next(len)) = s
          next(len) += 1
        }
        s += 1
      }
    }
    val singleSymbol: Int = // a 1-symbol code consumes ZERO bits
      if (symbols.length == 1) symbols(0) else -1

    def read(r: LsbReader): Int = {
      if (singleSymbol >= 0) return singleSymbol
      var code = 0
      var len = 0
      while (len < maxLen) {
        code = (code << 1) | r.bit()
        len += 1
        val off = code - firstCode(len)
        if (off >= 0 && off < count(len)) return symbols(firstIdx(len) + off)
      }
      throw new IllegalArgumentException("vp8l: bad prefix code")
    }
  }

  /** Read one prefix code (simple or normal form) for `alphabetSize`. */
  private def readPrefixCode(r: LsbReader, alphabetSize: Int): Prefix = {
    val lengths = new Array[Int](alphabetSize)
    if (r.bit() == 1) { // simple: 1 or 2 symbols
      val numSymbols = r.bit() + 1
      val first8 = r.bit()
      val s0 = r.bits(if (first8 == 1) 8 else 1)
      if (s0 >= alphabetSize) throw new IllegalArgumentException("vp8l: sym")
      lengths(s0) = 1
      if (numSymbols == 2) {
        val s1 = r.bits(8)
        if (s1 >= alphabetSize || s1 == s0)
          throw new IllegalArgumentException("vp8l: sym")
        lengths(s1) = 1
      }
      // a 1-symbol code reads zero bits (Prefix.singleSymbol)
      new Prefix(lengths)
    } else {
      val Order = Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11,
        12, 13, 14, 15)
      val numCodeLengths = 4 + r.bits(4)
      if (numCodeLengths > Order.length)
        throw new IllegalArgumentException("vp8l: clc count")
      val clcLengths = new Array[Int](19)
      var i = 0
      while (i < numCodeLengths) { clcLengths(Order(i)) = r.bits(3); i += 1 }
      if (clcLengths.forall(_ == 0))
        throw new IllegalArgumentException("vp8l: empty clc")
      val clc = new Prefix(clcLengths)
      val maxSymbol =
        if (r.bit() == 1) {
          val lengthNBits = 2 + 2 * r.bits(3)
          2 + r.bits(lengthNBits)
        } else alphabetSize
      var sym = 0
      var prevLen = 8
      var budget = maxSymbol
      while (sym < alphabetSize && budget > 0) {
        budget -= 1
        val c = clc.read(r)
        c match {
          case x if x < 16 =>
            lengths(sym) = x; sym += 1
            if (x != 0) prevLen = x
          case 16 =>
            val rep = 3 + r.bits(2)
            var k = 0
            while (k < rep && sym < alphabetSize) {
              lengths(sym) = prevLen; sym += 1; k += 1
            }
          case 17 =>
            sym += 3 + r.bits(3)
          case _ =>
            sym += 11 + r.bits(7)
        }
      }
      if (sym > alphabetSize) throw new IllegalArgumentException("vp8l: overflow")
      new Prefix(lengths)
    }
  }


  // the DEFLATE-style LZ77 prefix value: code<4 → code+1; else extra bits
  private def lz77Value(r: LsbReader, code: Int): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + r.bits(extra) + 1
    }

  /** 120-entry plane-code → (y, 8-x) neighbor map (spec table): high
    * nibble = y offset, low nibble = 8 − x offset.
    */
  private val CodeToPlane: Array[Int] = Array(
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1a,
    0x26, 0x2a, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1b, 0x36, 0x3a,
    0x25, 0x2b, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1c, 0x46, 0x4a,
    0x35, 0x3b, 0x24, 0x2c, 0x58, 0x45, 0x4b, 0x34, 0x3c, 0x03,
    0x57, 0x59, 0x13, 0x1d, 0x56, 0x5a, 0x23, 0x2d, 0x44, 0x4c,
    0x55, 0x5b, 0x33, 0x3d, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1e,
    0x66, 0x6a, 0x22, 0x2e, 0x54, 0x5c, 0x43, 0x4d, 0x65, 0x6b,
    0x32, 0x3e, 0x78, 0x01, 0x77, 0x79, 0x53, 0x5d, 0x11, 0x1f,
    0x64, 0x6c, 0x42, 0x4e, 0x76, 0x7a, 0x21, 0x2f, 0x75, 0x7b,
    0x52, 0x5e, 0x31, 0x3f, 0x88, 0x00, 0x74, 0x7c, 0x89, 0x87,
    0x63, 0x6d, 0x41, 0x4f, 0x8a, 0x86, 0x62, 0x6e, 0x51, 0x5f,
    0x8b, 0x85, 0x73, 0x7d, 0x8c, 0x84, 0x61, 0x6f, 0x8d, 0x83)

  private def planeCodeToDistance(xsize: Int, code: Int): Int =
    if (code > CodeToPlane.length) code - CodeToPlane.length
    else {
      val d = CodeToPlane(code - 1)
      val dist = (d >> 4) * xsize + (8 - (d & 0xF))
      if (dist >= 1) dist else 1
    }

  // ------------------------------------------------- entropy-coded image

  private final class Group(
      val green: Prefix, val red: Prefix, val blue: Prefix,
      val alpha: Prefix, val dist: Prefix)

  /** Decode one entropy-coded image of w×h ARGB pixels. `spatial` images
    * (the main one) may carry a meta prefix-code image and color cache;
    * transform/palette sub-images may not.
    */
  private def decodeImage(r: LsbReader, w: Int, h: Int, spatial: Boolean): Array[Int] = {
    var cacheBits = 0
    var metaBits = 0
    var metaImage: Array[Int] = null
    var metaW = 0
    // field order per the spec ABNF: color-cache-info comes FIRST
    // (spatially-coded-image = color-cache-info meta-prefix data;
    // entropy-coded-image = color-cache-info data) — pinned against a
    // real libwebp-encoded stream in Vp8lInteropSpec
    if (r.bit() == 1) { // color cache (allowed on any image per spec)
      cacheBits = r.bits(4)
      if (cacheBits < 1 || cacheBits > 11)
        throw new IllegalArgumentException("vp8l: cache bits")
    }
    if (spatial && r.bit() == 1) { // meta prefix codes
      metaBits = r.bits(3) + 2
      metaW = (w + (1 << metaBits) - 1) >> metaBits
      val metaH = (h + (1 << metaBits) - 1) >> metaBits
      metaImage = decodeImage(r, metaW, metaH, spatial = false)
    }
    val numGroups =
      if (metaImage == null) 1
      else metaImage.map(p => ((p >> 8) & 0xFFFF)).max + 1
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val groups = Array.fill(numGroups) {
      new Group(
        readPrefixCode(r, 256 + 24 + cacheSize),
        readPrefixCode(r, 256), readPrefixCode(r, 256),
        readPrefixCode(r, 256), readPrefixCode(r, 40))
    }
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    def cacheInsert(px: Int): Unit =
      if (cache != null)
        cache(((0x1e35a7bd * px) >>> (32 - cacheBits)).toInt) = px
    val out = new Array[Int](w * h)
    var i = 0
    while (i < out.length) {
      val x = i % w
      val y = i / w
      val g =
        if (metaImage == null) groups(0)
        else {
          val mp = metaImage((y >> metaBits) * metaW + (x >> metaBits))
          groups((mp >> 8) & 0xFFFF)
        }
      val s = g.green.read(r)
      if (s < 256) {
        val red = g.red.read(r)
        val blue = g.blue.read(r)
        val alpha = g.alpha.read(r)
        val px = (alpha << 24) | (red << 16) | (s << 8) | blue
        out(i) = px
        cacheInsert(px)
        i += 1
      } else if (s < 256 + 24) {
        val length = lz77Value(r, s - 256)
        val distCode = lz77Value(r, g.dist.read(r))
        val dist = planeCodeToDistance(w, distCode)
        if (dist > i || length > out.length - i)
          throw new IllegalArgumentException("vp8l: bad backref")
        var k = 0
        while (k < length) {
          out(i + k) = out(i + k - dist)
          cacheInsert(out(i + k))
          k += 1
        }
        i += length
      } else {
        if (cache == null) throw new IllegalArgumentException("vp8l: no cache")
        val px = cache(s - 256 - 24)
        out(i) = px
        i += 1
      }
    }
    out
  }

  // ------------------------------------------------- inverse transforms

  private def avg2(a: Int, b: Int): Int = {
    // per-channel (a+b)/2
    (((a ^ b) & 0xFEFEFEFE) >>> 1) + (a & b)
  }

  private def addPixels(a: Int, b: Int): Int = {
    // per-channel modular add
    val alphaAndGreen = (a & 0xFF00FF00L) + (b & 0xFF00FF00L)
    val redAndBlue = (a & 0x00FF00FFL) + (b & 0x00FF00FFL)
    ((alphaAndGreen & 0xFF00FF00L) | (redAndBlue & 0x00FF00FFL)).toInt
  }

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def select(l: Int, t: Int, tl: Int): Int = {
    def ch(p: Int, s: Int) = (p >>> s) & 0xFF
    val pAlpha = ch(l, 24) + ch(t, 24) - ch(tl, 24)
    val pRed = ch(l, 16) + ch(t, 16) - ch(tl, 16)
    val pGreen = ch(l, 8) + ch(t, 8) - ch(tl, 8)
    val pBlue = ch(l, 0) + ch(t, 0) - ch(tl, 0)
    val pl = math.abs(pAlpha - ch(l, 24)) + math.abs(pRed - ch(l, 16)) +
      math.abs(pGreen - ch(l, 8)) + math.abs(pBlue - ch(l, 0))
    val pt = math.abs(pAlpha - ch(t, 24)) + math.abs(pRed - ch(t, 16)) +
      math.abs(pGreen - ch(t, 8)) + math.abs(pBlue - ch(t, 0))
    if (pl < pt) l else t
  }

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int = {
    def ch(p: Int, s: Int) = (p >>> s) & 0xFF
    var out = 0
    var s = 0
    while (s < 32) {
      out |= clamp255(ch(l, s) + ch(t, s) - ch(tl, s)) << s
      s += 8
    }
    out
  }

  private def clampAddSubtractHalf(l: Int, t: Int, tl: Int): Int = {
    val ave = avg2(l, t)
    def ch(p: Int, s: Int) = (p >>> s) & 0xFF
    var out = 0
    var s = 0
    while (s < 32) {
      val a = ch(ave, s)
      out |= clamp255(a + (a - ch(tl, s)) / 2) << s
      s += 8
    }
    out
  }

  private def applyInversePredictor(argb: Array[Int], w: Int, h: Int,
      bits: Int, modes: Array[Int], modesW: Int): Unit = {
    var i = 0
    while (i < argb.length) {
      val x = i % w
      val y = i / w
      val pred =
        if (i == 0) 0xFF000000
        else if (y == 0) argb(i - 1) // first row: L
        else if (x == 0) argb(i - w) // first column: T
        else {
          val mode = (modes((y >> bits) * modesW + (x >> bits)) >> 8) & 0xFF
          val l = argb(i - 1)
          val t = argb(i - w)
          val tl = argb(i - w - 1)
          // linear-buffer semantics per the spec pseudo-code: at the last
          // column, i - w + 1 IS the current row's (already decoded)
          // first pixel
          val tr = argb(i - w + 1)
          mode match {
            case 0  => 0xFF000000
            case 1  => l
            case 2  => t
            case 3  => tr
            case 4  => tl
            case 5  => avg2(avg2(l, tr), t)
            case 6  => avg2(l, tl)
            case 7  => avg2(l, t)
            case 8  => avg2(tl, t)
            case 9  => avg2(t, tr)
            case 10 => avg2(avg2(l, tl), avg2(t, tr))
            case 11 => select(l, t, tl)
            case 12 => clampAddSubtractFull(l, t, tl)
            case 13 => clampAddSubtractHalf(l, t, tl)
            case _  => throw new IllegalArgumentException("vp8l: predictor")
          }
        }
      argb(i) = addPixels(argb(i), pred)
      i += 1
    }
  }

  private def colorTransformDelta(t: Int, c: Int): Int =
    (t.toByte.toInt * c.toByte.toInt) >> 5

  private def applyInverseColor(argb: Array[Int], w: Int, h: Int,
      bits: Int, cte: Array[Int], cteW: Int): Unit = {
    var i = 0
    while (i < argb.length) {
      val x = i % w
      val y = i / w
      val e = cte((y >> bits) * cteW + (x >> bits))
      // ColorTransformElement packing (spec): green_to_red in the BLUE
      // channel, green_to_blue in GREEN, red_to_blue in RED
      val g2r = e & 0xFF
      val g2b = (e >> 8) & 0xFF
      val r2b = (e >> 16) & 0xFF
      val px = argb(i)
      val green = (px >> 8) & 0xFF
      var red = (px >> 16) & 0xFF
      var blue = px & 0xFF
      red = (red + colorTransformDelta(g2r, green)) & 0xFF
      blue = (blue + colorTransformDelta(g2b, green)) & 0xFF
      blue = (blue + colorTransformDelta(r2b, red)) & 0xFF
      argb(i) = (px & 0xFF00FF00) | (red << 16) | blue
      i += 1
    }
  }

  private def applyInverseSubtractGreen(argb: Array[Int]): Unit = {
    var i = 0
    while (i < argb.length) {
      val px = argb(i)
      val g = (px >> 8) & 0xFF
      val r = (((px >> 16) & 0xFF) + g) & 0xFF
      val b = ((px & 0xFF) + g) & 0xFF
      argb(i) = (px & 0xFF00FF00) | (r << 16) | b
      i += 1
    }
  }

  // -------------------------------------------------------------- decode

  private final case class Transform(kind: Int, bits: Int,
      data: Array[Int], dataW: Int)

  /** Decode a raw VP8L chunk payload (leading 0x2F signature). */
  def decodePayload(b: Array[Byte]): Option[Image] = {
    try {
      if (b == null || b.length < 5 || (b(0) & 0xFF) != 0x2F) return None
      val r = new LsbReader(b, 1)
      val w = r.bits(14) + 1
      val h = r.bits(14) + 1
      r.bit() // alpha hint
      if (r.bits(3) != 0) return None // version must be 0
      decodeBody(r, w, h)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decode a HEADERLESS VP8L stream (no 0x2F signature / 14-bit size
    * fields) with dimensions supplied out-of-band — the form libwebp
    * emits for lossless-coded alpha planes (ALPH chunk, compression
    * method 1): the stream starts directly at the transform list, exactly
    * like the post-header body of a VP8L chunk. This is the interop seam
    * Vp8lInteropSpec certifies against a real libwebp-encoded artifact.
    */
  def decodeHeaderless(b: Array[Byte], w: Int, h: Int): Option[Image] = {
    try {
      if (b == null || b.length < 1 || w < 1 || h < 1) return None
      decodeBody(new LsbReader(b), w, h)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def decodeBody(r: LsbReader, w: Int, h: Int): Option[Image] = {
    {
      if (w.toLong * h > 16L * 1024 * 1024)
        throw new IllegalArgumentException("vp8l: image too large")
      // transforms, in declaration order
      var transforms = List.empty[Transform]
      var xsize = w
      var seen = 0
      while (r.bit() == 1) {
        val kind = r.bits(2)
        if ((seen & (1 << kind)) != 0)
          throw new IllegalArgumentException("vp8l: dup transform")
        seen |= 1 << kind
        kind match {
          case 0 | 1 => // predictor / cross-color: block-mode sub-image
            val bits = r.bits(3) + 2
            val tw = (xsize + (1 << bits) - 1) >> bits
            val th = (h + (1 << bits) - 1) >> bits
            val data = decodeImage(r, tw, th, spatial = false)
            transforms ::= Transform(kind, bits, data, tw)
          case 2 => // subtract-green
            transforms ::= Transform(2, 0, null, 0)
          case _ => // color indexing
            val paletteSize = r.bits(8) + 1
            val pal = decodeImage(r, paletteSize, 1, spatial = false)
            // palette entries are delta-coded per channel
            var k = 1
            while (k < pal.length) { pal(k) = addPixels(pal(k), pal(k - 1)); k += 1 }
            val paletteBits =
              if (paletteSize <= 2) 3
              else if (paletteSize <= 4) 2
              else if (paletteSize <= 16) 1
              else 0
            transforms ::= Transform(3, paletteBits, pal, 0)
            xsize = (xsize + (1 << paletteBits) - 1) >> paletteBits
        }
      }
      // main image at (possibly packed) xsize
      var argb = decodeImage(r, xsize, h, spatial = true)
      var curW = xsize
      // inverse transforms, reverse declaration order
      transforms.foreach { t =>
        t.kind match {
          case 0 => applyInversePredictor(argb, curW, h, t.bits, t.data, t.dataW)
          case 1 => applyInverseColor(argb, curW, h, t.bits, t.data, t.dataW)
          case 2 => applyInverseSubtractGreen(argb)
          case 3 =>
            val pal = t.data
            val out = new Array[Int](w * h)
            if (t.bits > 0) {
              val perByte = 1 << t.bits           // pixels packed per green byte
              val idxBits = 8 >> t.bits           // bits per index
              val idxMask = (1 << idxBits) - 1
              var i = 0
              while (i < out.length) {
                val x = i % w
                val y = i / w
                val packed = (argb(y * curW + (x >> t.bits)) >> 8) & 0xFF
                val idx = (packed >> (idxBits * (x % perByte))) & idxMask
                out(i) = if (idx < pal.length) pal(idx) else 0
                i += 1
              }
            } else {
              var i = 0
              while (i < out.length) {
                val idx = (argb(i) >> 8) & 0xFF
                out(i) = if (idx < pal.length) pal(idx) else 0
                i += 1
              }
            }
            argb = out
            curW = w
        }
      }
      Some(Image(w, h, argb))
    }
  }

  /** Decode a full RIFF/WEBP container holding a VP8L chunk. */
  def decode(b: Array[Byte]): Option[Image] = {
    if (b == null || b.length < 20) return None
    try {
      if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
            b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P'))
        return decodePayload(b) // bare chunk payload
      var p = 12
      while (p + 8 <= b.length) {
        val cc = new String(b, p, 4, "US-ASCII")
        val size = Bytes.le32(b, p + 4)
        if (size < 0 || p + 8 + size > b.length) return None
        if (cc == "VP8L")
          return decodePayload(java.util.Arrays.copyOfRange(b, p + 8, p + 8 + size))
        p += 8 + size + (size & 1)
      }
      None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // -------------------------------------------------------------- encode

  /** Canonical code lengths (max 15) for a symbol histogram — standard
    * Huffman over parent-pointer node arrays (no per-merge list churn:
    * the original list-concat form was the dominant encoder cost at
    * corpus scale, 26.7 µs/doc in the 1.6 M DocSoak). Falls back to flat
    * lengths if depth would exceed `maxLen` (never at fixture scale).
    */
  private def huffmanLengths(freq: Array[Long], maxLen: Int = 15): Array[Int] = {
    val used = freq.zipWithIndex.filter(_._1 > 0).map(_._2)
    val lengths = new Array[Int](freq.length)
    if (used.length == 0) return lengths
    if (used.length == 1) { lengths(used(0)) = 1; return lengths }
    val n = used.length
    val weight = new Array[Long](2 * n - 1)
    val parent = new Array[Int](2 * n - 1)
    java.util.Arrays.fill(parent, -1)
    var i = 0
    while (i < n) { weight(i) = freq(used(i)); i += 1 }
    // small binary heap of node indices ordered by (weight, index)
    val heap = new Array[Int](2 * n - 1)
    var hn = 0
    def less(a: Int, b: Int): Boolean =
      weight(a) < weight(b) || (weight(a) == weight(b) && a < b)
    def push(x: Int): Unit = {
      heap(hn) = x; hn += 1
      var c = hn - 1
      while (c > 0 && less(heap(c), heap((c - 1) / 2))) {
        val t = heap(c); heap(c) = heap((c - 1) / 2); heap((c - 1) / 2) = t
        c = (c - 1) / 2
      }
    }
    def pop(): Int = {
      val top = heap(0)
      hn -= 1
      heap(0) = heap(hn)
      var c = 0
      var done = false
      while (!done) {
        val l = 2 * c + 1
        val r = 2 * c + 2
        var m = c
        if (l < hn && less(heap(l), heap(m))) m = l
        if (r < hn && less(heap(r), heap(m))) m = r
        if (m == c) done = true
        else { val t = heap(c); heap(c) = heap(m); heap(m) = t; c = m }
      }
      top
    }
    i = 0
    while (i < n) { push(i); i += 1 }
    var nextNode = n
    while (hn > 1) {
      val a = pop()
      val b = pop()
      weight(nextNode) = weight(a) + weight(b)
      parent(a) = nextNode
      parent(b) = nextNode
      push(nextNode)
      nextNode += 1
    }
    var overflow = false
    i = 0
    while (i < n) {
      var depth = 0
      var p = parent(i)
      while (p >= 0) { depth += 1; p = parent(p) }
      lengths(used(i)) = depth
      if (depth > maxLen) overflow = true
      i += 1
    }
    if (overflow) {
      // degenerate skew beyond depth budget: flatten to uniform lengths
      val bits = 32 - Integer.numberOfLeadingZeros(n - 1)
      java.util.Arrays.fill(lengths, 0)
      used.foreach(s => lengths(s) = bits)
    }
    lengths
  }

  /** Canonical codes from lengths (symbol order within length). */
  private def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val maxLen = lengths.max
    val count = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) count(l) += 1)
    val next = new Array[Int](maxLen + 2)
    var code = 0
    var l = 1
    while (l <= maxLen) {
      next(l) = code
      code = (code + count(l)) << 1
      l += 1
    }
    lengths.map { len =>
      if (len == 0) 0
      else { val c = next(len); next(len) += 1; c }
    }
  }

  /** Emit one prefix code: simple form for ≤2 distinct symbols, else the
    * normal code-length-coded form (no 16/17/18 repeats — plain 3-bit
    * clc over the literal lengths; size-suboptimal, fully conformant).
    */
  private def writePrefixCode(wr: LsbWriter, lengths: Array[Int]): Unit = {
    val used = lengths.zipWithIndex.filter(_._1 > 0).map(_._2)
    if (used.length <= 2 && used.forall(_ < 256) &&
        (used.length < 2 || used(0) < 256)) {
      wr.bits(1, 1) // simple
      wr.bits(if (used.length == 2) 1 else 0, 1)
      val s0 = if (used.isEmpty) 0 else used(0)
      if (s0 < 2 && used.length < 2) { wr.bits(0, 1); wr.bits(s0, 1) }
      else { wr.bits(1, 1); wr.bits(s0, 8) }
      if (used.length == 2) wr.bits(used(1), 8)
    } else {
      wr.bits(0, 1) // normal
      val Order = Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11,
        12, 13, 14, 15)
      // clc over the length symbols 0..15 that occur (incl. zeros)
      val clcFreq = new Array[Long](19)
      lengths.foreach(l => clcFreq(l) += 1)
      val clcLengths = huffmanLengths(clcFreq, maxLen = 7)
      wr.bits(19 - 4, 4) // emit all 19 clc entries
      Order.foreach(o => wr.bits(clcLengths(o), 3))
      wr.bits(0, 1) // no max_symbol
      val clcCodes = canonicalCodes(clcLengths)
      lengths.foreach(l => wr.code(clcCodes(l), clcLengths(l)))
    }
  }

  /** Encoder options — each switches on a decoder arm so the roundtrip
    * certificates can reach it:
    *   - rowCopy: LZ77 row references (length/distance prefix values +
    *     the 2D plane-code map);
    *   - subtractGreen / colorTransform / predictorT: the three
    *     pixel-space transforms (constant-element sub-images for the
    *     latter two — mode 2 "T" predictor, fixed cross-color
    *     multipliers);
    *   - palette: color-indexing incl. sub-byte packing when ≤16 colors;
    *   - cacheBits: the color cache (hash 0x1e35a7bd) on literals;
    *   - metaTrivial: a meta prefix-code image (all blocks → group 0).
    * palette is mutually exclusive with the pixel-space transforms (the
    * common encoder split, and it keeps the forward pipeline simple).
    */
  private[graft] final case class EncOpts(
      rowCopy: Boolean = true,
      subtractGreen: Boolean = false,
      colorTransform: Boolean = false,
      predictorT: Boolean = false,
      palette: Boolean = false,
      cacheBits: Int = 0,
      metaTrivial: Boolean = false)

  private def sub8(a: Int, b: Int): Int = { // per-channel modular subtract
    var out = 0
    var s = 0
    while (s < 32) {
      out |= ((((a >>> s) & 0xFF) - ((b >>> s) & 0xFF)) & 0xFF) << s
      s += 8
    }
    out
  }

  // the constant cross-color element the encoder uses (green_to_red in
  // BLUE channel, green_to_blue in GREEN, red_to_blue in RED)
  private val EncCte: Int = 0xFF000000 | (0x0C << 16) | (0x1A << 8) | 0x10

  /** One entropy-coded image (the shared core of the main image and the
    * transform/palette sub-images). Histogram pass and emission pass
    * simulate the color cache identically, so the decoder's cache state
    * replays bit-exactly.
    */
  private def writeEntropyImage(wr: LsbWriter, argb: Array[Int], w: Int, h: Int,
      rowCopy: Boolean, cacheBits: Int, spatial: Boolean,
      metaTrivial: Boolean = false): Unit = {
    // emission order mirrors the decode/spec order: color-cache-info
    // first, then (spatial only) the meta prefix image
    if (cacheBits > 0) { wr.bits(1, 1); wr.bits(cacheBits, 4) }
    else wr.bits(0, 1)
    if (spatial) {
      if (metaTrivial) {
        // meta prefix-code image: every block selects group 0 — pixels
        // all zero, (red<<8|green) = 0
        wr.bits(1, 1)
        wr.bits(0, 3) // huffman_bits = 2
        val mw = (w + 3) >> 2
        val mh = (h + 3) >> 2
        writeEntropyImage(wr, new Array[Int](mw * mh), mw, mh,
          rowCopy = false, cacheBits = 0, spatial = false)
      } else wr.bits(0, 1)
    }
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    val cacheUsed = if (cacheSize > 0) new Array[Boolean](cacheSize) else null
    def cacheIdx(px: Int): Int = ((0x1e35a7bd * px) >>> (32 - cacheBits)).toInt
    val copyRow = new Array[Boolean](h)
    if (rowCopy) {
      var y = 1
      while (y < h) {
        var same = true
        var x = 0
        while (same && x < w) {
          if (argb(y * w + x) != argb((y - 1) * w + x)) same = false
          x += 1
        }
        copyRow(y) = same
        y += 1
      }
    }
    val greenF = new Array[Long](256 + 24 + cacheSize)
    val redF = new Array[Long](256)
    val blueF = new Array[Long](256)
    val alphaF = new Array[Long](256)
    val distF = new Array[Long](40)
    val (lenCode, lenExtra, lenExtraBits) = lz77Code(w)
    val (distCode, distExtra, distExtraBits) = lz77Code(1) // plane code 1 → dist = w
    // the per-pixel walk, shared by the histogram and emission passes so
    // the cache simulation cannot diverge between them
    def walk(lit: (Int, Boolean) => Unit, ref: () => Unit): Unit = {
      if (cache != null) {
        java.util.Arrays.fill(cache, 0)
        java.util.Arrays.fill(cacheUsed, false)
      }
      var i = 0
      while (i < argb.length) {
        val y = i / w
        if (copyRow(y)) {
          ref()
          var k = 0
          while (k < w) { // backref-copied pixels enter the cache
            if (cache != null) {
              val px = argb(i + k)
              cache(cacheIdx(px)) = px; cacheUsed(cacheIdx(px)) = true
            }
            k += 1
          }
          i += w
        } else {
          val px = argb(i)
          val hit = cache != null && cacheUsed(cacheIdx(px)) &&
            cache(cacheIdx(px)) == px
          lit(px, hit)
          if (!hit && cache != null) {
            cache(cacheIdx(px)) = px; cacheUsed(cacheIdx(px)) = true
          }
          i += 1
        }
      }
    }
    walk(
      (px, hit) =>
        if (hit) greenF(256 + 24 + cacheIdx(px)) += 1
        else {
          greenF((px >> 8) & 0xFF) += 1
          redF((px >> 16) & 0xFF) += 1
          blueF(px & 0xFF) += 1
          alphaF((px >>> 24) & 0xFF) += 1
        },
      () => { greenF(256 + lenCode) += 1; distF(distCode) += 1 })
    if (distF.forall(_ == 0)) distF(0) = 1 // distance tree must exist
    val greenL = huffmanLengths(greenF)
    val redL = huffmanLengths(redF)
    val blueL = huffmanLengths(blueF)
    val alphaL = huffmanLengths(alphaF)
    val distL = huffmanLengths(distF)
    writePrefixCode(wr, greenL)
    writePrefixCode(wr, redL)
    writePrefixCode(wr, blueL)
    writePrefixCode(wr, alphaL)
    writePrefixCode(wr, distL)
    val greenC = canonicalCodes(greenL)
    val redC = canonicalCodes(redL)
    val blueC = canonicalCodes(blueL)
    val alphaC = canonicalCodes(alphaL)
    val distC = canonicalCodes(distL)
    // a 1-symbol prefix code reads ZERO bits on the decode side — its
    // emissions must likewise be zero-bit
    val gMulti = greenL.count(_ > 0) > 1
    val rMulti = redL.count(_ > 0) > 1
    val bMulti = blueL.count(_ > 0) > 1
    val aMulti = alphaL.count(_ > 0) > 1
    val dMulti = distL.count(_ > 0) > 1
    walk(
      (px, hit) =>
        if (hit) {
          if (gMulti) {
            val sym = 256 + 24 + cacheIdx(px)
            wr.code(greenC(sym), greenL(sym))
          }
        } else {
          val g = (px >> 8) & 0xFF
          if (gMulti) wr.code(greenC(g), greenL(g))
          val rr = (px >> 16) & 0xFF
          if (rMulti) wr.code(redC(rr), redL(rr))
          val bb = px & 0xFF
          if (bMulti) wr.code(blueC(bb), blueL(bb))
          val aa = (px >>> 24) & 0xFF
          if (aMulti) wr.code(alphaC(aa), alphaL(aa))
        },
      () => {
        if (gMulti)
          wr.code(greenC(256 + lenCode), greenL(256 + lenCode))
        wr.bits(lenExtra, lenExtraBits)
        if (dMulti) wr.code(distC(distCode), distL(distCode))
        wr.bits(distExtra, distExtraBits)
      })
  }

  /** Encode an image as a conformant VP8L payload (see [[EncOpts]]). */
  private[graft] def encodePayload(img: Image, opts: EncOpts): Array[Byte] = {
    val w = img.width
    val h = img.height
    require(w >= 1 && w <= 16384 && h >= 1 && h <= 16384, "vp8l dims")
    require(img.argb.length == w * h, "vp8l pixel count")
    require(!(opts.palette &&
      (opts.subtractGreen || opts.colorTransform || opts.predictorT)),
      "palette is exclusive with pixel-space transforms")
    val wr = new LsbWriter
    wr.bits(0x2F, 8)
    wr.bits(w - 1, 14)
    wr.bits(h - 1, 14)
    wr.bits(if (img.argb.exists(p => (p >>> 24) != 0xFF)) 1 else 0, 1)
    wr.bits(0, 3) // version
    var pixels = img.argb.clone()
    var xsize = w
    if (opts.palette) {
      val distinct = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
      pixels.foreach(px => if (!distinct.contains(px)) distinct(px) = distinct.size)
      require(distinct.size <= 256, "palette: > 256 distinct colors")
      val pal = distinct.keys.toArray
      wr.bits(1, 1); wr.bits(3, 2) // transform: color indexing
      wr.bits(pal.length - 1, 8)
      // palette sub-image is per-channel delta-coded
      val delta = Array.tabulate(pal.length)(k =>
        if (k == 0) pal(0) else sub8(pal(k), pal(k - 1)))
      writeEntropyImage(wr, delta, pal.length, 1,
        rowCopy = false, cacheBits = 0, spatial = false)
      val bits =
        if (pal.length <= 2) 3
        else if (pal.length <= 4) 2
        else if (pal.length <= 16) 1
        else 0
      val idxBits = 8 >> bits
      val packedW = (w + (1 << bits) - 1) >> bits
      val packed = new Array[Int](packedW * h)
      var i = 0
      while (i < pixels.length) {
        val x = i % w
        val y = i / w
        val idx = distinct(pixels(i))
        val pi = y * packedW + (x >> bits)
        val shift = 8 + idxBits * (x & ((1 << bits) - 1))
        packed(pi) = (packed(pi) & 0xFF000000.toInt) | 0xFF000000 |
          (((packed(pi) >> 8) & 0xFF | (idx << (shift - 8))) << 8)
        i += 1
      }
      pixels = packed
      xsize = packedW
    } else {
      // declaration order == forward application order (decode inverts
      // in reverse): subtract-green, cross-color, predictor
      if (opts.subtractGreen) {
        wr.bits(1, 1); wr.bits(2, 2)
        var i = 0
        while (i < pixels.length) {
          val px = pixels(i)
          val g = (px >> 8) & 0xFF
          val r = (((px >> 16) & 0xFF) - g) & 0xFF
          val b = ((px & 0xFF) - g) & 0xFF
          pixels(i) = (px & 0xFF00FF00) | (r << 16) | b
          i += 1
        }
      }
      if (opts.colorTransform) {
        wr.bits(1, 1); wr.bits(1, 2)
        wr.bits(2, 3) // size_bits = 4 (16×16 blocks)
        val tw = (xsize + 15) >> 4
        val th = (h + 15) >> 4
        writeEntropyImage(wr, Array.fill(tw * th)(EncCte), tw, th,
          rowCopy = false, cacheBits = 0, spatial = false)
        val g2r = EncCte & 0xFF
        val g2b = (EncCte >> 8) & 0xFF
        val r2b = (EncCte >> 16) & 0xFF
        var i = 0
        while (i < pixels.length) {
          val px = pixels(i)
          val g = (px >> 8) & 0xFF
          val r = (px >> 16) & 0xFF
          val b = px & 0xFF
          val nr = (r - colorTransformDelta(g2r, g)) & 0xFF
          val nb = (b - colorTransformDelta(g2b, g) -
            colorTransformDelta(r2b, r)) & 0xFF
          pixels(i) = (px & 0xFF00FF00) | (nr << 16) | nb
          i += 1
        }
      }
      if (opts.predictorT) {
        wr.bits(1, 1); wr.bits(0, 2)
        wr.bits(2, 3) // size_bits = 4 (16×16 blocks)
        val tw = (xsize + 15) >> 4
        val th = (h + 15) >> 4
        // all blocks mode 2 (T) — mode lives in the green channel
        writeEntropyImage(wr, Array.fill(tw * th)(0xFF000000 | (2 << 8)),
          tw, th, rowCopy = false, cacheBits = 0, spatial = false)
        val res = new Array[Int](pixels.length)
        var i = 0
        while (i < pixels.length) {
          val x = i % xsize
          val pred =
            if (i == 0) 0xFF000000
            else if (i < xsize) pixels(i - 1) // first row: L
            else if (x == 0) pixels(i - xsize) // first column: T
            else pixels(i - xsize) // mode 2: T
          res(i) = sub8(pixels(i), pred)
          i += 1
        }
        pixels = res
      }
    }
    wr.bits(0, 1) // transform list terminator
    writeEntropyImage(wr, pixels, xsize, h,
      rowCopy = opts.rowCopy && !opts.palette, cacheBits = opts.cacheBits,
      spatial = true, metaTrivial = opts.metaTrivial)
    wr.result()
  }

  private[graft] def encodePayload(img: Image): Array[Byte] =
    encodePayload(img, EncOpts())

  /** (prefixCode, extraValue, extraBits) for an LZ77 length/distance
    * value — inverse of [[lz77Value]].
    */
  private def lz77Code(value: Int): (Int, Int, Int) = {
    require(value >= 1)
    if (value <= 4) (value - 1, 0, 0)
    else {
      val v = value - 1
      val highest = 31 - Integer.numberOfLeadingZeros(v)
      val extra = highest - 1
      val second = (v >> extra) & 1
      val code = 2 * highest + second
      val offset = (2 + second) << extra
      (code, v - offset, extra)
    }
  }

  /** Decoded VP8L raster as a [[Png.Image]] (RGBA byte layout) — the
    * seam that drops WebP-lossless into every consumer of
    * [[Png.decodeAny]]: perceptual hashing (image dedup), pixel
    * checksums, frame extraction, resize.
    */
  def toPngImage(img: Image): Png.Image = {
    val px = new Array[Byte](img.argb.length * 4)
    var i = 0
    while (i < img.argb.length) {
      val p = img.argb(i)
      px(i * 4) = ((p >> 16) & 0xFF).toByte
      px(i * 4 + 1) = ((p >> 8) & 0xFF).toByte
      px(i * 4 + 2) = (p & 0xFF).toByte
      px(i * 4 + 3) = ((p >>> 24) & 0xFF).toByte
      i += 1
    }
    Png.Image(img.width, img.height, 4, px)
  }

  /** Full RIFF/WEBP container around an encoded VP8L payload. */
  private[graft] def encode(img: Image, opts: EncOpts = EncOpts()): Array[Byte] =
    Webp.container(Webp.chunk("VP8L", encodePayload(img, opts)))

  private[graft] def encode(img: Image, rowCopy: Boolean): Array[Byte] =
    encode(img, EncOpts(rowCopy = rowCopy))
}
