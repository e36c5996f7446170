package graft.ext

import graft.ext.Bytes.{put16, put32, putLe32, u16, u32}

/** TIFF pixel decode — lifts the q_tiff_meta envelope cut ("pixel codecs
  * out of envelope"): baseline strips in both byte orders, uncompressed
  * (1), LZW (5, the TIFF variant: MSB-first codes, Clear=256/EOI=257,
  * EARLY code-width change) and PackBits (32773), horizontal-differencing
  * Predictor 2, 8-bit gray (photometric 1) and RGB/RGBA (photometric 2,
  * 3–4 samples). Output is a [[Png.Image]], so TIFF rasters join
  * perceptual dedup / checksums / resize through [[Png.decodeAny]].
  *
  * Same certificate discipline as BMP/VP8L: a deterministic builder
  * (real LZW/PackBits encoders, ascending-tag IFD, inline-or-heap
  * values per byte order) feeds the decoder in q_tiff_decode, byte sums
  * oracle-checked. Total over hostile bytes.
  */
object TiffImg {

  // ------------------------------------------------------------ packbits

  private[ext] def packBitsDecode(b: Array[Byte], from: Int, until: Int,
      maxOut: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(math.min(maxOut, 1 << 16))
    var i = from
    while (i < until && out.size < maxOut) {
      val n = b(i)
      i += 1
      if (n >= 0) { // n+1 literal bytes
        if (i + n + 1 > until) return None
        out.write(b, i, n + 1)
        i += n + 1
      } else if (n != -128) { // 1-n copies of next byte
        if (i >= until) return None
        var k = 0
        while (k < 1 - n) { out.write(b(i)); k += 1 }
        i += 1
      } // -128: no-op
    }
    if (out.size > maxOut) None else Some(out.toByteArray)
  }

  private[ext] def packBitsEncode(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length + b.length / 127 + 1)
    var i = 0
    while (i < b.length) {
      // run of equal bytes?
      var run = 1
      while (i + run < b.length && run < 128 && b(i + run) == b(i)) run += 1
      if (run >= 2) {
        out.write(1 - run) // negative count
        out.write(b(i))
        i += run
      } else {
        var lit = 1
        while (i + lit < b.length && lit < 128 &&
          !(i + lit + 1 < b.length && b(i + lit) == b(i + lit + 1))) lit += 1
        out.write(lit - 1)
        out.write(b, i, lit)
        i += lit
      }
    }
    out.toByteArray
  }

  // ----------------------------------------------------------------- lzw

  private val Clear = 256
  private val Eoi = 257

  /** TIFF LZW decode: MSB-first codes, 9→12-bit with EARLY change
    * (width bumps when the next free code reaches 2^width − 1).
    * Parent-table representation (prefix code + suffix byte per entry,
    * emitted by walking the chain into a scratch stack) — the naive
    * per-entry byte-array `:+` form was a measured rising-at-scale
    * allocation curve in the 6.4 M DocSoak.
    */
  private[ext] def lzwDecode(b: Array[Byte], from: Int, until: Int,
      maxOut: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](maxOut)
    var op = 0
    val r = new MsbReader(b, from, until)
    val prefixOf = new Array[Int](4096)
    val suffixOf = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var next = 258
    var width = 9
    var prev = -1
    var prevFirst = 0
    // emit entry `code`; returns its FIRST byte, or -1 on overflow
    def emit(code: Int, extra: Int): Int = {
      var sp = 0
      var c = code
      if (extra >= 0) { stack(sp) = extra.toByte; sp += 1 }
      while (c >= 258) {
        stack(sp) = suffixOf(c); sp += 1
        c = prefixOf(c)
        if (sp >= stack.length) return -1 // corrupt chain
      }
      stack(sp) = c.toByte; sp += 1
      if (op + sp > maxOut) return -1
      var k = sp - 1
      while (k >= 0) { out(op) = stack(k); op += 1; k -= 1 }
      c // first byte
    }
    var done = false
    while (!done) {
      // fewer than `width` bits left ends the strip like an EOI
      val code = if (r.remaining < width) Eoi else r.bits(width)
      if (code == Eoi) done = true
      else if (code == Clear) { next = 258; width = 9; prev = -1 }
      else {
        val first =
          if (code < 256) emit(code, -1)
          else if (code < next && code >= 258) emit(code, -1)
          else if (code == next && prev >= 0) emit(prev, prevFirst)
          else return None
        if (first < 0) return None
        if (prev >= 0 && next < 4096) {
          prefixOf(next) = prev
          suffixOf(next) = first.toByte
          next += 1
          if (next == (1 << width) - 1 && width < 12) width += 1
        }
        prev = code
        // prev may be the just-added entry (KwKwK); its first byte:
        prevFirst = first
      }
    }
    Some(if (op == maxOut) out else java.util.Arrays.copyOf(out, op))
  }

  /** Reusable open-addressing (prefix<<8 | byte) → code table for
    * [[lzwEncode]]: 8192 slots for ≤ 3835 live entries, generation
    * stamps for O(1) clear, one instance per executor thread.
    */
  private final class LzwDict {
    val keys = new Array[Int](8192)
    val vals = new Array[Int](8192)
    private val gens = new Array[Int](8192)
    private var gen = 0
    def nextGen(): Unit = {
      if (gen == Int.MaxValue) { java.util.Arrays.fill(gens, 0); gen = 0 }
      gen += 1
    }
    def get(key: Int): Int = {
      var h = ((key * 0x9E3779B1) >>> 19) & 8191
      while (gens(h) == gen) {
        if (keys(h) == key) return vals(h)
        h = (h + 1) & 8191
      }
      -1
    }
    def put(key: Int, value: Int): Unit = {
      var h = ((key * 0x9E3779B1) >>> 19) & 8191
      while (gens(h) == gen && keys(h) != key) h = (h + 1) & 8191
      keys(h) = key; vals(h) = value; gens(h) = gen
    }
  }
  private val lzwDictPool: ThreadLocal[LzwDict] =
    ThreadLocal.withInitial(() => new LzwDict)

  /** TIFF LZW encode — the exact inverse discipline (early change, Clear
    * restart before the 12-bit table fills).
    */
  private[ext] def lzwEncode(b: Array[Byte]): Array[Byte] = {
    val out = new MsbWriter
    var width = 9
    def emit(code: Int): Unit = out.bits(code, width)
    // per-thread open-addressing (prefix<<8|byte) → code table (the
    // codec-pool pattern: a fresh boxing HashMap per strip was the
    // rising 6.4 M-doc curve); generation-stamped slots make reset O(1)
    val dict = lzwDictPool.get()
    dict.nextGen()
    var next = 258
    def reset(): Unit = { dict.nextGen(); next = 258; width = 9 }
    emit(Clear)
    var prev = -1
    var i = 0
    while (i < b.length) {
      val c = b(i) & 0xFF
      if (prev < 0) prev = c
      else {
        val key = (prev << 8) | c
        val hit = dict.get(key)
        if (hit >= 0) prev = hit
        else {
          emit(prev)
          dict.put(key, next)
          next += 1
          // the ENCODER's table runs one entry ahead of the decoder's,
          // so it widens at 2^width while the early-change decoder
          // widens at 2^width − 1 — both before the same code position
          if (next == (1 << width) && width < 12) width += 1
          if (next >= 4093) { emit(Clear); reset() }
          prev = c
        }
      }
      i += 1
    }
    if (prev >= 0) emit(prev)
    emit(Eoi)
    out.result()
  }

  // -------------------------------------------------------------- decode

  def decode(b: Array[Byte]): Option[Png.Image] = {
    try {
      if (b == null || b.length < 8) return None
      val be =
        if (b(0) == 'I' && b(1) == 'I') false
        else if (b(0) == 'M' && b(1) == 'M') true
        else return None
      if (u16(b, 2, be) != 42) return None
      val ifd = u32(b, 4, be).toInt
      if (ifd < 8 || ifd + 2 > b.length) return None
      val n = u16(b, ifd, be)
      if (ifd + 2 + n * 12 > b.length) return None
      // tag → LONG-widened values (SHORT/LONG only — all we need)
      def values(e: Int): Option[Array[Long]] = {
        val tpe = u16(b, e + 2, be)
        val cnt = u32(b, e + 4, be)
        if (cnt <= 0 || cnt > (1L << 20)) return None
        val elemSize = tpe match {
          case 3 => 2
          case 4 => 4
          case _ => return None
        }
        val total = elemSize * cnt
        val at =
          if (total <= 4) e + 8
          else {
            val off = u32(b, e + 8, be).toInt
            if (off < 0 || off + total > b.length) return None
            off
          }
        Some(Array.tabulate(cnt.toInt)(k =>
          if (elemSize == 2) u16(b, at + k * 2, be).toLong else u32(b, at + k * 4, be)))
      }
      var width = 0L; var height = 0L
      var bits: Array[Long] = Array(1L)
      var compression = 1L; var photometric = -1L
      var offsets: Array[Long] = null; var counts: Array[Long] = null
      var samples = 1L; var rowsPerStrip = Long.MaxValue; var predictor = 1L
      var fillOrder = 1L; var t4Options = 0L; var t6Options = 0L
      var k2 = 0
      while (k2 < n) {
        val e = ifd + 2 + k2 * 12
        u16(b, e, be) match {
          case 256 => width = values(e).flatMap(_.headOption).getOrElse(0L)
          case 257 => height = values(e).flatMap(_.headOption).getOrElse(0L)
          case 258 => bits = values(e).getOrElse(return None)
          case 259 => compression = values(e).flatMap(_.headOption).getOrElse(1L)
          case 262 => photometric = values(e).flatMap(_.headOption).getOrElse(-1L)
          case 266 => fillOrder = values(e).flatMap(_.headOption).getOrElse(1L)
          case 273 => offsets = values(e).getOrElse(return None)
          case 277 => samples = values(e).flatMap(_.headOption).getOrElse(1L)
          case 278 => rowsPerStrip = values(e).flatMap(_.headOption).getOrElse(Long.MaxValue)
          case 279 => counts = values(e).getOrElse(return None)
          case 292 => t4Options = values(e).flatMap(_.headOption).getOrElse(0L)
          case 293 => t6Options = values(e).flatMap(_.headOption).getOrElse(0L)
          case 317 => predictor = values(e).flatMap(_.headOption).getOrElse(1L)
          case _ => ()
        }
        k2 += 1
      }
      if (width <= 0 || height <= 0 || width * height * 4 > (1L << 28)) return None
      val bilevel = bits.length == 1 && bits(0) == 1L
      if (bilevel)
        return decodeBilevel(b, width.toInt, height.toInt, compression,
          photometric, fillOrder, t4Options, t6Options, samples,
          rowsPerStrip, offsets, counts)
      if (!bits.forall(_ == 8L)) return None // 8-bit samples only
      if (photometric != 1 && photometric != 2) return None
      if (predictor != 1 && predictor != 2) return None
      val ch = samples.toInt
      if (photometric == 1 && ch != 1) return None
      if (photometric == 2 && ch != 3 && ch != 4) return None
      if (offsets == null || counts == null || offsets.length != counts.length)
        return None
      val w = width.toInt
      val h = height.toInt
      val rowBytes = w * ch
      val out = new Array[Byte](rowBytes * h)
      var row = 0
      var strip = 0
      while (strip < offsets.length && row < h) {
        val off = offsets(strip)
        val cnt = counts(strip)
        if (off < 0 || cnt < 0 || off + cnt > b.length) return None
        val stripRows = math.min(
          if (rowsPerStrip == Long.MaxValue) h.toLong else rowsPerStrip,
          (h - row).toLong).toInt
        val want = rowBytes * stripRows
        val raw: Array[Byte] = compression match {
          case 1 =>
            if (cnt < want) return None
            java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + want)
          case 5 =>
            lzwDecode(b, off.toInt, (off + cnt).toInt, want)
              .filter(_.length >= want).getOrElse(return None)
          case 32773 =>
            packBitsDecode(b, off.toInt, (off + cnt).toInt, want)
              .filter(_.length >= want).getOrElse(return None)
          case _ => return None
        }
        System.arraycopy(raw, 0, out, row * rowBytes, want)
        row += stripRows
        strip += 1
      }
      if (row < h) return None
      if (predictor == 2) { // horizontal differencing: add left, per sample
        var y = 0
        while (y < h) {
          var x = ch
          while (x < rowBytes) {
            out(y * rowBytes + x) =
              (out(y * rowBytes + x) + out(y * rowBytes + x - ch)).toByte
            x += 1
          }
          y += 1
        }
      }
      Some(Png.Image(w, h, ch, out))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Bit-reversal LUT for FillOrder 2 (lsb-first strip bytes). */
  private val bitRev: Array[Byte] = Array.tabulate(256) { v =>
    (Integer.reverse(v) >>> 24).toByte
  }

  /** Bilevel (1 bit/sample) arm: CCITT MH / G3 / G4 strips through
    * [[Ccitt.decode]], expanded to 8-bit gray by PhotometricInterpretation
    * (0 = WhiteIsZero, the fax default: CCITT white → 255; 1 inverts).
    */
  private def decodeBilevel(b: Array[Byte], w: Int, h: Int,
      compression: Long, photometric: Long, fillOrder: Long,
      t4Options: Long, t6Options: Long, samples: Long, rowsPerStrip: Long,
      offsets: Array[Long], counts: Array[Long]): Option[Png.Image] = {
    if (samples != 1L) return None
    if (photometric != 0 && photometric != 1) return None
    if (fillOrder != 1 && fillOrder != 2) return None
    if ((t4Options & 2L) != 0 || (t6Options & 2L) != 0) return None // uncompressed mode
    val scheme: Ccitt.Scheme = compression match {
      case 2 => Ccitt.Mh
      case 3 => Ccitt.G3((t4Options & 1L) != 0, (t4Options & 4L) != 0)
      case 4 => Ccitt.G4
      case _ => return None
    }
    if (offsets == null || counts == null || offsets.length != counts.length)
      return None
    val out = new Array[Byte](w * h)
    val whiteGray: Byte = if (photometric == 0) 0xFF.toByte else 0x00
    val blackGray: Byte = if (photometric == 0) 0x00 else 0xFF.toByte
    var row = 0
    var strip = 0
    while (strip < offsets.length && row < h) {
      val off = offsets(strip)
      val cnt = counts(strip)
      if (off < 0 || cnt <= 0 || off + cnt > b.length) return None
      val stripRows = math.min(
        if (rowsPerStrip == Long.MaxValue) h.toLong else rowsPerStrip,
        (h - row).toLong).toInt
      val data =
        if (fillOrder == 1) b
        else { // FillOrder 2: strip bytes are lsb-first — reverse them
          val d = new Array[Byte](cnt.toInt)
          var i = 0
          while (i < d.length) {
            d(i) = bitRev(b(off.toInt + i) & 0xFF)
            i += 1
          }
          d
        }
      val from = if (fillOrder == 1) off.toInt else 0
      val until = if (fillOrder == 1) (off + cnt).toInt else cnt.toInt
      val bm = Ccitt.decode(data, from, until, w, stripRows, scheme)
        .getOrElse(return None)
      var i = 0
      val base = row * w
      while (i < stripRows * w) {
        out(base + i) = if (bm(i) != 0) blackGray else whiteGray
        i += 1
      }
      row += stripRows
      strip += 1
    }
    if (row < h) return None
    Some(Png.Image(w, h, 1, out))
  }

  // -------------------------------------------------------------- build

  /** Deterministic baseline TIFF: `compression` 1/5/32773, either byte
    * order, optional Predictor 2, strips of `rowsPerStrip`. Gray (1ch)
    * or RGB/RGBA input.
    */
  private[graft] def build(img: Png.Image, compression: Int = 1,
      bigEndian: Boolean = false, predictor: Int = 1,
      rowsPerStrip: Int = 4): Array[Byte] = {
    require(Set(1, 5, 32773).contains(compression), "tiff build: compression")
    require(Set(1, 3, 4).contains(img.channels), "tiff build: channels")
    require(predictor == 1 || predictor == 2, "tiff build: predictor")
    val ch = img.channels
    val rowBytes = img.width * ch
    val src =
      if (predictor == 1) img.pixels
      else { // forward horizontal differencing
        val d = img.pixels.clone()
        var y = 0
        while (y < img.height) {
          var x = rowBytes - 1
          while (x >= ch) {
            d(y * rowBytes + x) =
              (d(y * rowBytes + x) - d(y * rowBytes + x - ch)).toByte
            x -= 1
          }
          y += 1
        }
        d
      }
    val strips = (0 until img.height by rowsPerStrip).map { y0 =>
      val rows = math.min(rowsPerStrip, img.height - y0)
      val raw = java.util.Arrays.copyOfRange(src, y0 * rowBytes,
        (y0 + rows) * rowBytes)
      compression match {
        case 1 => raw
        case 5 => lzwEncode(raw)
        case _ => packBitsEncode(raw)
      }
    }
    // layout: header(8) + IFD + value heap (bits array) + strip data
    val tags = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
    val nStrips = strips.length
    val photometric = if (ch == 1) 1 else 2
    val nEntries = 10 + (if (predictor == 2) 1 else 0)
    val ifdOff = 8
    val ifdSize = 2 + nEntries * 12 + 4
    var heap = ifdOff + ifdSize
    val bitsOff = heap
    val needBitsHeap = ch > 2 // count > 2 SHORTs never fit inline
    if (needBitsHeap) heap += ch * 2
    val stripOffsOff = heap
    val needStripHeap = nStrips > 1
    if (needStripHeap) heap += nStrips * 4 * 2 // offsets + counts
    var dataOff = heap
    val stripOffs = strips.map { s2 => val o = dataOff; dataOff += s2.length; o }
    val total = dataOff
    val b = new Array[Byte](total)
    putHeader(b, ifdOff, bigEndian)
    // entries, ascending tag order
    tags += ((256, 3, 1L, img.width.toLong))
    tags += ((257, 3, 1L, img.height.toLong))
    tags += ((258, 3, ch.toLong, if (needBitsHeap) bitsOff.toLong else 8L))
    tags += ((259, 3, 1L, compression.toLong))
    tags += ((262, 3, 1L, photometric.toLong))
    tags += ((273, 4, nStrips.toLong,
      if (needStripHeap) stripOffsOff.toLong else stripOffs.head.toLong))
    tags += ((277, 3, 1L, ch.toLong))
    tags += ((278, 3, 1L, rowsPerStrip.toLong))
    tags += ((279, 4, nStrips.toLong,
      if (needStripHeap) (stripOffsOff + nStrips * 4).toLong
      else strips.head.length.toLong))
    if (predictor == 2) tags += ((317, 3, 1L, 2L))
    val sorted = tags.sortBy(_._1)
    putIfd(b, ifdOff, sorted.toSeq, bigEndian)
    if (needBitsHeap) (0 until ch).foreach(k => put16(b, bitsOff + k * 2, 8, bigEndian))
    if (needStripHeap) {
      stripOffs.zipWithIndex.foreach { case (o, k) =>
        put32(b, stripOffsOff + k * 4, o, bigEndian)
      }
      strips.zipWithIndex.foreach { case (s2, k) =>
        put32(b, stripOffsOff + nStrips * 4 + k * 4, s2.length, bigEndian)
      }
    }
    strips.zip(stripOffs).foreach { case (s2, o) =>
      System.arraycopy(s2, 0, b, o, s2.length)
    }
    b
  }

  /** Deterministic bilevel (fax-class) TIFF: gray input thresholded at
    * 128 (dark → CCITT black), CCITT-coded strips (compression 2 MH /
    * 3 G3 with `t4Options` 1D-vs-2D + fill bits / 4 G4), photometric 0
    * (WhiteIsZero, the fax default). Little-endian, ascending-tag IFD.
    */
  private[graft] def buildBilevel(img: Png.Image, compression: Int,
      t4Options: Int = 0, rowsPerStrip: Int = 1 << 20): Array[Byte] = {
    require(Set(2, 3, 4).contains(compression), "bilevel build: compression")
    require(img.channels == 1, "bilevel build: gray input")
    val w = img.width
    val h = img.height
    val scheme: Ccitt.Scheme = compression match {
      case 2 => Ccitt.Mh
      case 3 => Ccitt.G3((t4Options & 1) != 0, (t4Options & 4) != 0)
      case _ => Ccitt.G4
    }
    val bm = new Array[Byte](w * h)
    var i = 0
    while (i < bm.length) { // dark pixels are fax black
      if ((img.pixels(i) & 0xFF) < 128) bm(i) = 1
      i += 1
    }
    val strips = (0 until h by rowsPerStrip).map { y0 =>
      val rows = math.min(rowsPerStrip, h - y0)
      Ccitt.encode(java.util.Arrays.copyOfRange(bm, y0 * w, (y0 + rows) * w),
        w, rows, scheme)
    }
    val nStrips = strips.length
    val nEntries = 9 + (if (compression == 3) 1 else 0)
    val ifdOff = 8
    var heap = ifdOff + 2 + nEntries * 12 + 4
    val stripOffsOff = heap
    val needStripHeap = nStrips > 1
    if (needStripHeap) heap += nStrips * 8
    var dataOff = heap
    val stripOffs = strips.map { s => val o = dataOff; dataOff += s.length; o }
    val b = new Array[Byte](dataOff)
    putHeader(b, ifdOff, bigEndian = false)
    var tags = Vector[(Int, Int, Long, Long)](
      (256, 3, 1L, w.toLong),
      (257, 3, 1L, h.toLong),
      (258, 3, 1L, 1L),
      (259, 3, 1L, compression.toLong),
      (262, 3, 1L, 0L), // WhiteIsZero
      (273, 4, nStrips.toLong,
        if (needStripHeap) stripOffsOff.toLong else stripOffs.head.toLong),
      (277, 3, 1L, 1L),
      (278, 4, 1L, rowsPerStrip.toLong), // LONG: a one-strip file stores h≤2^20 here
      (279, 4, nStrips.toLong,
        if (needStripHeap) (stripOffsOff + nStrips * 4).toLong
        else strips.head.length.toLong))
    if (compression == 3) tags = tags :+ ((292, 4, 1L, t4Options.toLong))
    val sorted = tags.sortBy(_._1)
    putIfd(b, ifdOff, sorted, bigEndian = false)
    if (needStripHeap) {
      stripOffs.zipWithIndex.foreach { case (o, k) =>
        putLe32(b, stripOffsOff + k * 4, o)
      }
      strips.zipWithIndex.foreach { case (s, k) =>
        putLe32(b, stripOffsOff + nStrips * 4 + k * 4, s.length)
      }
    }
    strips.zip(stripOffs).foreach { case (s, o) =>
      System.arraycopy(s, 0, b, o, s.length)
    }
    b
  }

  // ------------------------------------------------- IFD writers

  /** The 8-byte TIFF header: byte-order mark, 42, first-IFD offset. */
  private[graft] def putHeader(b: Array[Byte], ifdOff: Int, bigEndian: Boolean): Unit = {
    if (bigEndian) { b(0) = 'M'; b(1) = 'M' } else { b(0) = 'I'; b(1) = 'I' }
    put16(b, 2, 42, bigEndian); put32(b, 4, ifdOff, bigEndian)
  }

  /** One 12-byte IFD entry at `at`: tag, type, count, value field. An
    * inline SHORT sits left-justified in the value field: one SHORT is
    * written with a zero SHORT after it, two are split from `value`
    * low half first. Anything else (LONG, an ASCII or heap offset, a
    * SHORT array too long to inline) writes `value` as one LONG.
    */
  private def putIfdEntry(b: Array[Byte], at: Int, tag: Int, tpe: Int,
      cnt: Long, value: Long, bigEndian: Boolean): Unit = {
    put16(b, at, tag, bigEndian); put16(b, at + 2, tpe, bigEndian)
    put32(b, at + 4, cnt, bigEndian)
    if (tpe == 3 && cnt == 1) {
      put16(b, at + 8, value.toInt, bigEndian); put16(b, at + 10, 0, bigEndian)
    } else if (tpe == 3 && cnt == 2) {
      put16(b, at + 8, (value & 0xFFFF).toInt, bigEndian)
      put16(b, at + 10, (value >> 16).toInt, bigEndian)
    } else put32(b, at + 8, value, bigEndian)
  }

  /** A whole IFD at `at`: entry count, the `(tag, type, count, value)`
    * entries in the order given, then a zero next-IFD offset.
    */
  private[graft] def putIfd(b: Array[Byte], at: Int,
      entries: Seq[(Int, Int, Long, Long)], bigEndian: Boolean): Unit = {
    put16(b, at, entries.length, bigEndian)
    entries.zipWithIndex.foreach { case ((tag, tpe, cnt, value), k) =>
      putIfdEntry(b, at + 2 + k * 12, tag, tpe, cnt, value, bigEndian)
    }
    put32(b, at + 2 + entries.length * 12, 0, bigEndian)
  }
}
