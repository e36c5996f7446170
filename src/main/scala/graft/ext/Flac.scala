package graft.ext

/** Pure-JVM FLAC codec arm — the patent-clean compressed-audio format
  * (RFC 9639 / the xiph.org specification; the reference delegates all
  * record-level decode to external Unix stages, so this arm is built
  * from the public spec, not translated from anything).
  *
  * Decoder envelope: STREAMINFO + metadata-block walk, frames with fixed
  * or variable blocking, all four subframe families (CONSTANT, VERBATIM,
  * FIXED orders 0-4, LPC orders 1-32), wasted bits, rice residual
  * methods 0 and 1 including the escape-to-raw partition form, stereo
  * decorrelation (left/side, side/right, mid/side), and CRC-8 (header) +
  * CRC-16 (frame) verification. STRICT by design: any structural
  * violation or CRC mismatch → None (a codec certificate must never
  * hash-pass on a half-decoded stream); container-level cut-short
  * tolerance lives in the callers that walk multiple payloads.
  *
  * The encoder half is fixture generation for certificates and specs:
  * it emits spec-conformant streams (correct framing, UTF-8 frame
  * numbers, CRCs, rice coding) for the subframe families, so the
  * decoder is exercised through real bit-level coding — and the
  * decoder is ALSO anchored by hand-assembled bitstreams in FlacSpec
  * (bits written out longhand from the spec, independent of this
  * encoder's bit-writer) so a matched encoder/decoder slip cannot
  * cancel.
  *
  * Scale shape: one `decode` per payload inside map-only stages
  * (mapPartitions / flatMap) — no process hops, no shuffle; identical to
  * the PNG/JPEG/WAV arms.
  */
object Flac {

  /** Decoded stream: samples interleaved by channel, at the stream's
    * native bit depth.
    */
  final case class Audio(
      sampleRate: Int,
      channels: Int,
      bps: Int,
      samples: Array[Int])

  // ---------------------------------------------------------------- CRCs

  /** CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — frame-header CRC. */
  private[ext] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xFF
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — whole-frame CRC. */
  private[ext] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xFF) << 8
      var k = 0
      while (k < 8) {
        crc =
          if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF
          else (crc << 1) & 0xFFFF
        k += 1
      }
      i += 1
    }
    crc
  }

  // ------------------------------------------------------- bit helpers

  /** A malformed field ends the decode the way truncation does: both are
    * None, caught once in [[decode]] — keeps the hot loops free of
    * per-read Option boxing.
    */
  private def fail(): Nothing = throw new Bits.EndOfInput

  /** Signed two's-complement n-bit read. */
  private def readSigned(r: MsbReader, n: Int): Int = {
    val v = r.bits(n)
    if (n == 0) 0
    else if (n == 32) v // already two's complement
    else if ((v & (1 << (n - 1))) != 0) v - (1 << n)
    else v
  }

  /** FLAC unary: count of 0 bits before the terminating 1. */
  private def readUnary(r: MsbReader): Int = {
    var q = 0
    while (r.bit() == 0) q += 1
    q
  }

  // ------------------------------------------------------------- decoder

  private val BlockSizes = Array(-1, 192, 576, 1152, 2304, 4608, -6, -7,
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768)
  private val SampleRates = Array(-1, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000, -12, -13, -14, 0)
  private val SampleSizes = Array(0, 8, 12, -1, 16, 20, 24, 32)

  /** Decode a FLAC stream. None on anything non-conformant (bad magic,
    * missing STREAMINFO, truncation, CRC mismatch, reserved codes).
    * Caps: ≤ 2^26 total interleaved samples (256 MiB of Int), ≤ 8
    * channels — the same defensive bounds as the image arms.
    */
  def decode(b: Array[Byte]): Option[Audio] = {
    if (b == null || b.length < 42) return None
    if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')) return None
    try {
      val r = new MsbReader(b)
      r.bytePos = 4
      // --- metadata blocks; first MUST be STREAMINFO (type 0, 34 bytes)
      var last = false
      var first = true
      var rate = 0; var nch = 0; var bps = 0; var total = 0L
      while (!last) {
        if (r.bytePos + 4 > b.length) return None
        val hdr = r.bits(8)
        last = (hdr & 0x80) != 0
        val btype = hdr & 0x7F
        val len = r.bits(24)
        if (first) {
          if (btype != 0 || len != 34) return None
          r.bits(16) // min block size
          r.bits(16) // max block size
          r.bits(24); r.bits(24) // min/max frame size
          rate = r.bits(20)
          nch = r.bits(3) + 1
          bps = r.bits(5) + 1
          total = r.bitsLong(36)
          r.bytePos += 16 // MD5 (not verified — 0 = unstated, per spec)
          first = false
        } else {
          if (btype == 127) return None // invalid block type
          if (r.bytePos + len > b.length) return None
          r.bytePos += len
        }
      }
      if (rate <= 0 || nch <= 0 || nch > 8 || bps <= 0) return None
      if (total > (1L << 26) / nch) return None
      val out = new java.util.ArrayList[Array[Array[Int]]]()
      var decoded = 0L
      // --- frames until the declared sample count (or EOF when unstated)
      while ((total == 0L && r.bytePos < b.length) || decoded < total) {
        val frameStart = r.bytePos
        // sync (14) + reserved (1) + blocking strategy (1)
        val sync = r.bits(14)
        if (sync != 0x3FFE) return None
        if (r.bit() != 0) return None
        val variableBlocking = r.bit() == 1
        val bsCode = r.bits(4)
        val srCode = r.bits(4)
        val chCode = r.bits(4)
        val szCode = r.bits(3)
        if (r.bit() != 0) return None
        // UTF-8-coded frame/sample number (up to 36 bits → 7 bytes)
        val first0 = r.bits(8)
        var extra = 0
        var f = first0
        while ((f & 0x40) != 0 && extra < 6) { extra += 1; f <<= 1 }
        if ((first0 & 0x80) != 0 && extra == 0) return None // 10xxxxxx lead
        var k = 0
        while (k < extra) {
          if ((r.bits(8) & 0xC0) != 0x80) return None
          k += 1
        }
        val blockSize = bsCode match {
          case 0 => return None
          case 6 => r.bits(8) + 1
          case 7 => r.bits(16) + 1
          case c => BlockSizes(c)
        }
        srCode match {
          case 12 => r.bits(8)
          case 13 | 14 => r.bits(16)
          case 15 => return None
          case _ => ()
        }
        val frameRate = srCode match {
          case 0 => rate
          case c if SampleRates(c) > 0 => SampleRates(c)
          case _ => rate // khz-coded forms: stream rate governs the output
        }
        if (frameRate != rate) return None
        val frameCh = if (chCode <= 7) chCode + 1 else 2
        if (chCode > 10) return None
        if (frameCh != nch) return None
        val frameBps = if (szCode == 0) bps
          else { val s = SampleSizes(szCode); if (s <= 0) return None; s }
        if (frameBps != bps) return None
        // header CRC-8 (header fields are byte-aligned by construction)
        if (!r.aligned) return None
        if (crc8(b, frameStart, r.bytePos) != r.bits(8)) return None
        if (blockSize <= 0 || decoded + blockSize > (1L << 26) / nch)
          return None
        // --- subframes
        val chans = new Array[Array[Int]](nch)
        var ch = 0
        while (ch < nch) {
          val sideBits =
            if ((chCode == 8 && ch == 1) || (chCode == 9 && ch == 0) ||
              (chCode == 10 && ch == 1)) 1
            else 0
          chans(ch) = decodeSubframe(r, blockSize, frameBps + sideBits)
          ch += 1
        }
        // --- stereo decorrelation
        chCode match {
          case 8 => // left/side: right = left - side
            val l = chans(0); val s = chans(1)
            var i = 0
            while (i < blockSize) { s(i) = l(i) - s(i); i += 1 }
          case 9 => // side/right: left = right + side
            val s = chans(0); val rr = chans(1)
            var i = 0
            while (i < blockSize) { s(i) = rr(i) + s(i); i += 1 }
          case 10 => // mid/side (libFLAC reconstruction, exact integers)
            val m = chans(0); val s = chans(1)
            var i = 0
            while (i < blockSize) {
              val side = s(i)
              val m2 = (m(i) << 1) | (side & 1)
              m(i) = (m2 + side) >> 1
              s(i) = (m2 - side) >> 1
              i += 1
            }
          case _ => ()
        }
        // --- frame CRC-16 over everything incl. the header CRC-8
        r.alignToByte()
        if (crc16(b, frameStart, r.bytePos) != r.bits(16)) return None
        val _ = variableBlocking // parsed for conformance; number unchecked
        out.add(chans)
        decoded += blockSize
      }
      // interleave
      val n = decoded.toInt
      val samples = new Array[Int](n * nch)
      var base = 0
      var fi = 0
      while (fi < out.size()) {
        val chans = out.get(fi)
        val bs = chans(0).length
        var i = 0
        while (i < bs) {
          var c = 0
          while (c < nch) { samples(base + i * nch + c) = chans(c)(i); c += 1 }
          i += 1
        }
        base += bs * nch
        fi += 1
      }
      Some(Audio(rate, nch, bps, samples))
    } catch {
      case _: Bits.EndOfInput => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  private def decodeSubframe(r: MsbReader, blockSize: Int, bps: Int): Array[Int] = {
    if (r.bit() != 0) fail() // padding bit must be 0
    val t = r.bits(6)
    val wasted =
      if (r.bit() == 1) readUnary(r) + 1
      else 0
    val ebps = bps - wasted
    if (ebps <= 0 || ebps > 32) fail()
    val out = new Array[Int](blockSize)
    if (t == 0) { // CONSTANT
      val v = readSigned(r, ebps)
      java.util.Arrays.fill(out, v)
    } else if (t == 1) { // VERBATIM
      var i = 0
      while (i < blockSize) { out(i) = readSigned(r, ebps); i += 1 }
    } else if ((t & 0x38) == 0x08 && (t & 0x07) <= 4) { // FIXED 0-4
      val order = t & 0x07
      var i = 0
      while (i < order) { out(i) = readSigned(r, ebps); i += 1 }
      decodeResidual(r, blockSize, order, out)
      // fixed predictors: out[i] += pred(order)
      i = order
      while (i < blockSize) {
        val p = order match {
          case 0 => 0
          case 1 => out(i - 1)
          case 2 => 2 * out(i - 1) - out(i - 2)
          case 3 => 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3)
          case _ => 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) - out(i - 4)
        }
        out(i) += p
        i += 1
      }
    } else if ((t & 0x20) != 0) { // LPC, order = low 5 bits + 1
      val order = (t & 0x1F) + 1
      var i = 0
      while (i < order) { out(i) = readSigned(r, ebps); i += 1 }
      val precision = r.bits(4) + 1
      if (precision == 16) fail() // 0b1111 is invalid per spec
      val shift = readSigned(r, 5)
      if (shift < 0) fail()
      val coefs = new Array[Int](order)
      var c = 0
      while (c < order) { coefs(c) = readSigned(r, precision); c += 1 }
      decodeResidual(r, blockSize, order, out)
      i = order
      while (i < blockSize) {
        var acc = 0L
        c = 0
        while (c < order) { acc += coefs(c).toLong * out(i - 1 - c); c += 1 }
        out(i) += (acc >> shift).toInt
        i += 1
      }
    } else fail() // reserved subframe type
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) = out(i) << wasted; i += 1 }
    }
    out
  }

  /** Rice-coded residual: method 0 (4-bit params) or 1 (5-bit), 2^order
    * partitions, per-partition escape (all-ones param → raw n-bit).
    * Writes residuals into `out(order until blockSize)`.
    */
  private def decodeResidual(
      r: MsbReader, blockSize: Int, predOrder: Int, out: Array[Int]): Unit = {
    val method = r.bits(2)
    if (method > 1) fail()
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val partOrder = r.bits(4)
    val parts = 1 << partOrder
    if (blockSize % parts != 0) fail()
    val partLen = blockSize >> partOrder
    var i = predOrder
    var p = 0
    while (p < parts) {
      val count = if (p == 0) partLen - predOrder else partLen
      if (count < 0) fail()
      val param = r.bits(paramBits)
      if (param == escape) {
        val raw = r.bits(5)
        var k = 0
        while (k < count) {
          out(i) = if (raw == 0) 0 else readSigned(r, raw)
          i += 1; k += 1
        }
      } else {
        var k = 0
        while (k < count) {
          val q = readUnary(r)
          val u = (q << param) | (if (param > 0) r.bits(param) else 0)
          out(i) = (u >>> 1) ^ -(u & 1) // zigzag → signed
          i += 1; k += 1
        }
      }
      p += 1
    }
  }

  // ------------------------------------------------------------- encoder

  /** FLAC unary: `q` 0 bits, then a 1. */
  private def writeUnary(w: MsbWriter, q: Int): Unit = {
    var k = q
    while (k >= 32) { w.bits(0, 32); k -= 32 }
    w.bits(1, k + 1)
  }

  /** Per-channel subframe strategy for the fixture encoder. */
  sealed trait Sub
  case object Constant extends Sub
  case object Verbatim extends Sub
  /** FIXED predictor of the given order, one rice partition. */
  final case class Fixed(order: Int, riceParam: Int) extends Sub
  /** LPC with explicit integer coefficients/shift, one rice partition. */
  final case class Lpc(coefs: Array[Int], shift: Int, precision: Int,
      riceParam: Int) extends Sub

  /** Encode channels of equal length into a conformant FLAC stream with
    * fixed `blockSize` framing. Stereo inputs use channel assignment
    * `chAssign` (0-based independent = channels-1 code; 8/9/10 = the
    * decorrelated forms, in which case `channels` must carry the ALREADY
    * decorrelated pair in subframe order).
    */
  def encode(
      channels: Array[Array[Int]],
      sampleRate: Int,
      bps: Int,
      blockSize: Int,
      sub: Sub,
      chAssign: Int = -1): Array[Byte] = {
    val nch = channels.length
    require(nch >= 1 && nch <= 8)
    val n = channels(0).length
    require(channels.forall(_.length == n))
    val assign = if (chAssign >= 0) chAssign else nch - 1
    val head = new MsbWriter
    head.bits('f', 8); head.bits('L', 8)
    head.bits('a', 8); head.bits('C', 8)
    // STREAMINFO, last-metadata-block
    head.bits(0x80, 8); head.bits(34, 24)
    head.bits(blockSize, 16); head.bits(blockSize, 16)
    head.bits(0, 24); head.bits(0, 24) // frame sizes unknown
    head.bits(sampleRate, 20)
    head.bits(nch - 1, 3)
    head.bits(bps - 1, 5)
    head.bits(n.toLong, 36)
    var k = 0
    while (k < 16) { head.bits(0, 8); k += 1 } // MD5 unstated
    val out = new java.io.ByteArrayOutputStream()
    out.write(head.result())
    var frameNo = 0
    var off = 0
    while (off < n) {
      val bs = math.min(blockSize, n - off)
      out.write(encodeFrame(channels, off, bs, sampleRate, bps, sub,
        assign, frameNo, blockSize))
      off += bs
      frameNo += 1
    }
    out.toByteArray
  }

  private def rateCode(rate: Int): Int = rate match {
    case 88200 => 1; case 176400 => 2; case 192000 => 3; case 8000 => 4
    case 16000 => 5; case 22050 => 6; case 24000 => 7; case 32000 => 8
    case 44100 => 9; case 48000 => 10; case 96000 => 11; case _ => 0
  }

  private def blockSizeCode(bs: Int): Int = bs match {
    case 192 => 1; case 576 => 2; case 1152 => 3; case 2304 => 4
    case 4608 => 5; case 256 => 8; case 512 => 9; case 1024 => 10
    case 2048 => 11; case 4096 => 12; case 8192 => 13; case 16384 => 14
    case 32768 => 15; case _ => 7 // 16-bit from end
  }

  private def sizeCode(bps: Int): Int = bps match {
    case 8 => 1; case 12 => 2; case 16 => 4; case 20 => 5; case 24 => 6
    case 32 => 7; case _ => 0
  }

  private def encodeFrame(
      channels: Array[Array[Int]], off: Int, bs: Int, rate: Int, bps: Int,
      sub: Sub, assign: Int, frameNo: Int, nominalBlock: Int): Array[Byte] = {
    val w = new MsbWriter
    w.bits(0x3FFE, 14) // sync
    w.bits(0, 1) // reserved
    w.bits(0, 1) // fixed blocking
    val bsc = if (bs == nominalBlock) blockSizeCode(bs) else 7
    w.bits(bsc, 4)
    w.bits(rateCode(rate), 4)
    w.bits(assign, 4)
    w.bits(sizeCode(bps), 3)
    w.bits(0, 1)
    // UTF-8 frame number (fixture frames stay below 2^31)
    writeUtf8(w, frameNo)
    if (bsc == 7) w.bits(bs - 1, 16)
    val headerBytes = w.result()
    val crcH = crc8(headerBytes, 0, headerBytes.length)
    val body = new MsbWriter
    var ch = 0
    while (ch < channels.length) {
      val sideBits =
        if ((assign == 8 && ch == 1) || (assign == 9 && ch == 0) ||
          (assign == 10 && ch == 1)) 1
        else 0
      encodeSubframe(body, channels(ch), off, bs, bps + sideBits, sub)
      ch += 1
    }
    val all = new java.io.ByteArrayOutputStream()
    all.write(headerBytes)
    all.write(crcH)
    all.write(body.result())
    val frame = all.toByteArray
    val crcF = crc16(frame, 0, frame.length)
    all.write((crcF >> 8) & 0xFF)
    all.write(crcF & 0xFF)
    all.toByteArray
  }

  private def writeUtf8(w: MsbWriter, v: Int): Unit = {
    if (v < 0x80) w.bits(v, 8)
    else if (v < 0x800) {
      w.bits(0xC0 | (v >> 6), 8); w.bits(0x80 | (v & 0x3F), 8)
    } else if (v < 0x10000) {
      w.bits(0xE0 | (v >> 12), 8)
      w.bits(0x80 | ((v >> 6) & 0x3F), 8)
      w.bits(0x80 | (v & 0x3F), 8)
    } else {
      w.bits(0xF0 | (v >> 18), 8)
      w.bits(0x80 | ((v >> 12) & 0x3F), 8)
      w.bits(0x80 | ((v >> 6) & 0x3F), 8)
      w.bits(0x80 | (v & 0x3F), 8)
    }
  }

  private def encodeSubframe(
      w: MsbWriter, data: Array[Int], off: Int, bs: Int, bps: Int,
      sub: Sub): Unit = {
    w.bits(0, 1)
    sub match {
      case Constant =>
        w.bits(0, 6); w.bits(0, 1)
        w.bits(data(off), bps)
      case Verbatim =>
        w.bits(1, 6); w.bits(0, 1)
        var i = 0
        while (i < bs) { w.bits(data(off + i), bps); i += 1 }
      case Fixed(order, rice) =>
        w.bits(0x08 | order, 6); w.bits(0, 1)
        var i = 0
        while (i < order) { w.bits(data(off + i), bps); i += 1 }
        val res = new Array[Int](bs - order)
        i = order
        while (i < bs) {
          val p = order match {
            case 0 => 0
            case 1 => data(off + i - 1)
            case 2 => 2 * data(off + i - 1) - data(off + i - 2)
            case 3 => 3 * data(off + i - 1) - 3 * data(off + i - 2) +
              data(off + i - 3)
            case _ => 4 * data(off + i - 1) - 6 * data(off + i - 2) +
              4 * data(off + i - 3) - data(off + i - 4)
          }
          res(i - order) = data(off + i) - p
          i += 1
        }
        writeRice(w, res, rice)
      case Lpc(coefs, shift, precision, rice) =>
        val order = coefs.length
        w.bits(0x20 | (order - 1), 6); w.bits(0, 1)
        var i = 0
        while (i < order) { w.bits(data(off + i), bps); i += 1 }
        w.bits(precision - 1, 4)
        w.bits(shift, 5)
        var c = 0
        while (c < order) { w.bits(coefs(c), precision); c += 1 }
        val res = new Array[Int](bs - order)
        i = order
        while (i < bs) {
          var acc = 0L
          c = 0
          while (c < order) { acc += coefs(c).toLong * data(off + i - 1 - c); c += 1 }
          res(i - order) = data(off + i) - (acc >> shift).toInt
          i += 1
        }
        writeRice(w, res, rice)
    }
  }

  private def writeRice(w: MsbWriter, res: Array[Int], param: Int): Unit = {
    w.bits(0, 2) // method 0
    w.bits(0, 4) // partition order 0
    w.bits(param, 4)
    var i = 0
    while (i < res.length) {
      val r = res(i)
      val u = (r << 1) ^ (r >> 31)
      writeUnary(w, u >>> param)
      if (param > 0) w.bits(u & ((1 << param) - 1), param)
      i += 1
    }
  }
}
