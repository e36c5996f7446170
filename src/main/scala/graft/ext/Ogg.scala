package graft.ext

import graft.ext.Bytes.{le16, le32u, le64}

/** Ogg container walk (RFC 3533) with Vorbis / Opus identification
  * headers — the metadata-triage arm for the open web-audio stack, the
  * sibling of [[Mpeg]] (MPEG audio headers) and [[Mp4]] (ISO-BMFF):
  * codec, channels, sample rate, page count and granule-position
  * duration from pure byte reads, no decoder.
  *
  * Structure parsed:
  *   - Page = "OggS" + version 0 + header type + granule position (s64
  *     LE) + serial + sequence + CRC + segment count + lacing table;
  *     payload length = sum of lacing values.
  *   - Page CRC is VERIFIED (the Ogg polynomial 0x04C11DB7, init 0, no
  *     reflection, CRC field zeroed during the sum). A corrupt page is
  *     skipped by resyncing to the next "OggS" capture — crawl-truncated
  *     or bit-rotted streams degrade to the pages that survive.
  *   - The first packet of the first begin-of-stream page identifies the
  *     codec: `\x01vorbis` (channels u8, rate u32 LE), `OpusHead`
  *     (channels u8, pre-skip u16 LE, input rate u32 LE), `\x80theora`
  *     (video — codec tag only).
  *   - Duration: the final page's granule position — PCM samples at the
  *     id-header rate for Vorbis; 48 kHz samples minus pre-skip for Opus
  *     (RFC 7845 §4.1).
  */
object Ogg {

  final case class OggMeta(
      codec: String,
      channels: Int,
      sample_rate: Int,
      n_pages: Long,
      duration_ms: Long)

  /** Ogg CRC-32: forward (unreflected) 0x04C11DB7, init 0, no final
    * xor — NOT the zlib CRC. Shared with the test/certificate builders;
    * the oracle never checks CRC values, only metadata that a wrong CRC
    * implementation would destroy by discarding every page.
    */
  private[ext] val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04C11DB7 else r << 1
        k += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  private[ext] def crc(b: Array[Byte], from: Int, until: Int, zeroFrom: Int, zeroUntil: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      val v = if (i >= zeroFrom && i < zeroUntil) 0 else b(i) & 0xFF
      c = (c << 8) ^ crcTable(((c >>> 24) ^ v) & 0xFF)
      i += 1
    }
    c
  }

  /** Container metadata. None unless at least one CRC-valid page with a
    * recognizable begin-of-stream codec header is present.
    */
  def meta(b: Array[Byte]): Option[OggMeta] = {
    if (b == null || b.length < 28) return None
    try {
      var i = 0
      var nPages = 0L
      var lastGranule = Long.MinValue
      var codec = ""
      var channels = 0
      var rate = 0
      var preSkip = 0
      while (i + 27 <= b.length) {
        val isCapture = b(i) == 'O' && b(i + 1) == 'g' && b(i + 2) == 'g' &&
          b(i + 3) == 'S' && b(i + 4) == 0
        var advanced = false
        if (isCapture) {
          val nSegs = b(i + 26) & 0xFF
          val headerLen = 27 + nSegs
          if (i + headerLen <= b.length) {
            var payloadLen = 0
            var k = 0
            while (k < nSegs) { payloadLen += b(i + 27 + k) & 0xFF; k += 1 }
            val pageEnd = i + headerLen + payloadLen
            if (pageEnd <= b.length) {
              val stored = le32u(b, i + 22).toInt
              val computed = crc(b, i, pageEnd, i + 22, i + 26)
              if (stored == computed) {
                val headerType = b(i + 5) & 0xFF
                val granule = le64(b, i + 6)
                nPages += 1
                // granule -1 marks a no-complete-packet page; skip it
                if (granule != -1L) lastGranule = granule
                if ((headerType & 2) != 0 && codec.isEmpty) {
                  val p = i + headerLen
                  if (payloadLen >= 30 && (b(p) & 0xFF) == 1 &&
                      b(p + 1) == 'v' && b(p + 2) == 'o' && b(p + 3) == 'r' &&
                      b(p + 4) == 'b' && b(p + 5) == 'i' && b(p + 6) == 's') {
                    codec = "vorbis"
                    channels = b(p + 11) & 0xFF
                    rate = le32u(b, p + 12).toInt
                  } else if (payloadLen >= 19 && b(p) == 'O' && b(p + 1) == 'p' &&
                      b(p + 2) == 'u' && b(p + 3) == 's' && b(p + 4) == 'H' &&
                      b(p + 5) == 'e' && b(p + 6) == 'a' && b(p + 7) == 'd') {
                    codec = "opus"
                    channels = b(p + 9) & 0xFF
                    preSkip = le16(b, p + 10)
                    rate = le32u(b, p + 12).toInt
                  } else if (payloadLen >= 7 && (b(p) & 0xFF) == 0x80 &&
                      b(p + 1) == 't' && b(p + 2) == 'h' && b(p + 3) == 'e' &&
                      b(p + 4) == 'o' && b(p + 5) == 'r' && b(p + 6) == 'a') {
                    codec = "theora"
                  }
                }
                i = pageEnd
                advanced = true
              }
            } else i = b.length // truncated final page
          } else i = b.length
        }
        if (!advanced && i < b.length) {
          // resync: scan for the next capture pattern
          var j = i + 1
          while (j + 4 <= b.length &&
            !(b(j) == 'O' && b(j + 1) == 'g' && b(j + 2) == 'g' && b(j + 3) == 'S')) j += 1
          i = if (j + 4 <= b.length) j else b.length
        }
      }
      if (codec.isEmpty || nPages == 0) return None
      val durationMs = codec match {
        case "vorbis" if rate > 0 && lastGranule > 0 =>
          lastGranule * 1000L / rate
        case "opus" if lastGranule > preSkip =>
          (lastGranule - preSkip) * 1000L / 48000L
        case _ => 0L
      }
      Some(OggMeta(codec, channels, rate, nPages, durationMs))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Reassembled logical packets of the FIRST logical stream (by BOS
    * serial): pages are CRC-verified and walked in order; a packet spans
    * segments (and pages, via the continued-packet flag) until a lacing
    * value < 255 ends it. Damage resyncs to the next capture — the
    * packets before the damage survive. The [[Vorbis]] decode arm feeds
    * on this.
    */
  def packets(b: Array[Byte]): Seq[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    if (b == null || b.length < 28) return Nil
    try {
      var i = 0
      var serial = -1L
      var cur = new java.io.ByteArrayOutputStream()
      var inPacket = false
      while (i + 27 <= b.length) {
        val isCapture = b(i) == 'O' && b(i + 1) == 'g' && b(i + 2) == 'g' &&
          b(i + 3) == 'S' && b(i + 4) == 0
        var advanced = false
        if (isCapture) {
          val nSegs = b(i + 26) & 0xFF
          val headerLen = 27 + nSegs
          if (i + headerLen <= b.length) {
            var payloadLen = 0
            var k = 0
            while (k < nSegs) { payloadLen += b(i + 27 + k) & 0xFF; k += 1 }
            val pageEnd = i + headerLen + payloadLen
            if (pageEnd <= b.length) {
              val stored = le32u(b, i + 22).toInt
              if (stored == crc(b, i, pageEnd, i + 22, i + 26)) {
                val headerType = b(i + 5) & 0xFF
                val pageSerial = le32u(b, i + 14)
                if (serial == -1L && (headerType & 2) != 0) serial = pageSerial
                if (serial == pageSerial) {
                  // a fresh page NOT flagged continued starts a new packet
                  if ((headerType & 1) == 0 && inPacket) {
                    cur = new java.io.ByteArrayOutputStream() // drop partial
                    inPacket = false
                  }
                  // continued flag with NO packet in flight (stream start
                  // after damage, or resync): the tail belongs to a packet
                  // whose head was lost — libogg discards it; emitting it
                  // as a standalone packet would hand downstream decoders
                  // a mid-packet fragment dressed as a whole one. Skip
                  // segments through the first lacing < 255.
                  var discarding = (headerType & 1) != 0 && !inPacket
                  var off = i + headerLen
                  k = 0
                  while (k < nSegs) {
                    val lace = b(i + 27 + k) & 0xFF
                    if (discarding) {
                      if (lace < 255) discarding = false
                    } else {
                      cur.write(b, off, lace)
                      inPacket = true
                      if (lace < 255) {
                        out += cur.toByteArray
                        cur = new java.io.ByteArrayOutputStream()
                        inPacket = false
                      }
                    }
                    off += lace
                    k += 1
                  }
                }
                i = pageEnd
                advanced = true
              }
            } else i = b.length
          } else i = b.length
        }
        if (!advanced && i < b.length) {
          var j = i + 1
          while (j + 4 <= b.length &&
            !(b(j) == 'O' && b(j + 1) == 'g' && b(j + 2) == 'g' && b(j + 3) == 'S')) j += 1
          i = if (j + 4 <= b.length) j else b.length
        }
      }
      out.result()
    } catch { case scala.util.control.NonFatal(_) => out.result() }
  }

  /** Assemble one Ogg page with a correct CRC — shared by the spec and
    * certificate builders (the parser is the artifact under test; the
    * oracle checks metadata fields, not CRC bytes).
    */
  private[graft] def page(headerType: Int, granule: Long, serial: Long,
      seq: Long, packet: Array[Byte]): Array[Byte] = {
    // a page's segment table holds at most 255 lacing values: a packet
    // needing more must span pages, which this builder doesn't do — fail
    // loudly instead of emitting a wrapped (corrupt) segment count
    require(packet.length < 255 * 255,
      s"builder supports single-page packets < ${255 * 255} B: ${packet.length}")
    // lacing: 255-runs then the remainder (a multiple-of-255 packet gets
    // a trailing 0 lacing value, per RFC 3533)
    val lacing = {
      val full = packet.length / 255
      val rem = packet.length % 255
      Array.fill(full)(255.toByte) :+ rem.toByte
    }
    val out = new Array[Byte](27 + lacing.length + packet.length)
    out(0) = 'O'; out(1) = 'g'; out(2) = 'g'; out(3) = 'S'
    out(5) = headerType.toByte
    var k = 0
    while (k < 8) { out(6 + k) = ((granule >>> (8 * k)) & 0xFF).toByte; k += 1 }
    k = 0
    while (k < 4) {
      out(14 + k) = ((serial >>> (8 * k)) & 0xFF).toByte
      out(18 + k) = ((seq >>> (8 * k)) & 0xFF).toByte
      k += 1
    }
    out(26) = lacing.length.toByte
    System.arraycopy(lacing, 0, out, 27, lacing.length)
    System.arraycopy(packet, 0, out, 27 + lacing.length, packet.length)
    val c = crc(out, 0, out.length, 22, 26)
    k = 0
    while (k < 4) { out(22 + k) = ((c >>> (8 * k)) & 0xFF).toByte; k += 1 }
    out
  }
}
