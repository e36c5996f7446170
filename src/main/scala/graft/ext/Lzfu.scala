package graft.ext

import graft.ext.Bytes.{be16, le32, putLe32}

/** LZFu ("compressed RTF") — the codec Outlook applies to message
  * bodies stored under PR_RTF_COMPRESSED (0x1009), spec [MS-OXRTFCP].
  * Most real .msg files carry ONLY this body form, so [[Msg]] falls
  * back through it (decompress → [[Rtf.text]]) when the plain-text
  * property is absent.
  *
  * The format: a 16-byte header (compressed size, raw size, magic
  * `LZFu` compressed / `MELA` stored, CRC), then LZ77 over a 4096-byte
  * circular dictionary PRE-LOADED with the spec's 207-byte RTF prefix
  * (§2.1.2.1.4 — both ends must share it byte-exactly). Control bytes
  * carry 8 flags LSB-first: 0 = literal (written through to the
  * dictionary), 1 = big-endian 16-bit reference (12-bit offset, 4-bit
  * length−2); a reference whose offset equals the current write
  * position is the end marker.
  */
object Lzfu {

  // [MS-OXRTFCP] §2.1.2.1.4 initial dictionary (207 bytes; \r\n real)
  private val InitDict: Array[Byte] =
    ("{\\rtf1\\ansi\\mac\\deff0\\deftab720{\\fonttbl;}" +
      "{\\f0\\fnil \\froman \\fswiss \\fmodern \\fscript " +
      "\\fdecor MS Sans SerifSymbolArialTimes New RomanCourier" +
      "{\\colortbl\\red0\\green0\\blue0\r\n\\par " +
      "\\pard\\plain\\f0\\fs20\\b\\i\\u\\tab\\bullet\\endash\\emdash" +
      "\\lquote\\rquote\\ldblquote\\rdblquote ").getBytes("ISO-8859-1")

  private val MagicCompressed = 0x75465A4C // "LZFu"
  private val MagicStored = 0x414C454D     // "MELA"

  /** Decompress a PR_RTF_COMPRESSED value to raw RTF bytes. None on a
    * bad magic or malformed stream.
    */
  def decompress(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length < 16) return None
    val rawSize = le32(b, 4)
    val magic = le32(b, 8)
    if (rawSize < 0) return None // hostile header; checked before BOTH arms
    if (magic == MagicStored)
      return Some(java.util.Arrays.copyOfRange(b, 16,
        math.max(16, math.min(b.length, 16 + rawSize))))
    if (magic != MagicCompressed) return None
    try {
      val dict = new Array[Byte](4096)
      System.arraycopy(InitDict, 0, dict, 0, InitDict.length)
      var wp = InitDict.length
      // a 16-byte header cannot legitimately announce gigabytes: LZFu's
      // max expansion is ~2 orders of magnitude, so bound the preallocation
      // by input size (the stream loop still stops at i >= b.length)
      val out = new java.io.ByteArrayOutputStream(
        math.min(rawSize, math.max(4096, b.length * 32)))
      var i = 16
      var done = false
      while (!done && out.size < rawSize && i < b.length) {
        var control = b(i) & 0xFF
        i += 1
        var bit = 0
        while (!done && bit < 8 && out.size < rawSize && i < b.length) {
          if ((control & 1) == 1) {
            // big-endian reference
            val ref = be16(b, i)
            i += 2
            val off = ref >>> 4
            val len = (ref & 0x0F) + 2
            if (off == (wp & 0xFFF)) done = true // end marker
            else {
              var k = 0
              while (k < len) {
                val c = dict((off + k) & 0xFFF)
                out.write(c)
                dict(wp & 0xFFF) = c
                wp += 1
                k += 1
              }
            }
          } else {
            val c = b(i); i += 1
            out.write(c)
            dict(wp & 0xFFF) = c
            wp += 1
          }
          control >>= 1
          bit += 1
        }
      }
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  /** Compress raw RTF bytes into a PR_RTF_COMPRESSED value — greedy
    * 3-gram matcher over the circular dictionary (references down to
    * length 2 when a 3-gram extends backwards), ending with the spec's
    * end-marker reference. Fixture-grade: correct, not optimal.
    */
  private[graft] def compress(raw: Array[Byte]): Array[Byte] = {
    val dict = new Array[Byte](4096)
    System.arraycopy(InitDict, 0, dict, 0, InitDict.length)
    var wp = InitDict.length
    // 3-gram -> most recent dictionary WRITE position of its first byte
    val gram = new java.util.HashMap[Integer, Integer]()
    def key(a: Byte, b: Byte, c: Byte): Integer =
      ((a & 0xFF) << 16) | ((b & 0xFF) << 8) | (c & 0xFF)
    // seed grams from the init dict
    var s = 0
    while (s + 2 < InitDict.length) {
      gram.put(key(InitDict(s), InitDict(s + 1), InitDict(s + 2)), s)
      s += 1
    }
    val body = new java.io.ByteArrayOutputStream()
    val pending = new java.io.ByteArrayOutputStream()
    var flags = 0
    var nFlags = 0
    def flushIfFull(): Unit = if (nFlags == 8) {
      body.write(flags); pending.writeTo(body); pending.reset()
      flags = 0; nFlags = 0
    }
    def emitLiteral(c: Byte): Unit = {
      pending.write(c); nFlags += 1
      if (wp >= 2) gram.put(key(dict((wp - 2) & 0xFFF),
        dict((wp - 1) & 0xFFF), c), wp - 2)
      dict(wp & 0xFFF) = c; wp += 1
      flushIfFull()
    }
    def emitRef(off: Int, len: Int, src: Array[Byte], at: Int): Unit = {
      val ref = (off << 4) | (len - 2)
      pending.write((ref >> 8) & 0xFF); pending.write(ref & 0xFF)
      flags |= (1 << nFlags); nFlags += 1
      var k = 0
      while (k < len) {
        val c = src(at + k)
        if (wp >= 2) gram.put(key(dict((wp - 2) & 0xFFF),
          dict((wp - 1) & 0xFFF), c), wp - 2)
        dict(wp & 0xFFF) = c; wp += 1
        k += 1
      }
      flushIfFull()
    }
    var i = 0
    while (i < raw.length) {
      var matched = false
      if (i + 2 < raw.length) {
        val pos = gram.get(key(raw(i), raw(i + 1), raw(i + 2)))
        if (pos != null) {
          val off = pos & 0xFFF
          // verify (the map may be stale after dictionary wrap) and
          // extend up to 17
          var len = 0
          while (len < 17 && i + len < raw.length &&
            dict((off + len) & 0xFFF) == raw(i + len) &&
            // a reference may not read bytes it is itself writing
            pos + len < wp) len += 1
          if (len >= 3) {
            emitRef(off, len, raw, i)
            i += len
            matched = true
          }
        }
      }
      if (!matched) { emitLiteral(raw(i)); i += 1 }
    }
    // end marker: offset == current write position
    val endRef = ((wp & 0xFFF) << 4)
    pending.write((endRef >> 8) & 0xFF); pending.write(endRef & 0xFF)
    flags |= (1 << nFlags); nFlags += 1
    body.write(flags); pending.writeTo(body)

    val payload = body.toByteArray
    val outB = new Array[Byte](16 + payload.length)
    putLe32(outB, 0, payload.length + 12) // compSize excludes itself
    putLe32(outB, 4, raw.length)
    putLe32(outB, 8, MagicCompressed)
    putLe32(outB, 12, crc32(payload))
    System.arraycopy(payload, 0, outB, 16, payload.length)
    outB
  }

  /** [MS-OXRTFCP] CRC (the CRC32 table variant over the compressed
    * payload).
    */
  private def crc32(b: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32()
    c.update(b)
    c.getValue.toInt
  }
}
