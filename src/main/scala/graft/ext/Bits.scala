package graft.ext

/** Bit order for the codecs' bit streams: the one copy of the MSB-first
  * and LSB-first readers and writers every bit-packed format needs.
  *
  * Bit order is the class, not a flag. [[MsbReader]]/[[MsbWriter]] take
  * each byte's bits from bit 7 down and pack a field's high bit first
  * (MPEG audio, FLAC, CCITT, TIFF LZW); [[LsbReader]]/[[LsbWriter]] take
  * bits from bit 0 up and pack a field's low bit first (Vorbis, VP8L,
  * Unix compress).
  *
  * What happens when the bits run out is one policy per method:
  *   - `bit`, `bits` and `bitsLong` throw [[Bits.EndOfInput]] when the
  *     read would cross the end, and consume nothing;
  *   - `peek` reads zeros past the end and never throws;
  *   - `skip` and a set `pos` may go past the end; the next read throws.
  *
  * Each decoder maps `EndOfInput` to its own outcome (None, a skipped
  * packet, the end of the code stream). JPEG's entropy reader is not one
  * of these: its 0xFF00 unstuffing and marker stop are JPEG's format.
  */
private[graft] object Bits {

  /** The read crossed the end of the input. Stackless, so a decoder's
    * hot loop can end on it without building a trace.
    */
  final class EndOfInput extends RuntimeException(null, null, false, false)
}

/** Position and bounds shared by both readers over `buf(from until until)`
  * (byte offsets). `pos` is the absolute bit position: `pos >>> 3` is the
  * byte, `pos & 7` the bits of it already consumed.
  */
private[graft] sealed abstract class BitsIn(buf: Array[Byte], from: Int, until: Int) {
  var pos: Long = from.toLong << 3
  val end: Long = until.toLong << 3

  def remaining: Long = end - pos
  def exhausted: Boolean = pos >= end
  def skip(n: Int): Unit = pos += n
  def aligned: Boolean = (pos & 7) == 0
  def alignToByte(): Unit = pos = (pos + 7) & ~7L

  /** The byte holding the next bit; setting it moves to that byte's start. */
  def bytePos: Int = (pos >>> 3).toInt
  def bytePos_=(p: Int): Unit = pos = p.toLong << 3

  def bit(): Int

  /** The next `n <= 64` bits as a value; `n <= 0` reads nothing and
    * returns 0.
    */
  def bitsLong(n: Int): Long

  /** The next `n <= 32` bits as a value. */
  def bits(n: Int): Int = bitsLong(n).toInt

  /** The next `n <= 32` bits without consuming them, zeros past the end. */
  def peek(n: Int): Int = {
    val avail = end - pos
    if (n <= 0 || avail <= 0) 0
    else {
      val at = pos
      val v = if (avail >= n) bitsLong(n) else padded(bitsLong(avail.toInt), n - avail.toInt)
      pos = at
      v.toInt
    }
  }

  /** A short read `v` widened by `missing` zero bits in this order. */
  protected def padded(v: Long, missing: Int): Long

  protected final def checkRead(n: Int): Unit =
    if (n > end - pos) throw new Bits.EndOfInput
}

/** MSB-first reader: bit 7 of each byte comes first, and a field's first
  * bit is its high bit.
  */
private[graft] final class MsbReader(buf: Array[Byte], from: Int, until: Int)
    extends BitsIn(buf, from, until) {
  def this(buf: Array[Byte], from: Int) = this(buf, from, buf.length)
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)

  def bit(): Int = {
    checkRead(1)
    val p = pos
    pos = p + 1
    (buf((p >>> 3).toInt) >> (7 - (p & 7).toInt)) & 1
  }

  def bitsLong(n: Int): Long = {
    if (n <= 0) return 0L
    checkRead(n)
    if (n > 56) return (bitsLong(n - 32) << 32) | bitsLong(32)
    // the bytes the field touches (at most 8), first byte high
    val stop = pos + n
    val last = ((stop - 1) >>> 3).toInt
    var i = (pos >>> 3).toInt
    var w = 0L
    while (i <= last) { w = (w << 8) | (buf(i) & 0xFF); i += 1 }
    pos = stop
    (w >>> ((-stop) & 7).toInt) & (-1L >>> (64 - n))
  }

  protected def padded(v: Long, missing: Int): Long = v << missing
}

/** LSB-first reader: bit 0 of each byte comes first, and a field's first
  * bit is its low bit.
  */
private[graft] final class LsbReader(buf: Array[Byte], from: Int, until: Int)
    extends BitsIn(buf, from, until) {
  def this(buf: Array[Byte], from: Int) = this(buf, from, buf.length)
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)

  def bit(): Int = {
    checkRead(1)
    val p = pos
    pos = p + 1
    (buf((p >>> 3).toInt) >> (p & 7).toInt) & 1
  }

  def bitsLong(n: Int): Long = {
    if (n <= 0) return 0L
    checkRead(n)
    if (n > 56) return bitsLong(32) | (bitsLong(n - 32) << 32)
    // the bytes the field touches (at most 8), first byte low
    val first = (pos >>> 3).toInt
    var i = ((pos + n - 1) >>> 3).toInt
    var w = 0L
    while (i >= first) { w = (w << 8) | (buf(i) & 0xFF); i -= 1 }
    val v = (w >>> (pos & 7).toInt) & (-1L >>> (64 - n))
    pos += n
    v
  }

  protected def padded(v: Long, missing: Int): Long = v
}

/** What both writers share: the output bytes, the pending bits of the
  * last partial byte, and the zero-padded finish.
  */
private[graft] sealed abstract class BitsOut {
  private var out = new Array[Byte](256)
  private var len = 0
  /** Pending bits not yet a whole byte, right-aligned; `pending` of them. */
  protected var acc = 0L
  protected var pending = 0

  /** Write the low `n` bits of `v` (0 to 64; 0 writes nothing). */
  def bits(v: Long, n: Int): Unit

  def bitLength: Long = len.toLong * 8 + pending
  def alignToByte(): Unit = if (pending > 0) bits(0, 8 - pending)

  /** The bytes written, the last one padded with zero bits. */
  def result(): Array[Byte] = {
    alignToByte()
    java.util.Arrays.copyOf(out, len)
  }

  protected final def put(b: Long): Unit = {
    if (len == out.length) out = java.util.Arrays.copyOf(out, len * 2)
    out(len) = b.toByte
    len += 1
  }

  protected final def mask(n: Int): Long = (1L << n) - 1
}

/** MSB-first writer: a field's high bit first, filling each byte from
  * bit 7 down.
  */
private[graft] final class MsbWriter extends BitsOut {
  def bits(v: Long, n: Int): Unit =
    if (n > 56) { bits(v >>> 32, n - 32); bits(v, 32) }
    else if (n > 0) {
      acc = (acc << n) | (v & mask(n))
      pending += n
      while (pending >= 8) { pending -= 8; put(acc >>> pending) }
    }
}

/** LSB-first writer: a field's low bit first, filling each byte from
  * bit 0 up.
  */
private[graft] final class LsbWriter extends BitsOut {
  def bits(v: Long, n: Int): Unit =
    if (n > 56) { bits(v, 32); bits(v >>> 32, n - 32) }
    else if (n > 0) {
      acc |= (v & mask(n)) << pending
      pending += n
      while (pending >= 8) { put(acc); acc >>>= 8; pending -= 8 }
    }

  /** A prefix codeword of `len` bits, its high bit first (the bit a
    * tree descent reads first), into this LSB-first stream.
    */
  def code(c: Int, len: Int): Unit =
    if (len > 0) bits((Integer.reverse(c) >>> (32 - len)).toLong, len)
}
