package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** [[MsbReader]], [[LsbReader]], [[MsbWriter]] and [[LsbWriter]] against a
  * bit-at-a-time `BigInt` reference: every width at every bit offset 0–7
  * in both orders, reads that end exactly at the end or one bit past it,
  * `peek`'s zero fill, `skip`, alignment, and writer → reader round trips.
  */
class BitsSpec extends AnyFunSuite {

  private sealed trait Order
  private case object Msb extends Order
  private case object Lsb extends Order
  private val orders = Seq(Msb, Lsb)

  private def bytes(n: Int, seed: Long): Array[Byte] = {
    val b = new Array[Byte](n)
    new scala.util.Random(seed).nextBytes(b)
    b
  }

  /** Stream bit `k` of `b` in `order`. */
  private def refBit(b: Array[Byte], k: Long, order: Order): Int = {
    val byte = b((k >>> 3).toInt)
    order match {
      case Msb => (byte >> (7 - (k & 7).toInt)) & 1
      case Lsb => (byte >> (k & 7).toInt) & 1
    }
  }

  /** The `n`-bit field at stream bit `at`: first bit high (MSB) or low (LSB). */
  private def refValue(b: Array[Byte], at: Long, n: Int, order: Order): BigInt =
    (0 until n).foldLeft(BigInt(0)) { (v, i) =>
      val bit = refBit(b, at + i, order)
      order match {
        case Msb => (v << 1) | bit
        case Lsb => v | (BigInt(bit) << i)
      }
    }

  private def reader(order: Order, b: Array[Byte], from: Int = 0, until: Int = -1): BitsIn = {
    val u = if (until < 0) b.length else until
    order match {
      case Msb => new MsbReader(b, from, u)
      case Lsb => new LsbReader(b, from, u)
    }
  }

  private def writer(order: Order): BitsOut = order match {
    case Msb => new MsbWriter
    case Lsb => new LsbWriter
  }

  test("bits and bitsLong equal the BigInt reference at every width and bit offset") {
    for (order <- orders; off <- 0 until 8; n <- 0 to 64; seed <- 0 until 8) {
      val b = bytes(11, seed * 100L + n)
      val at = 8L + off
      val want = refValue(b, at, n, order)
      val r = reader(order, b)
      r.pos = at
      assert(r.bitsLong(n) == want.toLong, s"$order off=$off n=$n")
      assert(r.pos == at + n)
      r.pos = at
      if (n <= 32) {
        assert(r.bits(n) == want.toInt, s"$order bits off=$off n=$n")
        assert(r.bits(0) == 0 && r.pos == at + n)
      }
    }
  }

  test("bit and a run of mixed-width reads walk the reference stream") {
    for (order <- orders; seed <- 0 until 20) {
      val b = bytes(64, seed)
      val rng = new scala.util.Random(seed)
      val r = reader(order, b)
      var at = 0L
      while (r.remaining > 0) {
        val n = math.min(r.remaining, rng.nextInt(34).toLong).toInt
        if (rng.nextInt(4) == 0) {
          assert(r.bit() == refBit(b, at, order)); at += 1
        } else {
          assert(r.bits(n) == refValue(b, at, n, order).toInt, s"$order seed=$seed at=$at n=$n")
          at += n
        }
        assert(r.pos == at)
      }
      assert(r.exhausted)
    }
  }

  test("a read ending exactly at the end succeeds; one bit past it throws EndOfInput") {
    for (order <- orders; len <- 1 to 5; n <- 1 to 32 if n <= len * 8) {
      val b = bytes(len, len * 64L + n)
      val r = reader(order, b)
      r.pos = len * 8L - n
      assert(r.bits(n) == refValue(b, len * 8L - n, n, order).toInt)
      assert(r.exhausted && r.remaining == 0)
      intercept[Bits.EndOfInput](r.bit())
      intercept[Bits.EndOfInput](r.bits(1))
      intercept[Bits.EndOfInput](r.bitsLong(1))
      assert(r.bits(0) == 0 && r.bitsLong(0) == 0L)
      val start = len * 8L - n + 1
      r.pos = start
      intercept[Bits.EndOfInput](r.bits(n))
      intercept[Bits.EndOfInput](r.bitsLong(n))
      assert(r.pos == start, "a failed read consumes nothing")
    }
  }

  test("EndOfInput is stackless") {
    val e = intercept[Bits.EndOfInput](new MsbReader(Array.emptyByteArray).bit())
    assert(e.getStackTrace.isEmpty && e.getMessage == null)
  }

  test("a bounded reader starts at from and ends at until") {
    for (order <- orders; from <- 0 to 3; until <- from + 1 to 8) {
      val b = bytes(8, from * 10L + until)
      val r = reader(order, b, from, until)
      assert(r.pos == from * 8L && r.end == until * 8L && r.bytePos == from)
      val n = (until - from) * 8
      assert(r.bitsLong(n) == refValue(b, from * 8L, n, order).toLong)
      intercept[Bits.EndOfInput](r.bit())
    }
  }

  test("peek reads zeros past the end and never consumes or throws") {
    for (order <- orders; len <- 1 to 4; back <- 0 to 40; n <- 0 to 32) {
      val b = bytes(len, len * 1000L + back)
      val r = reader(order, b)
      val at = len * 8L - back
      if (at >= 0) {
        r.pos = at
        val avail = math.max(0, math.min(n.toLong, back.toLong)).toInt
        val head = refValue(b, at, avail, order)
        val want = order match {
          case Msb => head << (n - avail) // the missing low bits are zeros
          case Lsb => head                // the missing high bits are zeros
        }
        assert(r.peek(n) == want.toInt, s"$order len=$len back=$back n=$n")
        assert(r.pos == at)
      }
    }
    for (order <- orders) {
      val r = reader(order, bytes(2, 5))
      r.skip(16)
      assert(r.peek(13) == 0 && r.exhausted)
      r.skip(5) // past the end: still no throw from skip or peek
      assert(r.pos == 21 && r.remaining == -5 && r.peek(8) == 0)
      intercept[Bits.EndOfInput](r.bits(1))
    }
  }

  test("skip moves the position; the next read continues from there") {
    for (order <- orders; k <- 0 to 40) {
      val b = bytes(8, k)
      val r = reader(order, b)
      r.skip(k)
      assert(r.pos == k && r.bits(13) == refValue(b, k, 13, order).toInt)
    }
  }

  test("alignToByte, aligned and bytePos") {
    for (order <- orders; p <- 0 to 24) {
      val r = reader(order, bytes(4, p))
      r.pos = p
      assert(r.aligned == (p % 8 == 0))
      assert(r.bytePos == p / 8)
      r.alignToByte()
      assert(r.pos == (p + 7) / 8 * 8 && r.aligned)
      r.bytePos = 3
      assert(r.pos == 24)
      r.bytePos += 1
      assert(r.pos == 32 && r.exhausted)
    }
  }

  /** Writer reference: each field's bits in stream order, packed into
    * bytes in `order`, the last byte zero-padded.
    */
  private def refWrite(fields: Seq[(Long, Int)], order: Order): Array[Byte] = {
    val stream = fields.flatMap { case (v, n) =>
      val bits = (0 until n).map(i => ((BigInt(v) >> i) & 1).toInt) // low first
      order match {
        case Msb => bits.reverse
        case Lsb => bits
      }
    }
    stream.grouped(8).map { g =>
      g.zipWithIndex.map { case (bit, i) =>
        order match {
          case Msb => bit << (7 - i)
          case Lsb => bit << i
        }
      }.sum.toByte
    }.toArray
  }

  test("writers equal the reference at every width 0-64 after every bit offset") {
    for (order <- orders; off <- 0 until 8; n <- 0 to 64; seed <- 0 until 4) {
      val rng = new scala.util.Random(seed * 1000L + off * 100 + n)
      val fields = Seq((rng.nextLong(), off), (rng.nextLong(), n), (rng.nextLong(), 5))
      val w = writer(order)
      fields.foreach { case (v, k) => w.bits(v, k) }
      assert(w.bitLength == off + n + 5)
      assert(w.result().sameElements(refWrite(fields, order)), s"$order off=$off n=$n")
    }
  }

  test("LsbWriter.code puts a codeword's high bit first") {
    for (len <- 0 to 32; seed <- 0 until 8) {
      val c = new scala.util.Random(seed * 40L + len).nextInt()
      val w = new LsbWriter
      w.bits(seed, 3)
      w.code(c, len)
      val r = new LsbReader(w.result())
      assert(r.bits(3) == seed)
      val got = (0 until len).foldLeft(0L)((v, _) => (v << 1) | r.bit())
      val want = if (len == 0) 0L else (c.toLong & 0xFFFFFFFFL) & ((1L << len) - 1)
      assert(got == want, s"len=$len")
    }
  }

  test("alignToByte pads with zeros; result() pads the last byte") {
    for (order <- orders; k <- 0 to 17) {
      val w = writer(order)
      w.bits(-1L, k)
      assert(w.bitLength == k)
      w.alignToByte()
      assert(w.bitLength == (k + 7) / 8 * 8)
      val out = w.result()
      assert(out.sameElements(refWrite(Seq((-1L, k)), order)))
    }
    assert(new MsbWriter().result().isEmpty && new LsbWriter().result().isEmpty)
  }

  test("writer to reader round trip, both orders, over 300 random field runs") {
    for (order <- orders; seed <- 0 until 150) {
      val rng = new scala.util.Random(seed)
      val fields = Seq.fill(1 + rng.nextInt(300)) {
        val n = rng.nextInt(65)
        (rng.nextLong(), n)
      }
      val w = writer(order)
      fields.foreach { case (v, n) => w.bits(v, n) }
      val total = w.bitLength
      val r = order match {
        case Msb => new MsbReader(w.result())
        case Lsb => new LsbReader(w.result())
      }
      fields.foreach { case (v, n) =>
        val mask = if (n == 64) -1L else (1L << n) - 1
        assert(r.bitsLong(n) == (v & mask), s"$order seed=$seed n=$n")
      }
      assert(r.pos == total && r.remaining < 8)
      assert(r.peek(8) == 0) // the padding is zeros
    }
  }

  test("src/main defines no bit reader, bit writer or bit accumulator outside Bits") {
    // a bit-stream class by name, or the pending-bit counter of an inline one
    val pattern =
      """\bclass\s+(\w*Bits?(Reader|Writer)|(Msb|Lsb)\w*|Reader|Writer)\b|\bvar\s+(nbits|nBits|bitCnt|bitCount|bitBuf|bitPos|bitsLeft)\b""".r
    // Jpeg's entropy reader: its 0xFF00 unstuffing and marker stop are
    // JPEG's format, not bit order
    val jpegReader = Set(
      "private final class BitReader(b: Array[Byte], var pos: Int) {",
      "private var nBits = 0")
    graft.OneHome.assertOnlyIn(Seq("ext/Bits.scala"), Seq(pattern),
      (f, line) => f.endsWith("ext/Jpeg.scala") && jpegReader.contains(line))
  }
}
