package graft.ext

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

/** [[Bytes]] against `java.nio.ByteBuffer` as the independent reference:
  * every byte position of every width takes all 256 values, at offset 0
  * and at `length - width`, over a seeded background; a read or write one
  * byte past the end throws `ArrayIndexOutOfBoundsException`.
  */
class BytesSpec extends AnyFunSuite {

  private val LE = ByteOrder.LITTLE_ENDIAN
  private val BE = ByteOrder.BIG_ENDIAN
  private val len = 11

  private def background(seed: Long): Array[Byte] = {
    val b = new Array[Byte](len)
    new scala.util.Random(seed).nextBytes(b)
    b
  }

  private def buf(b: Array[Byte], order: ByteOrder): ByteBuffer = ByteBuffer.wrap(b).order(order)

  /** Reference reads: unsigned of `width` bytes (64 bits as-is). */
  private def refRead(b: Array[Byte], i: Int, width: Int, order: ByteOrder): Long = width match {
    case 2 => buf(b, order).getShort(i) & 0xFFFFL
    case 3 =>
      val (lo, mid, hi) =
        if (order == LE) (b(i), b(i + 1), b(i + 2)) else (b(i + 2), b(i + 1), b(i))
      (lo & 0xFFL) | ((mid & 0xFFL) << 8) | ((hi & 0xFFL) << 16)
    case 4 => buf(b, order).getInt(i) & 0xFFFFFFFFL
    case 8 => buf(b, order).getLong(i)
  }

  /** Every array a read must agree on: each byte position of the
    * `width`-wide field at offset `at` set to each of the 256 values.
    */
  private def fields(width: Int): Iterator[(Array[Byte], Int)] =
    for {
      at <- Iterator(0, len - width)
      pos <- Iterator.range(0, width)
      v <- Iterator.range(0, 256)
    } yield {
      val b = background(width * 1000L + pos * 7L + at)
      b(at + pos) = v.toByte
      (b, at)
    }

  private val readers: Seq[(String, Int, ByteOrder, (Array[Byte], Int) => Long)] = Seq(
    ("le16", 2, LE, (b, i) => Bytes.le16(b, i).toLong),
    ("le24", 3, LE, (b, i) => Bytes.le24(b, i).toLong),
    ("le32u", 4, LE, Bytes.le32u),
    ("le32", 4, LE, (b, i) => Bytes.le32(b, i) & 0xFFFFFFFFL),
    ("le64", 8, LE, Bytes.le64),
    ("be16", 2, BE, (b, i) => Bytes.be16(b, i).toLong),
    ("be32u", 4, BE, Bytes.be32u),
    ("be32", 4, BE, (b, i) => Bytes.be32(b, i) & 0xFFFFFFFFL),
    ("be64", 8, BE, Bytes.be64),
    ("u16 little", 2, LE, (b, i) => Bytes.u16(b, i, bigEndian = false).toLong),
    ("u16 big", 2, BE, (b, i) => Bytes.u16(b, i, bigEndian = true).toLong),
    ("u32 little", 4, LE, (b, i) => Bytes.u32(b, i, bigEndian = false)),
    ("u32 big", 4, BE, (b, i) => Bytes.u32(b, i, bigEndian = true)))

  test("every reader equals ByteBuffer for all 256 values in each byte position") {
    readers.foreach { case (name, width, order, read) =>
      fields(width).foreach { case (b, at) =>
        assert(read(b, at) == refRead(b, at, width, order), s"$name at=$at ${b.toSeq}")
      }
    }
  }

  test("the signed 32-bit reads are the Int of the unsigned ones") {
    fields(4).foreach { case (b, at) =>
      assert(Bytes.le32(b, at) == buf(b, LE).getInt(at))
      assert(Bytes.be32(b, at) == buf(b, BE).getInt(at))
      assert(Bytes.le32u(b, at) >= 0 && Bytes.be32u(b, at) >= 0)
    }
  }

  test("a read one byte past the end throws ArrayIndexOutOfBoundsException") {
    readers.foreach { case (name, width, _, read) =>
      val b = background(width)
      read(b, len - width) // the last whole field reads
      intercept[ArrayIndexOutOfBoundsException](read(b, len - width + 1))
      intercept[ArrayIndexOutOfBoundsException](read(b, -1))
      info(s"$name: bounds hold")
    }
  }

  /** Values whose byte at each position of `width` takes all 256 values
    * over a seeded background, with the sign bit both set and clear.
    */
  private def values(width: Int): Iterator[Long] = {
    val rnd = new scala.util.Random(width)
    for {
      pos <- Iterator.range(0, width)
      v <- Iterator.range(0, 256)
    } yield {
      val bg = rnd.nextLong()
      (bg & ~(0xFFL << (8 * pos))) | (v.toLong << (8 * pos))
    }
  }

  /** `width` bytes of `v` in `order`, low bytes of the value. */
  private def refBytes(v: Long, width: Int, order: ByteOrder): Array[Byte] = {
    val all = ByteBuffer.allocate(8).order(order).putLong(v).array()
    if (order == LE) all.take(width) else all.takeRight(width)
  }

  private val writers: Seq[(String, Int, ByteOrder, (Array[Byte], Int, Long) => Unit)] = Seq(
    ("putLe16", 2, LE, (b, i, v) => Bytes.putLe16(b, i, v.toInt)),
    ("putLe32", 4, LE, Bytes.putLe32),
    ("putLe32 (Int)", 4, LE, (b, i, v) => Bytes.putLe32(b, i, v.toInt)),
    ("putLe64", 8, LE, Bytes.putLe64),
    ("putBe16", 2, BE, (b, i, v) => Bytes.putBe16(b, i, v.toInt)),
    ("putBe32", 4, BE, Bytes.putBe32),
    ("putBe32 (Int)", 4, BE, (b, i, v) => Bytes.putBe32(b, i, v.toInt)),
    ("put16 little", 2, LE, (b, i, v) => Bytes.put16(b, i, v.toInt, bigEndian = false)),
    ("put16 big", 2, BE, (b, i, v) => Bytes.put16(b, i, v.toInt, bigEndian = true)),
    ("put32 little", 4, LE, (b, i, v) => Bytes.put32(b, i, v, bigEndian = false)),
    ("put32 big", 4, BE, (b, i, v) => Bytes.put32(b, i, v, bigEndian = true)))

  test("every array writer stores exactly the ByteBuffer bytes and touches nothing else") {
    writers.foreach { case (name, width, order, write) =>
      values(width).foreach { v =>
        Seq(0, len - width).foreach { at =>
          val b = background(v)
          val expected = b.clone()
          System.arraycopy(refBytes(v, width, order), 0, expected, at, width)
          write(b, at, v)
          assert(b.sameElements(expected), s"$name v=$v at=$at")
        }
      }
    }
  }

  test("a write one byte past the end throws ArrayIndexOutOfBoundsException") {
    writers.foreach { case (_, width, _, write) =>
      intercept[ArrayIndexOutOfBoundsException](write(new Array[Byte](len), len - width + 1, 1L))
    }
  }

  test("stream writers and the new-array forms emit the ByteBuffer bytes") {
    val streams: Seq[(String, Int, ByteOrder, (java.io.OutputStream, Long) => Unit)] = Seq(
      ("writeLe16", 2, LE, (o, v) => Bytes.writeLe16(o, v.toInt)),
      ("writeLe32", 4, LE, Bytes.writeLe32),
      ("writeLe64", 8, LE, Bytes.writeLe64),
      ("writeBe32", 4, BE, Bytes.writeBe32))
    streams.foreach { case (name, width, order, write) =>
      values(width).foreach { v =>
        val out = new java.io.ByteArrayOutputStream()
        out.write(7)
        write(out, v)
        assert(out.toByteArray.sameElements(7.toByte +: refBytes(v, width, order)), s"$name v=$v")
      }
    }
    val arrays: Seq[(String, Int, ByteOrder, Long => Array[Byte])] = Seq(
      ("le24Of", 3, LE, v => Bytes.le24Of(v.toInt)),
      ("le32Of", 4, LE, Bytes.le32Of),
      ("be16Of", 2, BE, v => Bytes.be16Of(v.toInt)),
      ("be32Of", 4, BE, Bytes.be32Of))
    arrays.foreach { case (name, width, order, of) =>
      values(width).foreach(v => assert(of(v).sameElements(refBytes(v, width, order)), s"$name v=$v"))
    }
  }

  test("a write then a read of the same width and order round-trips") {
    val b = new Array[Byte](len)
    values(4).foreach { v =>
      Bytes.putLe32(b, 3, v); assert(Bytes.le32u(b, 3) == (v & 0xFFFFFFFFL))
      Bytes.putBe32(b, 3, v); assert(Bytes.be32u(b, 3) == (v & 0xFFFFFFFFL))
    }
    values(8).foreach { v => Bytes.putLe64(b, 2, v); assert(Bytes.le64(b, 2) == v) }
  }

  test("src/main defines no byte-order helper outside Bytes") {
    graft.OneHome.assertOnlyIn(Seq("ext/Bytes.scala"), Seq(
      """\bdef\s+(le16|le32|be16|be32|u16|u32|w16|w32|putLe\w*|putBe\w*)\b""".r))
  }
}
