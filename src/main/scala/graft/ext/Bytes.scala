package graft.ext

import java.io.OutputStream

/** Byte-order access for the codecs and their fixture writers: the one
  * copy of the little- and big-endian reads and writes every container
  * walk and container builder needs.
  *
  * Reads index the array directly, lowest offset first, so a read that
  * runs past the end throws `ArrayIndexOutOfBoundsException` — the
  * exception the codecs' hostile-input handlers already catch. Reads of
  * up to 24 bits return a non-negative `Int`; the 32-bit read comes as a
  * signed `Int` (`le32`/`be32`) or an unsigned `Long` (`le32u`/`be32u`).
  *
  * Writers store the low bits of the value, so an `Int` and its
  * sign-extended `Long` write the same bytes. `bigEndian` picks the order
  * where one format carries both (TIFF's `II`/`MM`).
  */
private[graft] object Bytes {

  // ------------------------------------------------------------ reads

  def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)

  def le24(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) | ((b(i + 2) & 0xFF) << 16)

  def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

  def le32u(b: Array[Byte], i: Int): Long = le32(b, i) & 0xFFFFFFFFL

  def le64(b: Array[Byte], i: Int): Long = le32u(b, i) | (le32u(b, i + 4) << 32)

  def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)

  def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)

  def be32u(b: Array[Byte], i: Int): Long = be32(b, i) & 0xFFFFFFFFL

  def be64(b: Array[Byte], i: Int): Long = (be32u(b, i) << 32) | be32u(b, i + 4)

  def u16(b: Array[Byte], i: Int, bigEndian: Boolean): Int =
    if (bigEndian) be16(b, i) else le16(b, i)

  def u32(b: Array[Byte], i: Int, bigEndian: Boolean): Long =
    if (bigEndian) be32u(b, i) else le32u(b, i)

  // ----------------------------------------------------- array writes

  def putLe16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
  }

  def putLe32(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
    b(i + 2) = (v >>> 16).toByte; b(i + 3) = (v >>> 24).toByte
  }

  def putLe64(b: Array[Byte], i: Int, v: Long): Unit = {
    putLe32(b, i, v); putLe32(b, i + 4, v >>> 32)
  }

  def putBe16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v >>> 8).toByte; b(i + 1) = v.toByte
  }

  def putBe32(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
    b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
  }

  def put16(b: Array[Byte], i: Int, v: Int, bigEndian: Boolean): Unit =
    if (bigEndian) putBe16(b, i, v) else putLe16(b, i, v)

  def put32(b: Array[Byte], i: Int, v: Long, bigEndian: Boolean): Unit =
    if (bigEndian) putBe32(b, i, v) else putLe32(b, i, v)

  // ---------------------------------------------------- stream writes

  def writeLe16(out: OutputStream, v: Int): Unit = {
    out.write(v); out.write(v >>> 8)
  }

  def writeLe32(out: OutputStream, v: Long): Unit = {
    out.write(v.toInt); out.write((v >>> 8).toInt)
    out.write((v >>> 16).toInt); out.write((v >>> 24).toInt)
  }

  def writeLe64(out: OutputStream, v: Long): Unit = {
    writeLe32(out, v); writeLe32(out, v >>> 32)
  }

  def writeBe32(out: OutputStream, v: Long): Unit = {
    out.write((v >>> 24).toInt); out.write((v >>> 16).toInt)
    out.write((v >>> 8).toInt); out.write(v.toInt)
  }

  // ------------------------------------------------------ new arrays

  def le24Of(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte)

  def le32Of(v: Long): Array[Byte] = { val b = new Array[Byte](4); putLe32(b, 0, v); b }

  def be16Of(v: Int): Array[Byte] = { val b = new Array[Byte](2); putBe16(b, 0, v); b }

  def be32Of(v: Long): Array[Byte] = { val b = new Array[Byte](4); putBe32(b, 0, v); b }
}
