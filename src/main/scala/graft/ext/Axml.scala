package graft.ext

import scala.collection.mutable.ArrayBuffer

import graft.ext.Bytes.{le16, le32, writeLe16, writeLe32}

/** Android binary XML (AXML) — `AndroidManifest.xml` inside every APK,
  * the routing metadata of an app-store crawl (an APK itself is a ZIP
  * the [[Zip]] arm already opens; this decodes what it contains).
  * Implements the public AOSP chunk format (ResourceTypes.h):
  *
  *   - RES_XML file header (0x0003), string pool (0x0001) in both
  *     UTF-16 and UTF-8 encodings with the high-bit length extension,
  *     resource map (0x0180) skipped;
  *   - START/END_ELEMENT (0x0102/0x0103) with the 20-byte attribute
  *     records; typed values rendered deterministically: string refs
  *     resolve through the pool, ints decimal, hex `0x%x`, booleans
  *     true/false, references `@0x%08x`, floats via Float.toString,
  *     null/other as empty;
  *   - CDATA (0x0104) carried as a pseudo-element `#text`.
  *
  * Scale shape: one manifest = one payload row, map-only on executors.
  */
object Axml {

  final case class Elem(depth: Int, name: String,
      attrs: Vector[(String, String)])

  def isAxml(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 && le16(b, 0) == 0x0003 &&
      le16(b, 2) == 8 && le32(b, 4) == b.length

  /** Flattened element stream in document order. None when the payload
    * is not AXML.
    */
  def elements(b: Array[Byte]): Option[Vector[Elem]] = {
    if (!isAxml(b)) return None
    try {
      var pool = Vector.empty[String]
      val out = Vector.newBuilder[Elem]
      var depth = 0
      var i = 8
      while (i + 8 <= b.length) {
        val typ = le16(b, i)
        val chunkSize = le32(b, i + 4)
        if (chunkSize < 8 || i + chunkSize > b.length)
          throw new IllegalArgumentException("bad chunk")
        typ match {
          case 0x0001 => pool = stringPool(b, i)
          case 0x0102 => // start element
            val name = str(pool, le32(b, i + 20))
            val attrCount = le16(b, i + 28)
            val attrStart = i + 16 + le16(b, i + 24)
            val attrSize = le16(b, i + 26)
            val attrs = Vector.newBuilder[(String, String)]
            var a = 0
            while (a < attrCount) {
              val at = attrStart + a * attrSize
              val aname = str(pool, le32(b, at + 4))
              val dataType = b(at + 15) & 0xFF
              val data = le32(b, at + 16)
              val v = dataType match {
                case 0x03 => str(pool, data)
                case 0x10 => data.toString
                case 0x11 => "0x%x".format(data)
                case 0x12 => if (data != 0) "true" else "false"
                case 0x01 => "@0x%08x".format(data)
                case 0x04 => java.lang.Float.intBitsToFloat(data).toString
                case _    => ""
              }
              attrs += aname -> v
              a += 1
            }
            out += Elem(depth, name, attrs.result())
            depth += 1
          case 0x0103 => if (depth > 0) depth -= 1
          case 0x0104 => // CDATA
            out += Elem(depth, "#text",
              Vector("" -> str(pool, le32(b, i + 16))))
          case _ => // namespaces, resource map: structural, skipped
        }
        i += chunkSize
      }
      Some(out.result())
    } catch { case _: Exception => None }
  }

  /** AndroidManifest envelope: (package, versionName,
    * uses-permission names).
    */
  def manifest(b: Array[Byte]): Option[(String, String, Vector[String])] =
    elements(b).flatMap { es =>
      es.find(_.name == "manifest").map { m =>
        def attr(e: Elem, n: String) =
          e.attrs.find(_._1 == n).map(_._2).getOrElse("")
        (attr(m, "package"), attr(m, "versionName"),
          es.filter(_.name == "uses-permission").map(attr(_, "name")))
      }
    }

  private def str(pool: Vector[String], idx: Int): String =
    if (idx >= 0 && idx < pool.length) pool(idx) else ""

  /** String pool chunk at `at` — UTF-16LE or UTF-8 per the flags, both
    * with the high-bit length extension.
    */
  private def stringPool(b: Array[Byte], at: Int): Vector[String] = {
    val count = le32(b, at + 8)
    val flags = le32(b, at + 16)
    val utf8 = (flags & 0x100) != 0
    val stringsStart = at + le32(b, at + 20)
    val headerSize = le16(b, at + 2)
    val offsets = Array.tabulate(count)(k => le32(b, at + headerSize + 4 * k))
    offsets.toVector.map { off =>
      var p = stringsStart + off
      if (utf8) {
        // two lengths: chars then bytes, each u8 with high-bit extension
        def len8(): Int = {
          val v = b(p) & 0xFF; p += 1
          if ((v & 0x80) != 0) { val lo = b(p) & 0xFF; p += 1; ((v & 0x7F) << 8) | lo }
          else v
        }
        len8() // char count (unused)
        val nBytes = len8()
        new String(b, p, nBytes, "UTF-8")
      } else {
        var n = le16(b, p); p += 2
        if ((n & 0x8000) != 0) { n = ((n & 0x7FFF) << 16) | le16(b, p); p += 2 }
        new String(b, p, n * 2, "UTF-16LE")
      }
    }
  }

  // ----- deterministic builder (fixtures/certificates) ------------------

  /** Build an AXML document: elements as (depth-implied) nested
    * (name, attrs with typed values); values: String, Int (dec),
    * Boolean, Float. The pool is UTF-16 unless `utf8Pool`.
    */
  private[graft] def build(
      doc: Seq[(Int, String, Seq[(String, Any)])],
      utf8Pool: Boolean = false): Array[Byte] = {
    // collect pool strings: element names, attr names, string values
    val strings = ArrayBuffer.empty[String]
    def intern(s: String): Int = {
      val k = strings.indexOf(s)
      if (k >= 0) k else { strings += s; strings.length - 1 }
    }
    doc.foreach { case (_, name, attrs) =>
      intern(name)
      attrs.foreach { case (an, av) =>
        intern(an)
        av match { case s: String => intern(s); case _ => }
      }
    }
    // pre-render chunks that need final pool indices: do pool LAST in
    // memory but FIRST in file — indices are stable because intern()
    // saw everything above
    val body = new java.io.ByteArrayOutputStream()
    // emit start elements with end elements via a depth stack
    val stack = scala.collection.mutable.Stack.empty[(Int, String)]
    def endElement(name: String): Unit = {
      writeLe16(body, 0x0103); writeLe16(body, 16); writeLe32(body, 24)
      writeLe32(body, -1); writeLe32(body, -1) // line, comment
      writeLe32(body, -1); writeLe32(body, intern(name))
    }
    for ((depth, name, attrs) <- doc) {
      while (stack.nonEmpty && stack.top._1 >= depth)
        endElement(stack.pop()._2)
      val size = 36 + 20 * attrs.length
      writeLe16(body, 0x0102); writeLe16(body, 16); writeLe32(body, size)
      writeLe32(body, -1); writeLe32(body, -1) // line, comment
      writeLe32(body, -1); writeLe32(body, intern(name))
      writeLe16(body, 0x14); writeLe16(body, 0x14); writeLe16(body, attrs.length)
      writeLe16(body, 0); writeLe16(body, 0); writeLe16(body, 0) // id/class/style indices
      for ((an, av) <- attrs) {
        writeLe32(body, -1); writeLe32(body, intern(an))
        av match {
          case s: String =>
            writeLe32(body, intern(s)); writeLe16(body, 8); body.write(0); body.write(0x03)
            writeLe32(body, intern(s))
          case n: Int =>
            writeLe32(body, -1); writeLe16(body, 8); body.write(0); body.write(0x10); writeLe32(body, n)
          case x: Boolean =>
            writeLe32(body, -1); writeLe16(body, 8); body.write(0); body.write(0x12)
            writeLe32(body, if (x) -1 else 0)
          case f: Float =>
            writeLe32(body, -1); writeLe16(body, 8); body.write(0); body.write(0x04)
            writeLe32(body, java.lang.Float.floatToIntBits(f))
          case other =>
            throw new IllegalArgumentException(s"${other.getClass}")
        }
      }
      stack.push((depth, name))
    }
    while (stack.nonEmpty) endElement(stack.pop()._2)
    val bodyBytes = body.toByteArray

    // string pool chunk
    val poolData = new java.io.ByteArrayOutputStream()
    val offs = ArrayBuffer.empty[Int]
    for (s <- strings) {
      offs += poolData.size
      if (utf8Pool) {
        val u = s.getBytes("UTF-8")
        def l8(v: Int): Unit =
          if (v < 0x80) poolData.write(v)
          else { poolData.write(0x80 | (v >> 8)); poolData.write(v & 0xFF) }
        l8(s.length); l8(u.length)
        poolData.write(u); poolData.write(0)
      } else {
        val n = s.length
        require(n < 0x8000, "fixture strings stay under the length extension")
        poolData.write(n & 0xFF); poolData.write((n >> 8) & 0x7F)
        poolData.write(s.getBytes("UTF-16LE")); poolData.write(0); poolData.write(0)
      }
    }
    while (poolData.size % 4 != 0) poolData.write(0)
    val headerSize = 28
    val stringsStart = headerSize + 4 * strings.length
    val poolChunkSize = stringsStart + poolData.size
    val pool = new java.io.ByteArrayOutputStream()
    writeLe16(pool, 0x0001); writeLe16(pool, headerSize); writeLe32(pool, poolChunkSize)
    writeLe32(pool, strings.length); writeLe32(pool, 0) // styleCount
    writeLe32(pool, if (utf8Pool) 0x100 else 0)
    writeLe32(pool, stringsStart); writeLe32(pool, 0)
    offs.foreach(writeLe32(pool, _))
    pool.write(poolData.toByteArray)

    val total = 8 + pool.size + bodyBytes.length
    val out = new java.io.ByteArrayOutputStream()
    writeLe16(out, 0x0003); writeLe16(out, 8); writeLe32(out, total)
    out.write(pool.toByteArray)
    out.write(bodyBytes)
    out.toByteArray
  }
}
