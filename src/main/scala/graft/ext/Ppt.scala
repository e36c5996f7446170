package graft.ext

import graft.ext.Bytes.{le16, le32, putLe16, putLe32}

/** Legacy PowerPoint (.ppt) text extraction ([MS-PPT]) — the third leg
  * of the legacy-Office family on the [[Cfb]] container. The
  * `PowerPoint Document` stream is a tree of 8-byte-headed records
  * (recVerAndInstance, recType, recLen); a node is a container when its
  * version nibble is 0xF. Slide/outline text lives in two atoms:
  * TextCharsAtom (0x0FA0, UTF-16LE) and TextBytesAtom (0x0FA8, the
  * low-byte compression of UTF-16 — ISO-8859-1 decodes it exactly).
  * The extractor walks the whole tree in stream order and joins atom
  * texts with newlines — the text layer, matching the WET-style
  * envelope of the other document arms. (CString title atoms and
  * notes-by-slide association are presentation structure, out of
  * scope.)
  *
  * Scale shape: one deck = one payload row, map-only on executors.
  */
object Ppt {

  /** Text atoms of the deck in stream order. None when the payload is
    * not a CFB with a PowerPoint Document stream.
    */
  def text(b: Array[Byte]): Option[String] = {
    val doc = Cfb.read(b, "PowerPoint Document").getOrElse(return None)
    try {
      val out = Vector.newBuilder[String]
      walk(doc, 0, doc.length, out, 0)
      Some(out.result().mkString("\n"))
    } catch { case _: Exception => None }
  }

  private def walk(d: Array[Byte], from: Int, to: Int,
      out: scala.collection.mutable.Builder[String, Vector[String]],
      depth: Int): Unit = {
    if (depth > 64) return
    var i = from
    while (i + 8 <= to) {
      val ver = le16(d, i) & 0x000F
      val typ = le16(d, i + 2)
      val len = le32(d, i + 4)
      val at = i + 8
      if (len < 0 || at + len > to) return // malformed tail: stop
      if (ver == 0x000F) walk(d, at, at + len, out, depth + 1)
      else if (typ == 0x0FA0) // TextCharsAtom
        out += stripMarks(new String(d, at, len - (len % 2), "UTF-16LE"))
      else if (typ == 0x0FA8) // TextBytesAtom
        out += stripMarks(new String(d, at, len,
          java.nio.charset.StandardCharsets.ISO_8859_1))
      i = at + len
    }
  }

  /** PPT text atoms use '\r' as the paragraph mark and 0x0B as the
    * line break — normalize to '\n' like the other arms.
    */
  private def stripMarks(s: String): String =
    s.replace('\r', '\n').replace('\u000B', '\n')

  // ----- deterministic builder (fixtures/certificates) ------------------

  /** Build a deck-shaped record tree: a Document container holding one
    * SlideListWithText container per slide, each with one text atom —
    * wide strings as TextCharsAtom, pure-Latin-1 as TextBytesAtom (the
    * same choice PowerPoint makes).
    */
  private[graft] def build(slides: Seq[String]): Array[Byte] = {
    def atom(text: String): Array[Byte] = {
      val wide = text.exists(_ > 0xFF)
      val body =
        if (wide) text.getBytes("UTF-16LE")
        else text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val h = new Array[Byte](8)
      putLe16(h, 0, 0x0000)
      putLe16(h, 2, if (wide) 0x0FA0 else 0x0FA8)
      putLe32(h, 4, body.length)
      h ++ body
    }
    def container(typ: Int, payload: Array[Byte]): Array[Byte] = {
      val h = new Array[Byte](8)
      putLe16(h, 0, 0x000F)
      putLe16(h, 2, typ)
      putLe32(h, 4, payload.length)
      h ++ payload
    }
    val slwts = slides.map(s => container(0x0FF0, atom(s))) // SlideListWithText
    val doc = container(0x03E8, slwts.flatten.toArray)      // DocumentContainer
    Cfb.build(Seq(("PowerPoint Document", doc),
      ("Current User", new Array[Byte](24))))
  }
}
