package graft.ext

import graft.ext.Bytes.{le16, le32, putLe16, putLe32}

/** Legacy Word (.doc, Word 97–2003) text extraction — the highest-hit
  * binary document format in scraped office dumps. Implements the open
  * spec ([MS-DOC]) text path over the [[Cfb]] container:
  *
  *   - FIB in the `WordDocument` stream: magic 0xA5EC, the
  *     `fWhichTblStm` flag choosing `1Table` vs `0Table`, `ccpText`
  *     (main-document character count, FibRgLw97) and `fcClx`/`lcbClx`
  *     (FibRgFcLcb97 pair 33 → offset 0x01A2);
  *   - the Clx in the table stream: RgPrc property blocks skipped, the
  *     Pcdt's PlcPcd giving n+1 CPs and n piece descriptors;
  *   - each PCD's FcCompressed: bit 30 set → 8-bit windows-1252 text at
  *     fc/2, clear → UTF-16LE at fc. Pieces are followed IN CP ORDER
  *     regardless of physical placement — fast-saved files interleave
  *     them arbitrarily;
  *   - control characters normalized: paragraph/line marks to '\n',
  *     cell marks to '\t'; field instructions (between 0x13 and 0x14)
  *     dropped, field results kept.
  *
  * Only the first `ccpText` CPs are extracted — the main document;
  * footnote/header/annotation stories sit after it in CP space by
  * spec and are out of the envelope, like the OOXML arm.
  */
object MsDoc {

  private val cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** Main-document text of a `.doc` payload (the full CFB file's
    * bytes). None when the payload is not a CFB, has no WordDocument
    * stream, or the FIB/Clx chain is malformed.
    */
  def text(b: Array[Byte]): Option[String] = {
    val word = Cfb.read(b, "WordDocument").getOrElse(return None)
    if (word.length < 0x1AA) return None
    if (le16(word, 0) != 0xA5EC) return None
    val flags = le16(word, 0x000A)
    val tblName = if ((flags & 0x0200) != 0) "1Table" else "0Table"
    val table = Cfb.read(b, tblName).getOrElse(return None)
    val ccpText = le32(word, 0x004C)
    val fcClx = le32(word, 0x01A2)
    val lcbClx = le32(word, 0x01A6)
    if (fcClx < 0 || lcbClx <= 0 || fcClx + lcbClx > table.length) return None
    try {
      // ---- walk the Clx to the Pcdt
      var i = fcClx
      val end = fcClx + lcbClx
      while (i < end && (table(i) & 0xFF) == 0x01) {
        val cb = le16(table, i + 1) // cbGrpprl (< 0x3FA3 by spec)
        i += 3 + cb
      }
      if (i >= end || (table(i) & 0xFF) != 0x02) return None
      val lcb = le32(table, i + 1)
      val plc = i + 5
      val n = (lcb - 4) / 12
      if (n <= 0 || plc + lcb > end) return None
      val sb = new java.lang.StringBuilder(ccpText)
      var remaining = ccpText
      var k = 0
      while (k < n && remaining > 0) {
        val cpStart = le32(table, plc + 4 * k)
        val cpEnd = le32(table, plc + 4 * (k + 1))
        val pcdAt = plc + 4 * (n + 1) + 8 * k
        val fcRaw = le32(table, pcdAt + 2)
        val compressed = (fcRaw & 0x40000000) != 0
        val fc = fcRaw & 0x3FFFFFFF
        val take = math.min(cpEnd - cpStart, remaining)
        if (take > 0) {
          if (compressed)
            sb.append(new String(word, fc / 2, take, cp1252))
          else
            sb.append(new String(word, fc, take * 2, "UTF-16LE"))
        }
        remaining -= take
        k += 1
      }
      Some(normalize(sb.toString))
    } catch { case _: Exception => None }
  }

  /** Word control characters to the text-layer conventions the other
    * document arms use; field instructions dropped.
    */
  private def normalize(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var inFieldInstr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case 0x13 => inFieldInstr = true       // field begin
        case 0x14 => inFieldInstr = false      // field separator
        case 0x15 =>                           // field end
        case _ if inFieldInstr =>              // instruction text dropped
        case '\r' | 0x0B | 0x0C => out.append('\n')
        case 0x07 => out.append('\t')          // cell / row mark
        case 0x1E => out.append('-')           // non-breaking hyphen
        case 0x1F =>                           // optional hyphen: drop
        case _ => out.append(c)
      }
      i += 1
    }
    out.toString
  }

  // ----- deterministic builder (fixtures/certificates) ------------------

  /** Build a fast-saved-shaped `.doc`: the text arrives as CP-ordered
    * pieces, each flagged unicode or cp1252, but written into the
    * WordDocument stream in REVERSE physical order — a reader that
    * ignores the piece table and scans the stream gets the pieces
    * backwards. A dummy RgPrc block precedes the Pcdt.
    */
  private[graft] def build(pieces: Seq[(String, Boolean)]): Array[Byte] = {
    val textStart = 0x200 // past the FIB we use
    // physical placement: reverse piece order
    val placed = new scala.collection.mutable.ArrayBuffer[(Int, Array[Byte])]
    var cursor = textStart
    for ((txt, unicode) <- pieces.reverse) {
      val bytes =
        if (unicode) txt.getBytes("UTF-16LE") else txt.getBytes(cp1252)
      placed += ((cursor, bytes))
      cursor += bytes.length
    }
    val byPiece = placed.reverse // re-align with CP order
    val word = new Array[Byte](cursor)
    putLe16(word, 0, 0xA5EC)
    putLe16(word, 2, 0x00C1)       // nFib: Word 97
    putLe16(word, 0x000A, 0x0200)  // fWhichTblStm -> 1Table
    val ccp = pieces.map(_._1.length).sum
    putLe32(word, 0x004C, ccp)     // ccpText
    for (((at, bytes), _) <- byPiece.zip(pieces))
      System.arraycopy(bytes, 0, word, at, bytes.length)

    // ---- table stream: dummy Prc, then Pcdt
    val n = pieces.length
    val plcLen = 4 * (n + 1) + 8 * n
    val table = new Array[Byte](3 + 2 + 1 + 4 + plcLen)
    table(0) = 0x01; putLe16(table, 1, 2) // RgPrc with 2 junk bytes
    val pcdtAt = 5
    table(pcdtAt) = 0x02
    putLe32(table, pcdtAt + 1, plcLen) // lcb = PlcPcd size = 12n + 4
    val plc = pcdtAt + 5
    var cp = 0
    pieces.indices.foreach { k =>
      putLe32(table, plc + 4 * k, cp)
      cp += pieces(k)._1.length
    }
    putLe32(table, plc + 4 * n, cp)
    pieces.indices.foreach { k =>
      val (at, _) = byPiece(k)
      val unicode = pieces(k)._2
      val fcRaw = if (unicode) at else (at * 2) | 0x40000000
      putLe32(table, plc + 4 * (n + 1) + 8 * k + 2, fcRaw)
    }
    putLe32(word, 0x01A2, 0)              // fcClx
    putLe32(word, 0x01A6, table.length)   // lcbClx

    Cfb.build(Seq(("WordDocument", word), ("1Table", table)))
  }
}
