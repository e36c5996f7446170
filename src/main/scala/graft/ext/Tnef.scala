package graft.ext

import scala.collection.mutable.ArrayBuffer

import graft.ext.Bytes.{le16, le32, writeLe16, writeLe32}

/** TNEF (`winmail.dat`, [MS-OXTNEF]) — the transport-neutral wrapper
  * Outlook attaches to mail when rich content rides along; mail-dump
  * crawls are littered with them and the payload (body + the REAL
  * attachments) is invisible without this walk. The format is a flat
  * attribute stream after the LE signature 0x223E9F78 and a 2-byte
  * attach key:
  *
  *   `level(1) | id(4 LE) | length(4 LE) | data | checksum(2 LE)`
  *
  * where level 1 = message scope and level 2 = attachment scope (a new
  * attAttachRendData opens the next attachment), and the checksum is
  * the byte sum of data mod 2^16 (verified — a corrupt attribute ends
  * the walk). Body resolution mirrors [[Msg]]: attBody plain text when
  * present, else PR_RTF_COMPRESSED (0x1009) inside attMsgProps through
  * [[Lzfu]] + [[Rtf]]. The attMsgProps / attAttachment MAPI blocks are
  * walked for the string/binary property subset.
  *
  * Scale shape: one wrapper = one payload row, map-only on executors.
  */
object Tnef {

  final case class Attachment(title: String, data: Array[Byte])

  final case class TnefData(subject: String, body: String,
      attachments: Vector[Attachment])

  private val Signature = 0x223E9F78

  private val AttTnefVersion = 0x00089006
  private val AttOemCodepage = 0x00069007
  private val AttSubject = 0x00018004
  private val AttBody = 0x0002800C
  private val AttMsgProps = 0x00069003
  private val AttAttachRendData = 0x00069002
  private val AttAttachTitle = 0x00018010
  private val AttAttachData = 0x0006800F

  def isTnef(b: Array[Byte]): Boolean =
    b != null && b.length >= 6 && le32(b, 0) == Signature

  /** None when the payload is not TNEF or the first attribute is
    * malformed.
    */
  def parse(b: Array[Byte]): Option[TnefData] = {
    if (!isTnef(b)) return None
    try {
      var i = 6 // signature + attach key
      var subject = ""
      var body = ""
      var rtfBody: Option[Array[Byte]] = None
      val atts = ArrayBuffer.empty[Attachment]
      var curTitle = ""
      var curData: Option[Array[Byte]] = None
      var sawAny = false
      def closeAttachment(): Unit = curData.foreach { d =>
        atts += Attachment(curTitle, d)
        curTitle = ""; curData = None
      }
      while (i + 11 <= b.length) {
        val id = le32(b, i + 1)
        val len = le32(b, i + 5)
        val at = i + 9
        if (len < 0 || at + len + 2 > b.length)
          throw new IllegalArgumentException("truncated attribute")
        var sum = 0
        var k = 0
        while (k < len) { sum = (sum + (b(at + k) & 0xFF)) & 0xFFFF; k += 1 }
        if (sum != le16(b, at + len))
          throw new IllegalArgumentException("attribute checksum")
        sawAny = true
        id match {
          case AttSubject =>
            subject = zString(b, at, len)
          case AttBody =>
            body = zString(b, at, len)
          case AttMsgProps =>
            rtfBody = mapiBinary(b, at, len, 0x1009).orElse(rtfBody)
          case AttAttachRendData =>
            closeAttachment()
          case AttAttachTitle =>
            curTitle = zString(b, at, len)
          case AttAttachData =>
            curData = Some(java.util.Arrays.copyOfRange(b, at, at + len))
          case _ => // version/codepage/dates: carried, not extracted
        }
        i = at + len + 2
      }
      closeAttachment()
      if (!sawAny) return None
      val resolvedBody =
        if (body.nonEmpty) body
        else rtfBody.flatMap(Lzfu.decompress).flatMap(Rtf.text).getOrElse("")
      Some(TnefData(subject, resolvedBody, atts.toVector))
    } catch { case _: Exception => None }
  }

  /** NUL-terminated 8-bit attribute string (TNEF strings are
    * codepage-encoded; the walk reads them as Latin-1 and real
    * deployments are overwhelmingly cp1252 ⊃ ASCII).
    */
  private def zString(b: Array[Byte], at: Int, len: Int): String = {
    var n = len
    while (n > 0 && b(at + n - 1) == 0) n -= 1
    new String(b, at, n, "windows-1252")
  }

  /** PT_BINARY property `propId` out of a MAPI property block
    * (attMsgProps layout: u32 count, then per property u16 type,
    * u16 id, and for PT_BINARY/PT_UNICODE/PT_STRING8 a u32 value count
    * + per value u32 size + data padded to 4).
    */
  private def mapiBinary(b: Array[Byte], at: Int, len: Int,
      propId: Int): Option[Array[Byte]] = {
    val end = at + len
    var i = at + 4
    val count = le32(b, at)
    var p = 0
    while (p < count && i + 4 <= end) {
      val typ = le16(b, i)
      val id = le16(b, i + 2)
      i += 4
      if ((typ & 0x8000) != 0) return None // named props: out of envelope
      typ match {
        case 0x0102 | 0x001F | 0x001E => // binary / unicode / string8
          val nVals = le32(b, i); i += 4
          var v = 0
          var hit: Option[Array[Byte]] = None
          while (v < nVals && i + 4 <= end) {
            val sz = le32(b, i); i += 4
            if (id == propId && hit.isEmpty)
              hit = Some(java.util.Arrays.copyOfRange(b, i, i + sz))
            i += (sz + 3) & ~3
            v += 1
          }
          if (id == propId) return hit
        case 0x0003 | 0x0004 | 0x000B => i += 4 // i32/float/bool
        case 0x0014 | 0x0005 | 0x0040 => i += 8 // i64/double/filetime
        case 0x0048 => i += 16 // guid
        case _ => return None // unhandled shape: stop cleanly
      }
      p += 1
    }
    None
  }

  // ----- deterministic builder (fixtures/certificates) ------------------

  /** Outlook-shaped TNEF: version + codepage preamble, subject, either
    * a plain body or a PR_RTF_COMPRESSED inside attMsgProps, then
    * RendData/Title/Data triples per attachment.
    */
  private[graft] def build(subject: String, body: String, rtfBody: Boolean,
      attachments: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    writeLe32(out, Signature)
    out.write(0x12); out.write(0x34) // attach key
    def attr(level: Int, id: Int, data: Array[Byte]): Unit = {
      out.write(level)
      writeLe32(out, id)
      writeLe32(out, data.length)
      out.write(data)
      var sum = 0
      data.foreach(x => sum = (sum + (x & 0xFF)) & 0xFFFF)
      writeLe16(out, sum)
    }
    attr(1, AttTnefVersion, Array[Byte](0, 0, 1, 0))
    attr(1, AttOemCodepage, Array[Byte](0xE4.toByte, 4, 0, 0, 0, 0, 0, 0))
    attr(1, AttSubject, subject.getBytes("windows-1252") ++ Array[Byte](0))
    if (rtfBody) {
      val comp = Lzfu.compress(Rtf.build(body).getBytes("US-ASCII"))
      val props = new java.io.ByteArrayOutputStream()
      writeLe32(props, 2)
      // a leading i32 property the walk must skip over
      props.write(3); props.write(0); props.write(0x07); props.write(0x30)
      writeLe32(props, 42)
      // PR_RTF_COMPRESSED as PT_BINARY
      props.write(2); props.write(1); props.write(9); props.write(0x10)
      writeLe32(props, 1)
      writeLe32(props, comp.length)
      props.write(comp)
      var pad = (4 - comp.length % 4) % 4
      while (pad > 0) { props.write(0); pad -= 1 }
      attr(1, AttMsgProps, props.toByteArray)
    } else {
      attr(1, AttBody, body.getBytes("windows-1252") ++ Array[Byte](0))
    }
    for ((title, data) <- attachments) {
      attr(2, AttAttachRendData, new Array[Byte](14))
      attr(2, AttAttachTitle, title.getBytes("windows-1252") ++ Array[Byte](0))
      attr(2, AttAttachData, data)
    }
    out.toByteArray
  }
}
