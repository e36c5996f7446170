package graft.ext

import graft.ext.Bytes.{le16, le32, putLe16, putLe32}

/** dBase .dbf table reader — the tabular sidecar of open-data and GIS
  * dumps (every shapefile ships one). dBase III/IV layout:
  *
  *   - 32-byte header: version (low nibble 3), last-update date,
  *     record count (LE32), header size (LE16), record size (LE16);
  *   - 32-byte field descriptors (name ≤10 NUL-padded, type, length,
  *     decimal count) terminated by 0x0D;
  *   - fixed-width records, each led by a deletion flag (0x2A dropped);
  *     values ASCII: C right-padded text (trimmed), N/F left-padded
  *     numerics (Long when the field has no decimals, Double
  *     otherwise; all-blank → null), D dates as yyyyMMdd strings,
  *     L logicals (T/t/Y/y true, F/f/N/n false, else null).
  *
  * Scale shape: one table = one payload row decoded inside a task.
  */
object Dbf {

  final case class DbfField(name: String, fieldType: Char, length: Int,
      decimals: Int)

  final case class DbfTable(fields: Vector[DbfField],
      rows: Vector[Vector[Any]])

  /** Structural sniff: version nibble, plausible date, header/record
    * arithmetic — .dbf has no magic string, so every gate must hold.
    */
  def isDbf(b: Array[Byte]): Boolean =
    b != null && b.length >= 65 && {
      val ver = b(0) & 0xFF
      val month = b(2) & 0xFF
      val day = b(3) & 0xFF
      val headerSize = le16(b, 8)
      val recordSize = le16(b, 10)
      (ver & 0x07) == 3 && (ver == 0x03 || ver == 0x83 ||
        ver == 0x8B || ver == 0xF5 || ver == 0x04) &&
        month >= 1 && month <= 12 && day >= 1 && day <= 31 &&
        headerSize >= 65 && (headerSize - 33) % 32 == 0 &&
        recordSize >= 1 && headerSize <= b.length &&
        (b(headerSize - 1) & 0xFF) == 0x0D
    }

  /** None when the payload is not a parseable .dbf. Deleted records
    * (flag 0x2A) are skipped.
    */
  def read(b: Array[Byte]): Option[DbfTable] = {
    if (!isDbf(b)) return None
    try {
      val nRec = le32(b, 4)
      val headerSize = le16(b, 8)
      val recordSize = le16(b, 10)
      val fields = Vector.newBuilder[DbfField]
      var i = 32
      while (i + 32 <= headerSize - 1 && b(i) != 0x0D) {
        var nl = 0
        while (nl < 11 && b(i + nl) != 0) nl += 1
        fields += DbfField(new String(b, i, nl, "US-ASCII"),
          (b(i + 11) & 0xFF).toChar, b(i + 16) & 0xFF, b(i + 17) & 0xFF)
        i += 32
      }
      val fs = fields.result()
      if (fs.isEmpty) return None
      if (fs.map(_.length).sum + 1 != recordSize) return None
      val rows = Vector.newBuilder[Vector[Any]]
      var r = 0
      var at = headerSize
      while (r < nRec && at + recordSize <= b.length) {
        if ((b(at) & 0xFF) != 0x2A) { // not deleted
          var off = at + 1
          rows += fs.map { f =>
            val raw = new String(b, off, f.length, "US-ASCII")
            off += f.length
            decode(raw, f)
          }
        }
        at += recordSize
        r += 1
      }
      Some(DbfTable(fs, rows.result()))
    } catch { case _: Exception => None }
  }

  private def decode(raw: String, f: DbfField): Any = f.fieldType match {
    case 'C' => raw.replaceAll("\\s+$", "")
    case 'N' | 'F' =>
      val t = raw.trim
      if (t.isEmpty) null
      else if (f.decimals == 0 && f.fieldType == 'N')
        t.toLongOption.orNull
      else t.toDoubleOption.orNull
    case 'D' => { val t = raw.trim; if (t.isEmpty) null else t }
    case 'L' => raw.trim.headOption match {
      case Some(c) if "TtYy".indexOf(c.toInt) >= 0 => true
      case Some(c) if "FfNn".indexOf(c.toInt) >= 0 => false
      case _ => null
    }
    case _ => raw
  }

  // ----- deterministic builder (fixtures/certificates) ------------------

  /** dBase III fixture writer; values null/String/Long/Double/Boolean
    * laid out by the given descriptors. A record may be marked deleted.
    */
  private[graft] def build(fields: Seq[DbfField],
      rows: Seq[(Boolean, Seq[Any])]): Array[Byte] = {
    val recordSize = fields.map(_.length).sum + 1
    val headerSize = 32 + 32 * fields.length + 1
    val out = new Array[Byte](headerSize + recordSize * rows.length + 1)
    out(0) = 0x03
    out(1) = 26; out(2) = 8; out(3) = 15 // 2026-08-15
    putLe32(out, 4, rows.length)
    putLe16(out, 8, headerSize)
    putLe16(out, 10, recordSize)
    fields.zipWithIndex.foreach { case (f, k) =>
      val at = 32 + 32 * k
      val nb = f.name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, out, at, math.min(nb.length, 10))
      out(at + 11) = f.fieldType.toByte
      out(at + 16) = f.length.toByte
      out(at + 17) = f.decimals.toByte
    }
    out(headerSize - 1) = 0x0D
    rows.zipWithIndex.foreach { case ((deleted, vals), r) =>
      var at = headerSize + r * recordSize
      out(at) = if (deleted) 0x2A else 0x20
      at += 1
      fields.zip(vals).foreach { case (f, v) =>
        val s = v match {
          case null => " " * f.length
          case x: String => x.padTo(f.length, ' ')
          case x: Long =>
            val t = x.toString
            (" " * (f.length - t.length)) + t
          case x: Double =>
            val t = s"%.${f.decimals}f".format(x)
            (" " * (f.length - t.length)) + t
          case x: Boolean => (if (x) "T" else "F").padTo(f.length, ' ')
          case other => other.toString.padTo(f.length, ' ')
        }
        val sb = s.getBytes("US-ASCII")
        System.arraycopy(sb, 0, out, at, f.length)
        at += f.length
      }
    }
    out(out.length - 1) = 0x1A // EOF marker
    out
  }
}
