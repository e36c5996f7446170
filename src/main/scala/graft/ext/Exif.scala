package graft.ext

/** EXIF/TIFF metadata for JPEG payloads — and the PII-motivated inverse,
  * stripping it. Crawled photos carry camera identity, timestamps and —
  * the curation-relevant part — GPS coordinates in an APP1 segment; a
  * training-data pipeline needs both directions: READ the tags for
  * dedup/quality/provenance features, and REMOVE the segment before the
  * image ships in a corpus (image-side PII redaction, the binary twin of
  * the text `q_redact` path).
  *
  * Envelope (TIFF 6.0 IFD grammar inside the JPEG APP1 `Exif\0\0`
  * segment, both byte orders):
  *   - IFD0: Make (0x010F), Model (0x0110), Orientation (0x0112),
  *     DateTime (0x0132), Exif IFD pointer (0x8769), GPS IFD pointer
  *     (0x8825).
  *   - Exif IFD: PixelXDimension (0xA002), PixelYDimension (0xA003),
  *     DateTimeOriginal (0x9003, preferred over IFD0 DateTime).
  *   - GPS IFD: PRESENCE is the signal (`has_gps`) — coordinates are
  *     deliberately not decoded further.
  *   - ASCII values inline (≤4 bytes) or via the offset heap; SHORT and
  *     LONG scalars either way.
  *
  * [[strip]] removes every Exif APP1 segment byte-exactly and leaves all
  * other marker segments (including the entropy-coded stream after SOS)
  * untouched — decoded pixels are bit-identical before/after, certified
  * by q_exif_meta's roundtrip arm. Every read is bounds-checked; a
  * malformed TIFF yields what parsed so far or None, never a throw.
  */
object Exif {

  final case class ExifMeta(
      make: String,
      model: String,
      orientation: Int,
      datetime: String,
      width: Int,
      height: Int,
      has_gps: Boolean)

  private final class Tiff(b: Array[Byte], base: Int, end: Int, le: Boolean) {
    /** SHORT at `i`, -1 outside `[base, end)`. */
    def short(i: Int): Int =
      if (i < base || i + 2 > end) -1 else Bytes.u16(b, i, !le)
    /** LONG at `i`, -1 outside `[base, end)`. */
    def long(i: Int): Long =
      if (i < base || i + 4 > end) -1L else Bytes.u32(b, i, !le)
    /** ASCII value of an entry: inline when count ≤ 4, else via offset. */
    def ascii(entry: Int, count: Long): String = {
      val at =
        if (count <= 4) entry + 8
        else base + long(entry + 8).toInt
      if (at < base || count <= 0 || at + count > end) return ""
      var n = count.toInt
      while (n > 0 && b(at + n - 1) == 0) n -= 1 // trailing NULs
      new String(b, at, n, "US-ASCII")
    }
    /** First scalar of a SHORT/LONG entry (inline or via offset). */
    def scalar(entry: Int, tpe: Int, count: Long): Long = {
      val at =
        if ((if (tpe == 3) 2 else 4) * count <= 4) entry + 8
        else base + long(entry + 8).toInt
      if (tpe == 3) short(at).toLong else long(at)
    }
  }

  /** EXIF metadata of a JPEG payload. None when there is no Exif APP1
    * segment or its TIFF block is unreadable.
    */
  def meta(jpeg: Array[Byte]): Option[ExifMeta] =
    try findExifSegment(jpeg).flatMap { case (segStart, segEnd) =>
      metaFromTiff(jpeg, segStart + 6, segEnd) // after "Exif\0\0"
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The EXIF walk over a raw TIFF block at `[base, end)` — the form
    * non-JPEG containers carry (WebP's EXIF chunk, HEIF's Exif item):
    * byte order, IFD0 (Make/Model/Orientation/DateTime), the Exif
    * sub-IFD (dimensions, DateTimeOriginal), and the GPS-IFD pointer.
    */
  def metaFromTiff(jpeg: Array[Byte], base: Int, segEnd: Int): Option[ExifMeta] =
    try {
      if (base + 8 > segEnd) return None
      val le = jpeg(base) == 'I' && jpeg(base + 1) == 'I'
      val be = jpeg(base) == 'M' && jpeg(base + 1) == 'M'
      if (!le && !be) return None
      val t = new Tiff(jpeg, base, segEnd, le)
      if (t.short(base + 2) != 42) return None
      var make = ""; var model = ""; var orientation = 0
      var datetime = ""; var dtOriginal = ""
      var width = 0; var height = 0; var hasGps = false
      def walkIfd(off: Long, isExifIfd: Boolean): Unit = {
        if (off <= 0 || base + off + 2 > segEnd) return
        val ifd = base + off.toInt
        val n = t.short(ifd)
        var k = 0
        while (k >= 0 && k < n) {
          val e = ifd + 2 + k * 12
          if (e + 12 > segEnd) k = n
          else {
            val tag = t.short(e)
            val tpe = t.short(e + 2)
            val cnt = t.long(e + 4)
            tag match {
              case 0x010F if tpe == 2 => make = t.ascii(e, cnt)
              case 0x0110 if tpe == 2 => model = t.ascii(e, cnt)
              case 0x0112 => orientation = t.scalar(e, tpe, cnt).toInt
              case 0x0132 if tpe == 2 => datetime = t.ascii(e, cnt)
              case 0x9003 if tpe == 2 && isExifIfd => dtOriginal = t.ascii(e, cnt)
              case 0xA002 if isExifIfd => width = t.scalar(e, tpe, cnt).toInt
              case 0xA003 if isExifIfd => height = t.scalar(e, tpe, cnt).toInt
              case 0x8769 if !isExifIfd => walkIfd(t.long(e + 8), isExifIfd = true)
              case 0x8825 if !isExifIfd => hasGps = true
              case _ => ()
            }
            k += 1
          }
        }
      }
      walkIfd(t.long(base + 4), isExifIfd = false)
      Some(ExifMeta(make, model, orientation,
        if (dtOriginal.nonEmpty) dtOriginal else datetime,
        width, height, hasGps))
    } catch { case scala.util.control.NonFatal(_) => None }

  final case class TiffMeta(
      width: Int,
      height: Int,
      bits_per_sample: Int,
      orientation: Int,
      make: String)

  /** Standalone TIFF image metadata — the same IFD grammar [[meta]]
    * walks inside a JPEG APP1, anchored at byte 0 (both byte orders):
    * ImageWidth (0x0100), ImageLength (0x0101), BitsPerSample (0x0102,
    * first component), Orientation, Make. TIFF is the archival/document
    * image format (scans, faxes, GeoTIFF), so triage needs it beside
    * PNG/JPEG/GIF; [[TiffImg]] owns the pixel-decode path (baseline
    * strips: uncompressed/LZW/PackBits) — this walk stays byte-only so
    * triage also covers compressions the decoder rejects.
    */
  def tiffMeta(b: Array[Byte]): Option[TiffMeta] =
    try {
      if (b == null || b.length < 8) return None
      val le = b(0) == 'I' && b(1) == 'I'
      val be = b(0) == 'M' && b(1) == 'M'
      if (!le && !be) return None
      val t = new Tiff(b, 0, b.length, le)
      if (t.short(2) != 42) return None
      val ifd = t.long(4).toInt
      if (ifd < 8 || ifd + 2 > b.length) return None
      val n = t.short(ifd)
      var width = 0; var height = 0; var bits = 0
      var orientation = 0; var make = ""
      var k = 0
      while (k >= 0 && k < n) {
        val e = ifd + 2 + k * 12
        if (e + 12 > b.length) k = n
        else {
          val tag = t.short(e)
          val tpe = t.short(e + 2)
          val cnt = t.long(e + 4)
          tag match {
            case 0x0100 => width = t.scalar(e, tpe, cnt).toInt
            case 0x0101 => height = t.scalar(e, tpe, cnt).toInt
            case 0x0102 => bits = t.scalar(e, tpe, cnt).toInt
            case 0x0112 => orientation = t.scalar(e, tpe, cnt).toInt
            case 0x010F if tpe == 2 => make = t.ascii(e, cnt)
            case _ => ()
          }
          k += 1
        }
      }
      if (width <= 0 && height <= 0) None
      else Some(TiffMeta(width, height, bits, orientation, make))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** (payloadStart, payloadEnd) of the first Exif APP1 segment. */
  private def findExifSegment(b: Array[Byte]): Option[(Int, Int)] = {
    var found: Option[(Int, Int)] = None
    walkMarkers(b) { (marker, segStart, segEnd) =>
      if (found.isEmpty && marker == 0xE1 && segEnd - segStart >= 6 &&
          b(segStart) == 'E' && b(segStart + 1) == 'x' && b(segStart + 2) == 'i' &&
          b(segStart + 3) == 'f' && b(segStart + 4) == 0 && b(segStart + 5) == 0)
        found = Some((segStart, segEnd))
    }
    found
  }

  /** Walk JPEG marker segments up to SOS; f(marker, payloadStart,
    * payloadEnd) per length-carrying segment. Returns the SOS offset (or
    * -1): everything from there on is entropy-coded and untouched.
    */
  private def walkMarkers(b: Array[Byte])(f: (Int, Int, Int) => Unit): Int = {
    if (b == null || b.length < 4 ||
        (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return -1
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xFF) != 0xFF) return -1
      var j = i
      while (j < b.length && (b(j) & 0xFF) == 0xFF) j += 1
      if (j >= b.length) return -1
      val marker = b(j) & 0xFF
      if (marker == 0xDA) return i // SOS: stop walking
      if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7) || marker == 0x01)
        i = j + 1
      else {
        if (j + 2 >= b.length) return -1
        val len = Bytes.be16(b, j + 1)
        if (len < 2 || j + 1 + len > b.length) return -1
        f(marker, j + 3, j + 1 + len)
        i = j + 1 + len
      }
    }
    -1
  }

  /** The payload with every Exif APP1 segment removed, everything else
    * byte-identical (pixels decode unchanged). Non-JPEG or Exif-free
    * payloads come back as-is.
    */
  def strip(jpeg: Array[Byte]): Array[Byte] = {
    val drops = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    walkMarkers(jpeg) { (marker, segStart, segEnd) =>
      if (marker == 0xE1 && segEnd - segStart >= 6 &&
          jpeg(segStart) == 'E' && jpeg(segStart + 1) == 'x' &&
          jpeg(segStart + 2) == 'i' && jpeg(segStart + 3) == 'f' &&
          jpeg(segStart + 4) == 0 && jpeg(segStart + 5) == 0)
        // whole segment: FF E1 len payload → from segStart-4 to segEnd
        drops += ((segStart - 4, segEnd))
    }
    if (drops.isEmpty) return jpeg
    val out = new java.io.ByteArrayOutputStream(jpeg.length)
    var i = 0
    for ((from, until) <- drops) {
      out.write(jpeg, i, from - i)
      i = until
    }
    out.write(jpeg, i, jpeg.length - i)
    out.toByteArray
  }

  /** `jpg` with an Exif APP1 segment ("Exif\0\0" + `tiff`) spliced in
    * right after SOI — the fixture counterpart of [[meta]].
    */
  private[graft] def withApp1(jpg: Array[Byte], tiff: Array[Byte]): Array[Byte] =
    jpg.take(2) ++ Array[Byte](0xFF.toByte, 0xE1.toByte) ++ Bytes.be16Of(2 + 6 + tiff.length) ++
      "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff ++ jpg.drop(2)
}
