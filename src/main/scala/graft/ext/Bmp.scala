package graft.ext

import graft.ext.Bytes.{le16, le32, putLe32, writeLe16, writeLe32}

/** BMP (Windows DIB) pixel decode and ICO (icon container) extraction —
  * two formats crawls see constantly (favicon.ico above all) that the
  * sniff already named but no arm decoded. Same discipline as every
  * other codec here: total over hostile bytes, deterministic builders
  * feeding the certificate queries, output as [[Png.Image]] so the
  * rasters flow through perceptual dedup / resize / frame plumbing.
  *
  * Envelope: BITMAPINFOHEADER (40-byte) and the larger V4/V5 headers
  * (extra fields skipped), uncompressed BI_RGB at 32/24/8/4/1 bpp,
  * bottom-up and top-down rows, 4-byte row padding, BGRA palettes. RLE
  * and BITFIELDS are rejected (None) — rare in the wild and the
  * fallback metadata path still triages them.
  */
object Bmp {

  /** Full .bmp file (with the 14-byte "BM" file header). */
  def decode(b: Array[Byte]): Option[Png.Image] = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    try decodeDib(b, 14, le32(b, 10), icoHalfHeight = false)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** A DIB at `off` (BITMAPINFOHEADER...) with pixel data at `dataOff`
    * (absolute; ≤0 means "right after header+palette"). ICO entries
    * store height DOUBLED (XOR image + AND mask).
    */
  private[ext] def decodeDib(b: Array[Byte], off: Int, dataOff0: Int,
      icoHalfHeight: Boolean): Option[Png.Image] = {
    if (off + 40 > b.length) return None
    val hdrSize = le32(b, off)
    if (hdrSize < 40 || off + hdrSize > b.length) return None
    val width = le32(b, off + 4)
    val rawHeight = le32(b, off + 8)
    val heightAbs0 = math.abs(rawHeight)
    val height = if (icoHalfHeight) heightAbs0 / 2 else heightAbs0
    val topDown = rawHeight < 0
    val bpp = le16(b, off + 14)
    val compression = le32(b, off + 16)
    if (width <= 0 || height <= 0) return None
    if (width.toLong * height * 4 > (1L << 28)) return None // bomb guard
    if (compression != 0) return None // BI_RGB only
    if (!Set(1, 4, 8, 24, 32).contains(bpp)) return None
    val colorsUsed0 = le32(b, off + 32)
    val palEntries =
      if (bpp > 8) 0
      else if (colorsUsed0 > 0) math.min(colorsUsed0, 1 << bpp)
      else 1 << bpp
    val palOff = off + hdrSize
    if (palOff + palEntries * 4 > b.length) return None
    val dataOff =
      if (dataOff0 > 0) dataOff0 else palOff + palEntries * 4
    val rowBytes = ((width * bpp + 31) / 32) * 4
    if (dataOff.toLong + rowBytes.toLong * height > b.length) return None
    val channels = if (bpp == 32) 4 else 3
    val out = new Array[Byte](width * height * channels)
    var y = 0
    while (y < height) {
      val srcRow = dataOff + rowBytes * (if (topDown) y else height - 1 - y)
      var x = 0
      while (x < width) {
        val o = (y * width + x) * channels
        bpp match {
          case 32 =>
            val p = srcRow + x * 4
            out(o) = b(p + 2); out(o + 1) = b(p + 1); out(o + 2) = b(p)
            out(o + 3) = b(p + 3)
          case 24 =>
            val p = srcRow + x * 3
            out(o) = b(p + 2); out(o + 1) = b(p + 1); out(o + 2) = b(p)
          case _ =>
            val idx = bpp match {
              case 8 => b(srcRow + x) & 0xFF
              case 4 => (b(srcRow + x / 2) >> (if (x % 2 == 0) 4 else 0)) & 0xF
              case _ => (b(srcRow + x / 8) >> (7 - x % 8)) & 1
            }
            if (idx >= palEntries) return None
            val p = palOff + idx * 4 // BGRA palette entry
            out(o) = b(p + 2); out(o + 1) = b(p + 1); out(o + 2) = b(p)
        }
        x += 1
      }
      y += 1
    }
    Some(Png.Image(width, height, channels, out))
  }

  /** Deterministic .bmp builder: 24-bit BI_RGB (3-channel input) or
    * 8-bit palettized (1-channel input, gray palette) — bottom-up rows,
    * 4-byte padding, the layout every real writer emits.
    */
  private[graft] def build(img: Png.Image): Array[Byte] = {
    require(img.channels == 3 || img.channels == 1, "bmp builder: rgb or gray")
    val bpp = if (img.channels == 3) 24 else 8
    val palEntries = if (bpp == 8) 256 else 0
    val rowBytes = ((img.width * bpp + 31) / 32) * 4
    val dataOff = 14 + 40 + palEntries * 4
    val total = dataOff + rowBytes * img.height
    val b = new Array[Byte](total)
    b(0) = 'B'; b(1) = 'M'
    putLe32(b, 2, total); putLe32(b, 10, dataOff)
    putLe32(b, 14, 40); putLe32(b, 18, img.width); putLe32(b, 22, img.height)
    b(26) = 1; b(28) = bpp.toByte
    putLe32(b, 34, rowBytes * img.height)
    var k = 0
    while (k < palEntries) { // gray BGRA palette
      b(54 + k * 4) = k.toByte; b(54 + k * 4 + 1) = k.toByte
      b(54 + k * 4 + 2) = k.toByte
      k += 1
    }
    var y = 0
    while (y < img.height) {
      val dst = dataOff + rowBytes * (img.height - 1 - y)
      var x = 0
      while (x < img.width) {
        if (bpp == 24) {
          val s = (y * img.width + x) * 3
          b(dst + x * 3) = img.pixels(s + 2)     // B
          b(dst + x * 3 + 1) = img.pixels(s + 1) // G
          b(dst + x * 3 + 2) = img.pixels(s)     // R
        } else b(dst + x) = img.pixels(y * img.width + x)
        x += 1
      }
      y += 1
    }
    b
  }
}

/** ICO container: 6-byte ICONDIR + 16-byte entries, each holding either
  * a whole PNG or a file-headerless DIB with doubled height (XOR image
  * above an AND mask). [[decode]] returns the largest entry's raster.
  */
object Ico {

  final case class Entry(width: Int, height: Int, size: Int, offset: Int)

  def isIco(b: Array[Byte]): Boolean =
    b != null && b.length >= 6 && b(0) == 0 && b(1) == 0 && b(2) == 1 &&
      b(3) == 0 && le16(b, 4) > 0 && le16(b, 4) <= 64 &&
      b.length >= 6 + le16(b, 4) * 16

  def entries(b: Array[Byte]): Option[Seq[Entry]] = {
    if (!isIco(b)) return None
    try {
      val n = le16(b, 4)
      val out = (0 until n).flatMap { k =>
        val e = 6 + k * 16
        val w0 = b(e) & 0xFF
        val h0 = b(e + 1) & 0xFF
        val size = le32(b, e + 8)
        val off = le32(b, e + 12)
        if (size <= 0 || off <= 0 || off.toLong + size > b.length) None
        else Some(Entry(if (w0 == 0) 256 else w0, if (h0 == 0) 256 else h0,
          size, off))
      }
      if (out.isEmpty) None else Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Largest entry's raster: PNG entries through [[Png.decode]], DIB
    * entries through [[Bmp.decodeDib]] (doubled-height rule).
    */
  def decode(b: Array[Byte]): Option[Png.Image] =
    try {
      entries(b).flatMap { es =>
        val best = es.maxBy(e => e.width.toLong * e.height)
        val payload = java.util.Arrays.copyOfRange(b, best.offset,
          best.offset + best.size)
        if (payload.length > 8 && payload(1) == 'P' && payload(2) == 'N' &&
            payload(3) == 'G') Png.decode(payload)
        else Bmp.decodeDib(payload, 0, -1, icoHalfHeight = true)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Fixture builder: PNG-coded entries (the modern favicon layout). */
  private[graft] def build(images: Seq[Png.Image]): Array[Byte] = {
    require(images.nonEmpty && images.forall(i => i.width <= 256 && i.height <= 256))
    val pngs = images.map(Png.encode)
    val out = new java.io.ByteArrayOutputStream()
    writeLe16(out, 0); writeLe16(out, 1); writeLe16(out, images.length)
    var off = 6 + images.length * 16
    images.zip(pngs).foreach { case (img, png) =>
      out.write(if (img.width == 256) 0 else img.width)
      out.write(if (img.height == 256) 0 else img.height)
      out.write(0); out.write(0) // colors, reserved
      writeLe16(out, 1); writeLe16(out, 32) // planes, bpp hints
      writeLe32(out, png.length); writeLe32(out, off)
      off += png.length
    }
    pngs.foreach(p => out.write(p, 0, p.length))
    out.toByteArray
  }
}
