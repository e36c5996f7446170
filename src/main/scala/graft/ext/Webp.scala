package graft.ext

import graft.ext.Bytes.{le16, le24, le24Of, le32Of, le32u}

/** WebP container walk (RFC 9649) — the TRIAGE arm for the web's third
  * image format: variant, pixel dimensions, alpha / animation /
  * metadata presence and frame count from pure byte reads. Pixel decode
  * lives in the codec arms this container routes to — [[Vp8l]]
  * (lossless, round 14) and [[Vp8]] (lossy intra, round 15) — plus the
  * ALPH alpha-plane and ANMF animation walks here. A crawl pipeline
  * that cannot name WebP routes a large slice of modern web imagery to
  * "unknown" and silently drops it from image curation — this arm
  * exists so the [[Multimodal.sniffFormat]] dispatch has somewhere real
  * to send it.
  *
  * Structure parsed (all little-endian):
  *   - RIFF header: "RIFF" + u32 size + "WEBP", then a chunk sequence of
  *     FourCC + u32 size + payload (odd sizes padded to even).
  *   - 'VP8 ' (lossy): 3-byte frame tag (LSB 0 = key frame) + the
  *     0x9D 0x01 0x2A start code + 14-bit width/height (RFC 9649 §2.2,
  *     the VP8 key-frame header of RFC 6386 §9.1).
  *   - 'VP8L' (lossless): 0x2F signature + 28 bits of (width-1,
  *     height-1) + alpha-is-used bit + 3-bit version (must be 0).
  *   - 'VP8X' (extended): feature flags (ICC / alpha / EXIF / XMP /
  *     animation) + u24 canvas (width-1, height-1); ANMF chunks are
  *     counted as animation frames.
  *
  * Scale shape: one payload per row inside `mapPartitions` — map-only,
  * a bounded forward chunk walk (first 1 MiB of chunk headers is ample
  * for triage; payloads are skipped by size, never copied). Malformed
  * input returns None / the chunks before the damage, never throws.
  */
object Webp {

  final case class WebpMeta(
      variant: String, // "lossy" | "lossless" | "extended"
      width: Int,
      height: Int,
      has_alpha: Boolean,
      has_animation: Boolean,
      has_exif: Boolean,
      has_icc: Boolean,
      n_frames: Int) // ANMF count; 0 for still images

  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  /** Dimensions from a 'VP8 ' (lossy) chunk payload: key-frame tag +
    * start code + 14-bit dims. None for interframes / damaged headers.
    */
  private def lossyDims(b: Array[Byte], p: Int, end: Int): Option[(Int, Int)] = {
    if (p + 10 > end) return None
    val tag = le24(b, p)
    if ((tag & 1) != 0) return None // interframe can't open a still
    if ((b(p + 3) & 0xFF) != 0x9D || (b(p + 4) & 0xFF) != 0x01 ||
      (b(p + 5) & 0xFF) != 0x2A) return None
    Some((le16(b, p + 6) & 0x3FFF, le16(b, p + 8) & 0x3FFF))
  }

  /** (width, height, alpha) from a 'VP8L' (lossless) chunk payload:
    * 0x2F signature, 14+14 bit dims-minus-one, alpha bit, version 0.
    */
  private def losslessDims(b: Array[Byte], p: Int, end: Int): Option[(Int, Int, Boolean)] = {
    if (p + 5 > end) return None
    if ((b(p) & 0xFF) != 0x2F) return None
    val v = le32u(b, p + 1)
    if (((v >>> 29) & 0x7) != 0) return None // version must be 0
    Some((((v & 0x3FFF) + 1).toInt, (((v >> 14) & 0x3FFF) + 1).toInt,
      ((v >> 28) & 1) == 1))
  }

  /** Triage metadata for one WebP payload; None when the RIFF/WEBP
    * framing or the first image chunk is not structurally valid.
    */
  def meta(b: Array[Byte]): Option[WebpMeta] = {
    if (b == null || b.length < 20) return None
    if (fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "WEBP") return None
    // chunk walk bound: the declared RIFF size, clamped to the payload
    val end = math.min(b.length.toLong, 8L + le32u(b, 4)).toInt
    var p = 12
    if (p + 8 > end) return None
    fourcc(b, p) match {
      case "VP8 " =>
        lossyDims(b, p + 8, math.min(end.toLong, p + 8L + le32u(b, p + 4)).toInt)
          .map { case (w, h) =>
            WebpMeta("lossy", w, h, has_alpha = false, has_animation = false,
              has_exif = false, has_icc = false, n_frames = 0)
          }
      case "VP8L" =>
        losslessDims(b, p + 8, math.min(end.toLong, p + 8L + le32u(b, p + 4)).toInt)
          .map { case (w, h, a) =>
            WebpMeta("lossless", w, h, has_alpha = a, has_animation = false,
              has_exif = false, has_icc = false, n_frames = 0)
          }
      case "VP8X" =>
        if (p + 8 + 10 > end) return None
        val f = b(p + 8) & 0xFF
        val icc = (f & 0x20) != 0
        var alpha = (f & 0x10) != 0
        var exif = (f & 0x08) != 0
        val anim = (f & 0x02) != 0
        val w = le24(b, p + 12) + 1
        val h = le24(b, p + 15) + 1
        // count animation frames / confirm feature chunks; headers only,
        // payloads skipped by size — damage cuts the walk short with the
        // chunks seen so far
        var frames = 0
        val sz0 = le32u(b, p + 4)
        var q = math.min(end.toLong, p + 8L + sz0 + (sz0 & 1L)).toInt
        while (q + 8 <= end) {
          val cc = fourcc(b, q)
          val sz = le32u(b, q + 4)
          if (cc == "ANMF") frames += 1
          else if (cc == "ALPH") alpha = true
          else if (cc == "EXIF") exif = true
          val next = q + 8L + sz + (sz & 1L)
          q = if (next > end || next <= q) end else next.toInt
        }
        Some(WebpMeta("extended", w, h, alpha, anim, exif, icc, frames))
      case _ => None
    }
  }

  /** The EXIF metadata of an extended WebP — the EXIF chunk carries a
    * raw TIFF block (an optional "Exif\0\0" prefix, which some writers
    * include, is skipped) walked by the shared [[Exif.metaFromTiff]].
    */
  def exif(b: Array[Byte]): Option[Exif.ExifMeta] = {
    if (b == null || b.length < 20) return None
    if (fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "WEBP") return None
    val end = math.min(b.length.toLong, 8L + le32u(b, 4)).toInt
    var p = 12
    while (p + 8 <= end) {
      val cc = fourcc(b, p)
      val sz = le32u(b, p + 4)
      val ds = p + 8
      val de = math.min(end.toLong, ds + sz).toInt
      if (cc == "EXIF" && de - ds >= 8) {
        val base =
          if (de - ds >= 14 && b(ds) == 'E' && b(ds + 1) == 'x' &&
            b(ds + 2) == 'i' && b(ds + 3) == 'f' && b(ds + 4) == 0 &&
            b(ds + 5) == 0) ds + 6
          else ds
        return Exif.metaFromTiff(b, base, de)
      }
      val next = p + 8L + sz + (sz & 1L)
      p = if (next > end || next <= p) end else next.toInt
    }
    None
  }

  /** Metadata redaction for WebP (the [[Exif.strip]] twin): EXIF and XMP
    * chunks are dropped, their VP8X feature flags cleared, and the RIFF
    * size rewritten — pure chunk surgery, the image data chunks ride
    * through byte-identical (no decode, pixels untouched). Payloads
    * without such chunks return the SAME array (reference-equal), so
    * redaction over a mostly-clean corpus allocates nothing.
    */
  def stripMeta(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 20) return b
    if (fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "WEBP") return b
    val end = math.min(b.length.toLong, 8L + le32u(b, 4)).toInt
    // first pass: anything to strip?
    var p = 12
    var found = false
    while (!found && p + 8 <= end) {
      val cc = fourcc(b, p)
      if (cc == "EXIF" || cc == "XMP ") found = true
      else {
        val sz = le32u(b, p + 4)
        val next = p + 8L + sz + (sz & 1L)
        p = if (next > end || next <= p) end else next.toInt
      }
    }
    if (!found) return b
    val out = new java.io.ByteArrayOutputStream(b.length)
    out.write("RIFF????WEBP".getBytes("US-ASCII"), 0, 12) // size patched below
    p = 12
    while (p + 8 <= end) {
      val cc = fourcc(b, p)
      val sz = le32u(b, p + 4)
      val full = math.min(end.toLong, p + 8L + sz + (sz & 1L)).toInt
      if (cc != "EXIF" && cc != "XMP ") {
        if (cc == "VP8X" && full - p >= 9) {
          // copy with the EXIF (0x08) and XMP (0x04) flags cleared
          val vp8x = java.util.Arrays.copyOfRange(b, p, full)
          vp8x(8) = (vp8x(8) & ~0x0C).toByte
          out.write(vp8x, 0, vp8x.length)
        } else out.write(b, p, full - p)
      }
      p = if (full <= p) end else full
    }
    val bytes = out.toByteArray
    Bytes.putLe32(bytes, 4, bytes.length - 8L)
    bytes
  }

  /** Decoded ALPH alpha plane of an extended (VP8X) WebP — (width,
    * height, row-major alpha bytes). Two compression methods per the
    * container spec: 0 = raw bytes, 1 = a HEADERLESS VP8L stream with the
    * alpha values in the green channel ([[Vp8l.decodeHeaderless]] — the
    * canvas supplies the dimensions the headerless stream omits).
    * Optional per-row prediction filters (horizontal / vertical /
    * gradient) are inverted after decode. This is the one place the repo
    * can certify VP8L entropy decoding against a REAL libwebp-encoded
    * artifact (lossy+alpha files carry libwebp lossless-coded alpha) —
    * Vp8lInteropSpec pins one such stream byte-for-byte; since round 15
    * the lossy VP8 color chunk of the same artifact also pixel-decodes
    * through [[Vp8]] (Vp8InteropSpec pins it against WebPDecodeYUV).
    */
  def alphaPlane(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    val m = meta(b).getOrElse(return None)
    if (m.variant != "extended" || !m.has_alpha) return None
    val w = m.width
    val h = m.height
    if (w.toLong * h > 16L * 1024 * 1024) return None
    val end = math.min(b.length.toLong, 8L + le32u(b, 4)).toInt
    var p = 12
    while (p + 8 <= end) {
      val cc = fourcc(b, p)
      val sz = le32u(b, p + 4)
      val ds = p + 8
      val de = math.min(end.toLong, ds + sz).toInt
      if (cc == "ALPH" && de - ds >= 1)
        return alphPayload(b, ds, de, w, h).map((w, h, _))
      val next = p + 8L + sz + (sz & 1L)
      p = if (next > end || next <= p) end else next.toInt
    }
    None
  }

  /** Decode one ALPH chunk payload [ds, de) for a w×h raster — shared
    * by the still-image [[alphaPlane]] and the per-ANMF frame path
    * ([[animFrames]]), where each animation frame carries its OWN ALPH
    * chunk sized to the frame, not the canvas.
    */
  private def alphPayload(
      b: Array[Byte], ds: Int, de: Int, w: Int, h: Int): Option[Array[Byte]] = {
    if (de - ds < 1 || w <= 0 || h <= 0 ||
        w.toLong * h > 16L * 1024 * 1024) return None
    val hdr = b(ds) & 0xFF
    val compression = hdr & 3
    val filter = (hdr >> 2) & 3
    val plane: Array[Byte] = compression match {
      case 0 =>
        if (de - (ds + 1) < w.toLong * h) return None
        java.util.Arrays.copyOfRange(b, ds + 1, ds + 1 + w * h)
      case 1 =>
        val img = Vp8l.decodeHeaderless(
          java.util.Arrays.copyOfRange(b, ds + 1, de), w, h)
          .getOrElse(return None)
        val out = new Array[Byte](w * h)
        var i = 0
        while (i < out.length) { // alpha rides in the green channel
          out(i) = ((img.argb(i) >> 8) & 0xFF).toByte
          i += 1
        }
        out
      case _ => return None
    }
    if (filter > 0) unfilterAlpha(plane, w, h, filter)
    Some(plane)
  }

  /** Inverse of the ALPH per-pixel prediction filters (1 = horizontal,
    * 2 = vertical, 3 = gradient). Border rule per the spec: the top-left
    * pixel predicts from 0, the rest of the first row from the left, the
    * rest of the first column from above.
    */
  private def unfilterAlpha(a: Array[Byte], w: Int, h: Int, f: Int): Unit = {
    def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        val pred =
          if (x == 0 && y == 0) 0
          else if (y == 0) a(i - 1) & 0xFF
          else if (x == 0) a(i - w) & 0xFF
          else f match {
            case 1 => a(i - 1) & 0xFF
            case 2 => a(i - w) & 0xFF
            case _ => clip255((a(i - 1) & 0xFF) + (a(i - w) & 0xFF) -
              (a(i - w - 1) & 0xFF))
          }
        a(i) = (((a(i) & 0xFF) + pred) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
  }

  // ---- fixture builders (spec / certificate counterparts) ------------

  /** One padded chunk: FourCC + size + payload (+ pad byte if odd). */
  private[graft] def chunk(cc: String, payload: Array[Byte]): Array[Byte] = {
    require(cc.length == 4, s"FourCC must be 4 chars: $cc")
    val pad = if (payload.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
    cc.getBytes("US-ASCII") ++ le32Of(payload.length) ++ payload ++ pad
  }

  /** RIFF/WEBP container around pre-built chunks. */
  private[graft] def container(chunks: Array[Byte]*): Array[Byte] = {
    val body = "WEBP".getBytes("US-ASCII") ++ chunks.flatten
    "RIFF".getBytes("US-ASCII") ++ le32Of(body.length) ++ body
  }

  /** 'VP8 ' lossy key-frame header bytes for the given dimensions (the
    * triage-relevant prefix; no coefficient data is claimed).
    */
  private[graft] def lossyChunk(w: Int, h: Int): Array[Byte] = {
    require(w >= 1 && w <= 0x3FFF && h >= 1 && h <= 0x3FFF, s"dims: ${w}x$h")
    val hdr = Array[Byte](0, 0, 0, // key-frame tag (LSB 0)
      0x9D.toByte, 0x01, 0x2A,
      (w & 0xFF).toByte, ((w >> 8) & 0x3F).toByte,
      (h & 0xFF).toByte, ((h >> 8) & 0x3F).toByte)
    chunk("VP8 ", hdr)
  }

  /** 'VP8L' lossless header bytes: signature + packed dims + alpha. */
  private[graft] def losslessChunk(w: Int, h: Int, alpha: Boolean): Array[Byte] = {
    require(w >= 1 && w <= 0x4000 && h >= 1 && h <= 0x4000, s"dims: ${w}x$h")
    val v = (w - 1).toLong | ((h - 1).toLong << 14) |
      (if (alpha) 1L << 28 else 0L)
    chunk("VP8L", Array(0x2F.toByte) ++ le32Of(v))
  }

  /** Decoded animation frames of an extended WebP: every ANMF chunk's
    * VP8L-coded payload through [[Vp8l.decode]] and every lossy VP8
    * payload through [[Vp8]] (the round-15 intra decoder), merging the
    * frame's own ALPH chunk when a lossy+alpha frame carries one —
    * (frame_no, x, y, duration_ms, raster). A container with no
    * decodable frames yields an empty seq, hostile bytes None via the
    * usual total-function contract.
    */
  def animFrames(b: Array[Byte]): Option[Seq[(Int, Int, Int, Int, Vp8l.Image)]] = {
    if (b == null || b.length < 20) return None
    try {
      if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
            b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P'))
        return None
      val out = Vector.newBuilder[(Int, Int, Int, Int, Vp8l.Image)]
      var n = 0
      var p = 12
      var sawAnmf = false
      while (p + 8 <= b.length) {
        val cc = fourcc(b, p)
        val size = le32u(b, p + 4)
        if (size < 0 || p + 8 + size > b.length) return None
        if (cc == "ANMF" && size >= 16) {
          sawAnmf = true
          val fp = p + 8
          val fx = le24(b, fp) * 2
          val fy = le24(b, fp + 3) * 2
          val dur = le24(b, fp + 12)
          // frame data chunks start after the 16-byte ANMF header; a
          // lossy+alpha frame carries ALPH before VP8 (container spec)
          var q = fp + 16
          val qEnd = p + 8 + size.toInt
          var alphS = -1
          var alphE = -1
          while (q + 8 <= qEnd) {
            val fcc = fourcc(b, q)
            val fsize = le32u(b, q + 4)
            if (fsize < 0 || q + 8 + fsize > qEnd) return None
            if (fcc == "ALPH") { alphS = q + 8; alphE = q + 8 + fsize.toInt }
            else if (fcc == "VP8L")
              Vp8l.decodePayload(java.util.Arrays.copyOfRange(
                b, q + 8, q + 8 + fsize.toInt))
                .foreach(img => out += ((n, fx, fy, dur, img)))
            else if (fcc == "VP8 ")
              Vp8.decodeFrame(b, q + 8, q + 8 + fsize.toInt)
                .foreach { yuv =>
                  val rgb = Vp8.toPngImage(yuv)
                  val alpha = // this frame's own ALPH plane, frame-sized
                    if (alphS < 0) None
                    else alphPayload(b, alphS, alphE, rgb.width, rgb.height)
                  val argb = Array.tabulate(rgb.width * rgb.height) { k =>
                    val a = alpha.map(p0 => p0(k) & 0xFF).getOrElse(0xFF)
                    (a << 24) | ((rgb.pixels(k * 3) & 0xFF) << 16) |
                      ((rgb.pixels(k * 3 + 1) & 0xFF) << 8) |
                      (rgb.pixels(k * 3 + 2) & 0xFF)
                  }
                  out += ((n, fx, fy, dur, Vp8l.Image(rgb.width, rgb.height, argb)))
                }
            q += 8 + fsize.toInt + (fsize.toInt & 1)
          }
          n += 1
        }
        p += 8 + size.toInt + (size.toInt & 1)
      }
      if (!sawAnmf) None else Some(out.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Animated-WebP fixture builder: VP8X (anim flag) + ANIM (bg, loop)
    * + one ANMF per frame wrapping a real VP8L stream. Frame offsets are
    * stored halved per the spec (must be even).
    */
  private[graft] def buildAnim(canvasW: Int, canvasH: Int,
      frames: Seq[(Int, Int, Int, Vp8l.Image)]): Array[Byte] = {
    val anim = chunk("ANIM", le32Of(0xFFFFFFFFL) ++ Array[Byte](0, 0))
    val anmfs = frames.map { case (x, y, durMs, img) =>
      require(x % 2 == 0 && y % 2 == 0, "ANMF offsets must be even")
      val hdr = le24Of(x / 2) ++ le24Of(y / 2) ++
        le24Of(img.width - 1) ++ le24Of(img.height - 1) ++
        le24Of(durMs) ++ Array[Byte](0)
      chunk("ANMF", hdr ++ chunk("VP8L", Vp8l.encodePayload(img)))
    }
    extended(canvasW, canvasH, icc = false, alpha = false, exif = false,
      anim = true, (anim +: anmfs): _*)
  }

  /** 'VP8X' extended file: feature flags + canvas, followed by the given
    * feature chunks (ANMF frames, ALPH, EXIF, an image chunk).
    */
  private[graft] def extended(w: Int, h: Int, icc: Boolean, alpha: Boolean,
      exif: Boolean, anim: Boolean, rest: Array[Byte]*): Array[Byte] = {
    require(w >= 1 && w <= (1 << 24) && h >= 1 && h <= (1 << 24), s"dims: ${w}x$h")
    val flags = (if (icc) 0x20 else 0) | (if (alpha) 0x10 else 0) |
      (if (exif) 0x08 else 0) | (if (anim) 0x02 else 0)
    val vp8x = chunk("VP8X", Array[Byte](flags.toByte, 0, 0, 0) ++
      le24Of(w - 1) ++ le24Of(h - 1))
    container((vp8x +: rest): _*)
  }
}
