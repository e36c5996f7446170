package graft.ext

import java.util.zip.CRC32

import graft.ext.Bytes.{be32, be32u, putBe32}

/** APNG (animated PNG) frame extraction — the PNG-family sibling of
  * [[Webp.animFrames]], completing the animated-container set
  * (GIF / AVI-MJPEG / MP4 / WebP-ANMF / APNG) behind
  * [[Multimodal.sampleFramesReal]].
  *
  * Strategy: rather than re-implementing inflate/unfilter, each frame's
  * region is rebuilt as a STANDALONE one-frame PNG — the canvas IHDR
  * re-stamped with the fcTL dimensions, PLTE/tRNS copied, the frame's
  * IDAT/fdAT payloads concatenated (fdAT drops its 4-byte sequence
  * number) — and handed to [[Png.decode]], so every depth × color-type
  * combination, sub-byte packing, and CRC rule the still decoder
  * already certifies applies to animation frames for free.
  *
  * Per the APNG spec, the default image (IDAT) is a frame only when an
  * fcTL precedes it; otherwise it is a fallback for non-animated
  * viewers and is excluded.
  */
object Apng {

  /** (frame_no, x, y, delay_ms, region raster) per animation frame.
    * None for non-APNG payloads (no acTL) or hostile bytes.
    */
  def frames(bytes: Array[Byte]): Option[Seq[(Int, Int, Int, Int, Png.Image)]] = {
    try {
      if (bytes == null || bytes.length < Png.Magic.length + 25 ||
          !bytes.startsWith(Png.Magic)) return None
      var ihdr: Array[Byte] = null
      var plte: Array[Byte] = null
      var trns: Array[Byte] = null
      var animated = false
      // pending frame control + its accumulated data chunks
      case class Fctl(w: Int, h: Int, x: Int, y: Int, delayMs: Int)
      var cur: Fctl = null
      var curData: java.io.ByteArrayOutputStream = null
      val out = Vector.newBuilder[(Int, Int, Int, Int, Png.Image)]
      var n = 0
      val crc = new CRC32()
      def flush(): Unit = if (cur != null && curData != null && curData.size > 0) {
        val mini = new java.io.ByteArrayOutputStream()
        mini.write(Png.Magic, 0, Png.Magic.length)
        val hdr = ihdr.clone()
        putBe32(hdr, 0, cur.w)
        putBe32(hdr, 4, cur.h)
        Png.writeChunk(mini, "IHDR", hdr)
        if (plte != null) Png.writeChunk(mini, "PLTE", plte)
        if (trns != null) Png.writeChunk(mini, "tRNS", trns)
        Png.writeChunk(mini, "IDAT", curData.toByteArray)
        Png.writeChunk(mini, "IEND", Array.emptyByteArray)
        Png.decode(mini.toByteArray).foreach { img =>
          out += ((n, cur.x, cur.y, cur.delayMs, img))
        }
        n += 1
        cur = null; curData = null
      }
      var i = Png.Magic.length
      var sawIend = false
      while (!sawIend && i + 12 <= bytes.length) {
        val len = be32(bytes, i)
        if (len < 0 || len > bytes.length - 12 - i) return None
        val tpe = new String(bytes, i + 4, 4, "US-ASCII")
        crc.reset()
        crc.update(bytes, i + 4, 4 + len)
        if (crc.getValue != be32u(bytes, i + 8 + len))
          return None
        tpe match {
          case "IHDR" =>
            if (len != 13) return None
            ihdr = java.util.Arrays.copyOfRange(bytes, i + 8, i + 21)
          case "PLTE" => plte = java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + len)
          case "tRNS" => trns = java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + len)
          case "acTL" => animated = true
          case "fcTL" =>
            if (len != 26) return None
            flush()
            val num = be32(bytes, i + 12 + 16) >>> 16 // delay_num (u16)
            val den0 = be32(bytes, i + 12 + 16) & 0xFFFF
            val den = if (den0 == 0) 100 else den0
            cur = Fctl(
              be32(bytes, i + 12), // width
              be32(bytes, i + 16), // height
              be32(bytes, i + 20), // x offset
              be32(bytes, i + 24), // y offset
              num * 1000 / den)
            curData = new java.io.ByteArrayOutputStream()
          case "IDAT" =>
            // a frame only when an fcTL already opened one
            if (cur != null) curData.write(bytes, i + 8, len)
          case "fdAT" =>
            if (len < 4) return None
            if (cur != null) curData.write(bytes, i + 12, len - 4)
          case "IEND" =>
            flush()
            sawIend = true
          case _ => ()
        }
        i += 12 + len
      }
      if (!animated || !sawIend) None else Some(out.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** APNG fixture builder: canvas = frame 0's dims, all frames
    * full-canvas 8-bit images of the SAME channel count (the
    * [[Png.encode]] envelope), 10 ms delays. Each frame is encoded
    * standalone and its IDAT payload re-wrapped as IDAT (frame 0) /
    * fdAT (rest) with the shared fcTL/fdAT sequence numbering.
    */
  private[graft] def build(frames: Seq[Png.Image]): Array[Byte] = {
    require(frames.nonEmpty, "apng: no frames")
    require(frames.forall(f => f.width == frames.head.width &&
      f.height == frames.head.height && f.channels == frames.head.channels),
      "apng builder: uniform frame geometry required")
    def idatOf(img: Png.Image): Array[Byte] = {
      val whole = Png.encode(img)
      // single-IDAT layout (Png.encode contract): Magic(8) + IHDR(25) +
      // IDAT chunk; payload sits at 8+25+8 for length at 8+25
      val len = be32(whole, 33)
      java.util.Arrays.copyOfRange(whole, 41, 41 + len)
    }
    val head = frames.head
    val out = new java.io.ByteArrayOutputStream()
    out.write(Png.Magic, 0, Png.Magic.length)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, head.width)
    putBe32(ihdr, 4, head.height)
    ihdr(8) = 8
    ihdr(9) = (head.channels match {
      case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6
    }).toByte
    Png.writeChunk(out, "IHDR", ihdr)
    val actl = new Array[Byte](8)
    putBe32(actl, 0, frames.length)
    Png.writeChunk(out, "acTL", actl)
    var seq = 0
    frames.zipWithIndex.foreach { case (img, k) =>
      val fctl = new Array[Byte](26)
      putBe32(fctl, 0, seq); seq += 1
      putBe32(fctl, 4, img.width)
      putBe32(fctl, 8, img.height)
      // x/y offsets 0; delay 1/100 s; dispose/blend 0
      fctl(20) = 0; fctl(21) = 1; fctl(22) = 0; fctl(23) = 100
      Png.writeChunk(out, "fcTL", fctl)
      val data = idatOf(img)
      if (k == 0) Png.writeChunk(out, "IDAT", data)
      else {
        val fdat = new Array[Byte](4 + data.length)
        putBe32(fdat, 0, seq); seq += 1
        System.arraycopy(data, 0, fdat, 4, data.length)
        Png.writeChunk(out, "fdAT", fdat)
      }
    }
    Png.writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }
}
