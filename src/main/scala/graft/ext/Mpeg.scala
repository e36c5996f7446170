package graft.ext

/** MPEG audio (MP3/MP2/MP1) frame-header scan — metadata triage without
  * touching a single audio sample. Web-crawled audio is overwhelmingly
  * MPEG-coded; the curation decision (keep / transcode / drop) needs
  * version, layer, bitrate, sample rate, channel count, frame count and
  * duration — all of which live in the 4-byte frame headers and the
  * optional Xing/Info VBR tag, so a pure byte walk recovers them at
  * container-scan speed. (The FLAC arm [[Flac]] owns the lossless decode
  * path; full MPEG-1/2 Layer III PCM decode — Huffman, requantization,
  * stereo modes, hybrid filterbank — lives in [[Mp3]] since round 14.
  * This walk stays sample-free on purpose: triage must run at container
  * scan speed over payloads the decoder would reject.)
  *
  * Envelope (ISO/IEC 11172-3 / 13818-3 frame header layout, public
  * bitrate/samplerate tables):
  *   - ID3v2 prefix skipped via its syncsafe length; ID3v1 `TAG` trailer
  *     terminates the walk.
  *   - MPEG 1 / 2 / 2.5, Layers I/II/III; free-format (bitrate index 0)
  *     and reserved codes are treated as desync, not guessed at.
  *   - Per-frame length: Layer I `(12·kbps·1000/rate + pad)·4`, else
  *     `spf/8·kbps·1000/rate + pad` with spf 1152 (L2, MPEG1 L3) or 576
  *     (MPEG2/2.5 L3).
  *   - Xing/Info tag in the first frame (offset = side-info size by
  *     version × channel mode): its frame count, when declared, is
  *     authoritative for duration (the scan count covers only the bytes
  *     present — a crawl-truncated VBR file still reports its intended
  *     duration); `Xing` magic marks VBR, `Info` marks CBR.
  *   - Junk between frames (broken taggers, cut-off streams) triggers a
  *     forward resync scan to the next valid header rather than a bail.
  *   - A payload qualifies as MPEG audio only when two frames CHAIN
  *     (back-to-back per the length formula) or a Xing/Info tag is
  *     present: a lone sync word fires by chance in roughly one binary
  *     payload per few thousand (measured on the mixed-container triage
  *     soak), so single-frame matches are rejected as noise.
  *
  * Every read is bounds-checked; malformed payloads yield None, never a
  * throw.
  */
object Mpeg {

  final case class Mp3Meta(
      version: String, // "1", "2", "2.5"
      layer: Int, // 1..3
      sample_rate: Int,
      channels: Int,
      bitrate_kbps: Int, // scan average (integer), CBR value when constant
      n_frames: Long,
      duration_ms: Long,
      is_vbr: Boolean)

  // kbps tables, index 1..14 (0 = free format, 15 = bad) — ISO 11172-3
  private val V1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val V1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val V1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val V2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private val V2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  private val RateV1 = Array(44100, 48000, 32000)
  private val RateV2 = Array(22050, 24000, 16000)
  private val RateV25 = Array(11025, 12000, 8000)

  /** Parsed header: (version 1|2|25, layer, kbps, rate, channels,
    * samplesPerFrame, frameLen). None for anything reserved/free-format.
    */
  private def header(b: Array[Byte], i: Int): Option[(Int, Int, Int, Int, Int, Int, Int)] = {
    if (i + 4 > b.length) return None
    val h0 = b(i) & 0xFF; val h1 = b(i + 1) & 0xFF
    val h2 = b(i + 2) & 0xFF; val h3 = b(i + 3) & 0xFF
    if (h0 != 0xFF || (h1 & 0xE0) != 0xE0) return None
    val verId = (h1 >> 3) & 3 // 0=2.5, 1=reserved, 2=2, 3=1
    val layerId = (h1 >> 1) & 3 // 1=III, 2=II, 3=I
    if (verId == 1 || layerId == 0) return None
    val version = if (verId == 3) 1 else if (verId == 2) 2 else 25
    val layer = 4 - layerId // 1..3
    val brIdx = (h2 >> 4) & 0xF
    val srIdx = (h2 >> 2) & 3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
    val pad = (h2 >> 1) & 1
    val chMode = (h3 >> 6) & 3
    val channels = if (chMode == 3) 1 else 2
    val kbps = (version, layer) match {
      case (1, 1) => V1L1(brIdx)
      case (1, 2) => V1L2(brIdx)
      case (1, 3) => V1L3(brIdx)
      case (_, 1) => V2L1(brIdx)
      case _ => V2L23(brIdx)
    }
    val rate = (if (version == 1) RateV1 else if (version == 2) RateV2 else RateV25)(srIdx)
    val spf =
      if (layer == 1) 384
      else if (layer == 2) 1152
      else if (version == 1) 1152
      else 576
    val frameLen =
      if (layer == 1) (12 * kbps * 1000 / rate + pad) * 4
      else spf / 8 * kbps * 1000 / rate + pad
    if (frameLen <= 4) None
    else Some((version, layer, kbps, rate, channels, spf, frameLen))
  }

  /** Syncsafe u28 of an ID3v2 length (4 × 7-bit bytes). */
  private def syncsafe(b: Array[Byte], i: Int): Int =
    ((b(i) & 0x7F) << 21) | ((b(i + 1) & 0x7F) << 14) |
      ((b(i + 2) & 0x7F) << 7) | (b(i + 3) & 0x7F)

  final case class Id3(title: String, artist: String, album: String, year: String)

  /** ID3v2.3/2.4 text frames (informal standard, id3.org): TIT2/TPE1/
    * TALB plus TYER (v2.3) or TDRC (v2.4) → (title, artist, album,
    * year). Frame sizes are syncsafe in v2.4 and plain big-endian in
    * v2.3; text payloads decode per their encoding byte (ISO-8859-1,
    * UTF-16 with BOM, UTF-16BE, UTF-8) and trailing NULs are dropped.
    * Absent tags come back as "" — triage wants a row per payload, not
    * an option per field. None when there is no ID3v2 header at all.
    */
  def id3Tags(b: Array[Byte]): Option[Id3] = {
    if (b == null || b.length < 10 ||
        b(0) != 'I' || b(1) != 'D' || b(2) != '3') return None
    try {
      val major = b(3) & 0xFF
      // unsynchronised tags (flag 0x80) stuff escape bytes into frame
      // payloads; parsing them as-is would yield corrupt text — bail
      // fail-safe rather than guess (documented envelope edge)
      if ((b(5) & 0x80) != 0) return None
      val tagEnd = math.min(b.length, 10 + syncsafe(b, 6))
      var title = ""; var artist = ""; var album = ""; var year = ""
      var i = 10
      var ok = true
      while (ok && i + 10 <= tagEnd) {
        if (b(i) == 0) ok = false // padding reached
        else {
          val id = new String(b, i, 4, "US-ASCII")
          val size =
            if (major >= 4) syncsafe(b, i + 4)
            else Bytes.be32(b, i + 4)
          if (size <= 0 || i + 10 + size > tagEnd) ok = false
          else {
            if (id.startsWith("T") && size >= 1) {
              val enc = b(i + 10) & 0xFF
              val cs = enc match {
                case 0 => "ISO-8859-1"
                case 1 => "UTF-16" // BOM-led
                case 2 => "UTF-16BE"
                case _ => "UTF-8"
              }
              val text0 = new String(b, i + 11, size - 1, cs)
              // NUL-terminated payloads: keep up to the first NUL
              val text = text0.indexOf('\u0000') match {
                case -1 => text0
                case k => text0.substring(0, k)
              }
              id match {
                case "TIT2" => title = text
                case "TPE1" => artist = text
                case "TALB" => album = text
                case "TYER" | "TDRC" => year = text
                case _ => ()
              }
            }
            i += 10 + size
          }
        }
      }
      Some(Id3(title, artist, album, year))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Frame-header scan of an MPEG audio payload. None unless at least
    * one valid frame is found.
    */
  def mp3Meta(b: Array[Byte]): Option[Mp3Meta] = {
    if (b == null || b.length < 4) return None
    try {
      var i = 0
      if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
        i = 10 + syncsafe(b, 6)
      var nFrames = 0L
      var kbpsSum = 0L
      var first: (Int, Int, Int, Int, Int, Int, Int) = null
      var xingFrames = -1L
      var xingVbr = false
      var sawVariedBitrate = false
      // anti-false-positive: a single sync word occurs by chance in ~1
      // binary payload per few thousand (measured on the triage soak's
      // Ogg/MP4 mix), so a payload only counts as MPEG audio if at least
      // two frames CHAIN (the second parses exactly where the first's
      // length says) or the first frame carries a Xing/Info tag
      var chained = false
      var prevEnd = -1L
      while (i >= 0 && i + 4 <= b.length) {
        // ID3v1 trailer ends the stream
        if (i + 3 <= b.length && b(i) == 'T' && b(i + 1) == 'A' && b(i + 2) == 'G' &&
            b.length - i == 128) {
          i = b.length
        } else header(b, i) match {
          case Some(h @ (version, _, kbps, rate, channels, _, frameLen)) =>
            if (first == null) {
              first = h
              // Xing/Info tag: after the header + Layer III side info
              val side = if (version == 1) { if (channels == 1) 17 else 32 }
              else { if (channels == 1) 9 else 17 }
              val x = i + 4 + side
              if (x + 8 <= b.length) {
                val magic = new String(b, x, 4, "US-ASCII")
                if (magic == "Xing" || magic == "Info") {
                  xingVbr = magic == "Xing"
                  val flags = Bytes.be32(b, x + 4)
                  if ((flags & 1) != 0 && x + 12 <= b.length)
                    xingFrames = Bytes.be32u(b, x + 8)
                }
              }
            } else if (kbps != first._3) sawVariedBitrate = true
            if (i.toLong == prevEnd) chained = true
            nFrames += 1
            kbpsSum += kbps
            prevEnd = (i + frameLen).toLong
            i += frameLen
          case None =>
            // resync: junk between frames — scan forward for the next
            // sync word instead of giving up (broken taggers, cuts)
            var j = i + 1
            while (j + 4 <= b.length &&
              !((b(j) & 0xFF) == 0xFF && (b(j + 1) & 0xE0) == 0xE0 &&
                header(b, j).isDefined)) j += 1
            i = if (j + 4 <= b.length) j else b.length
        }
      }
      if (first == null || nFrames == 0) return None
      if (!chained && xingFrames <= 0) return None // lone sync word, not audio
      val (version, layer, _, rate, channels, spf, _) = first
      val frames = if (xingFrames > 0) xingFrames else nFrames
      val verStr = if (version == 1) "1" else if (version == 2) "2" else "2.5"
      Some(Mp3Meta(verStr, layer, rate, channels,
        (kbpsSum / nFrames).toInt, frames,
        frames * spf * 1000L / rate, xingVbr || sawVariedBitrate))
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
