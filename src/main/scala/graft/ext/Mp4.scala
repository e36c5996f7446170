package graft.ext

import scala.collection.mutable.ArrayBuffer

import graft.ext.Bytes.{be16, be16Of, be32Of, be32u, be64, writeBe32}

/** ISO base-media (MP4/MOV, ISO/IEC 14496-12) container walk — pure byte
  * parsing, no media library. MP4 is the dominant web *video* container
  * (the AVI arm in [[Multimodal]] covers the legacy RIFF shape), so a
  * crawl-curation pipeline needs two things from it BEFORE any expensive
  * decode: per-track metadata triage (what codec, what dimensions, how
  * long — the decide-whether-to-decode step over 100 TB of blobs), and
  * keyframe extraction for the tracks whose per-sample encoding a pure
  * JVM can own (MJPEG: each sample is a standalone JPEG → [[Jpeg]]).
  * `mp4a` (AAC) sample decode is a MEASURED honest cut, not an
  * oversight: the box carries the AAC Huffman codebooks in no form and
  * no reference decoder to certify against — tools/aac_adjudication.md
  * documents the round-16 search and the re-open trigger.
  *
  * Structure parsed (reference: gasket treats media as opaque stdio
  * bytes — /root/reference/index.js:118 pipes Buffers; the container
  * semantics here are the Spark-native extension, from the public
  * ISO/IEC 14496-12 box grammar):
  *   - box = u32 size + 4cc type; size==1 → u64 largesize follows the
  *     type; size==0 → box extends to the end of its container.
  *   - `ftyp` major brand; `moov/mvhd` movie timescale + duration;
  *     per `trak`: `tkhd` (track id, 16.16-fixed width/height),
  *     `mdia/mdhd` (media timescale + duration), `mdia/hdlr` (handler
  *     4cc: vide/soun/...), `stbl/stsd` (codec 4cc of the first sample
  *     entry), `stts` (sample count), `stsz` (sample count + byte
  *     total), `stsc`+`stco`/`co64` (sample→file-offset layout, used
  *     only by the frame path).
  *
  * Every read is bounds-checked; a malformed box terminates the walk at
  * its container rather than throwing — truncated trailing boxes (common
  * in crawl-interrupted downloads) yield the metadata parsed so far.
  */
object Mp4 {

  final case class Track(
      track_id: Long,
      handler: String,
      codec: String,
      width: Int,
      height: Int,
      timescale: Long,
      duration_ms: Long,
      n_samples: Long,
      total_bytes: Long)

  final case class Meta(
      brand: String,
      timescale: Long,
      duration_ms: Long,
      tracks: Vector[Track])

  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  /** Iterate the boxes of a container span as (type, payloadStart,
    * payloadEnd). Malformed sizes (smaller than the header, overflowing
    * the container, or largesize beyond Int range) end the iteration —
    * the walk never throws and never fails to advance.
    */
  private def boxes(b: Array[Byte], start: Int, end: Int): Iterator[(String, Int, Int)] =
    new Iterator[(String, Int, Int)] {
      private var i = start
      private var nxt: (String, Int, Int) = _
      private def advance(): Unit = {
        nxt = null
        if (i + 8 > end) return
        val size32 = be32u(b, i)
        val tpe = fourcc(b, i + 4)
        var header = 8L
        var size = size32
        if (size32 == 1L) {
          if (i + 16 > end) return
          size = be64(b, i + 8); header = 16L
        } else if (size32 == 0L) size = (end - i).toLong // to end of container
        if (size < header || i + size > end.toLong) return
        nxt = (tpe, i + header.toInt, i + size.toInt)
        i += size.toInt
      }
      advance()
      override def hasNext: Boolean = nxt != null
      override def next(): (String, Int, Int) = {
        val r = nxt; advance(); r
      }
    }

  private def child(b: Array[Byte], s: Int, e: Int, tpe: String): Option[(Int, Int)] =
    boxes(b, s, e).collectFirst { case (`tpe`, cs, ce) => (cs, ce) }

  /** Millisecond duration with u32-timescale guard; 0 when unknowable. */
  private def ms(duration: Long, timescale: Long): Long =
    if (timescale > 0 && duration >= 0) duration * 1000L / timescale else 0L

  /** Container metadata. None unless the payload leads with an `ftyp`
    * box (the MP4 signature for sniffing among mixed crawl payloads —
    * bare `moov`-first QuickTime is deliberately outside the envelope).
    */
  def parse(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 12 || fourcc(b, 4) != "ftyp") return None
    try {
      var brand = ""
      var mvTimescale = 0L
      var mvDuration = 0L
      val tracks = ArrayBuffer.empty[Track]
      for ((t, s, e) <- boxes(b, 0, b.length)) t match {
        case "ftyp" if e - s >= 4 => brand = fourcc(b, s)
        case "moov" =>
          for ((t2, s2, e2) <- boxes(b, s, e)) t2 match {
            case "mvhd" if e2 - s2 >= 20 =>
              val v = b(s2) & 0xFF
              if (v == 1 && e2 - s2 >= 32) {
                mvTimescale = be32u(b, s2 + 20); mvDuration = be64(b, s2 + 24)
              } else if (v == 0) {
                mvTimescale = be32u(b, s2 + 12); mvDuration = be32u(b, s2 + 16)
              }
            case "trak" => parseTrak(b, s2, e2).foreach(tracks += _)
            case _ => ()
          }
        case _ => ()
      }
      if (mvTimescale == 0 && tracks.isEmpty) None
      else Some(Meta(brand, mvTimescale, ms(mvDuration, mvTimescale), tracks.toVector))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def parseTrak(b: Array[Byte], s: Int, e: Int): Option[Track] = {
    var trackId = 0L; var width = 0; var height = 0
    var mdTimescale = 0L; var mdDuration = 0L
    var handler = ""; var codec = ""
    var nSamples = 0L; var totalBytes = 0L
    for ((t, ts, te) <- boxes(b, s, e)) t match {
      case "tkhd" if te - ts >= 4 =>
        val v = b(ts) & 0xFF
        // width/height are 16.16 fixed at the end of the box: fullbox(4)
        // + times/id/reserved/duration (v0: 20, v1: 32) + reserved(8)
        // + layer(2) altgroup(2) volume(2) reserved(2) + matrix(36)
        val base = ts + 4 + (if (v == 1) 32 else 20)
        // v1 track id sits at payload offset 20 → needs 24 bytes present
        if (v == 1 && te - ts >= 24) trackId = be32u(b, ts + 4 + 16)
        else if (v == 0 && te - ts >= 16) trackId = be32u(b, ts + 4 + 8)
        if (te >= base + 60) {
          width = (be32u(b, base + 52) >>> 16).toInt
          height = (be32u(b, base + 56) >>> 16).toInt
        }
      case "mdia" =>
        for ((t2, s2, e2) <- boxes(b, ts, te)) t2 match {
          case "mdhd" if e2 - s2 >= 20 =>
            val v = b(s2) & 0xFF
            if (v == 1 && e2 - s2 >= 32) {
              mdTimescale = be32u(b, s2 + 20); mdDuration = be64(b, s2 + 24)
            } else if (v == 0) {
              mdTimescale = be32u(b, s2 + 12); mdDuration = be32u(b, s2 + 16)
            }
          case "hdlr" if e2 - s2 >= 12 => handler = fourcc(b, s2 + 8)
          case "minf" =>
            for {
              (ss, se) <- child(b, s2, e2, "stbl")
              (t3, s3, e3) <- boxes(b, ss, se)
            } t3 match {
              case "stsd" if e3 - s3 >= 16 =>
                // fullbox(4) + entry_count(4), then the first sample
                // entry: size(4) + format 4cc
                codec = fourcc(b, s3 + 12)
              case "stts" if e3 - s3 >= 8 =>
                val n = be32u(b, s3 + 4).toInt
                var k = 0; var total = 0L
                while (k < n && s3 + 8 + k * 8 + 8 <= e3) {
                  total += be32u(b, s3 + 8 + k * 8); k += 1
                }
                if (nSamples == 0) nSamples = total
              case "stsz" if e3 - s3 >= 12 =>
                val uniform = be32u(b, s3 + 4)
                val n = be32u(b, s3 + 8)
                nSamples = n // stsz is authoritative when present
                if (uniform > 0) totalBytes = uniform * n
                else {
                  var k = 0; var total = 0L
                  while (k < n && s3 + 12 + k * 4 + 4 <= e3) {
                    total += be32u(b, s3 + 12 + k * 4); k += 1
                  }
                  totalBytes = total
                }
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    if (trackId == 0 && handler.isEmpty && mdTimescale == 0) None
    else Some(Track(trackId, handler, codec, width, height, mdTimescale,
      ms(mdDuration, mdTimescale), nSamples, totalBytes))
  }

  /** Per-sample (offset, size) layout of one track's `stbl`, resolved
    * through stsc runs × stco/co64 chunk offsets × stsz sizes — the
    * random-access map a real player seeks with. Returns samples in
    * track order; layouts that reference bytes outside the payload are
    * truncated at the first out-of-range sample (crawl-truncated mdat).
    */
  private[ext] def sampleLayout(b: Array[Byte], stblS: Int, stblE: Int): Array[(Int, Int)] = {
    var sizesUniform = 0L
    var sizes: Array[Long] = null
    var nSamples = 0
    var chunkOffsets: Array[Long] = Array.empty
    var stscRuns: Array[(Long, Long)] = Array.empty // (firstChunk 1-based, samplesPerChunk)
    for ((t, s, e) <- boxes(b, stblS, stblE)) t match {
      case "stsz" if e - s >= 12 =>
        sizesUniform = be32u(b, s + 4)
        nSamples = be32u(b, s + 8).toInt
        if (sizesUniform == 0) {
          val n = math.min(nSamples.toLong, (e - s - 12) / 4).toInt
          sizes = Array.tabulate(n)(k => be32u(b, s + 12 + k * 4))
          nSamples = n
        }
      case "stco" if e - s >= 8 =>
        val n = math.min(be32u(b, s + 4), (e - s - 8) / 4).toInt
        chunkOffsets = Array.tabulate(n)(k => be32u(b, s + 8 + k * 4))
      case "co64" if e - s >= 8 =>
        val n = math.min(be32u(b, s + 4), (e - s - 8) / 8).toInt
        chunkOffsets = Array.tabulate(n)(k => be64(b, s + 8 + k * 8))
      case "stsc" if e - s >= 8 =>
        val n = math.min(be32u(b, s + 4), (e - s - 8) / 12).toInt
        stscRuns = Array.tabulate(n)(k =>
          (be32u(b, s + 8 + k * 12), be32u(b, s + 8 + k * 12 + 4)))
      case _ => ()
    }
    if (nSamples == 0 || chunkOffsets.isEmpty || stscRuns.isEmpty)
      return Array.empty
    val out = ArrayBuffer.empty[(Int, Int)]
    var sample = 0
    var run = 0
    var chunk = 0 // 0-based
    while (sample < nSamples && chunk < chunkOffsets.length) {
      // samples-per-chunk of the run covering this chunk (runs carry
      // 1-based first_chunk and apply until the next run starts)
      while (run + 1 < stscRuns.length && stscRuns(run + 1)._1 <= chunk + 1L) run += 1
      val spc = math.max(stscRuns(run)._2, 0L).toInt
      var off = chunkOffsets(chunk)
      var k = 0
      while (k < spc && sample < nSamples) {
        val sz = if (sizesUniform > 0) sizesUniform else sizes(sample)
        if (off < 0 || sz <= 0 || sz > Int.MaxValue ||
            off + sz > b.length.toLong) return out.toArray // truncated mdat
        out += ((off.toInt, sz.toInt))
        off += sz
        sample += 1
        k += 1
      }
      chunk += 1
    }
    out.toArray
  }

  /** Every `stride`-th sample of the first VIDEO track decoded to
    * pixels — the MP4 twin of the AVI/MJPEG arm. Samples decode through
    * the pure [[Jpeg]] codec ([[Png.decodeAny]] fallback); per-sample
    * encodings a pure JVM can't own (avc1/hev1) yield no frames here and
    * stay on the metadata path. None when the payload isn't ISO-BMFF.
    */
  def frames(b: Array[Byte], stride: Int): Option[Seq[(Int, Png.Image)]] = {
    require(stride > 0, s"stride must be positive: $stride")
    if (b == null || b.length < 12 || fourcc(b, 4) != "ftyp") return None
    try {
      val spans = for {
        (mvS, mvE) <- child(b, 0, b.length, "moov").toSeq
        (t, ts, te) <- boxes(b, mvS, mvE) if t == "trak"
        (ds, de) <- child(b, ts, te, "mdia")
        (hs, _) <- child(b, ds, de, "hdlr") if fourcc(b, hs + 8) == "vide"
        (fs, fe) <- child(b, ds, de, "minf")
        (ss, se) <- child(b, fs, fe, "stbl")
      } yield (ss, se)
      val out = spans.headOption.map { case (ss, se) =>
        val layout = sampleLayout(b, ss, se)
        val frames = ArrayBuffer.empty[(Int, Png.Image)]
        var i = 0
        while (i < layout.length) {
          if (i % stride == 0) {
            val (off, sz) = layout(i)
            val payload = java.util.Arrays.copyOfRange(b, off, off + sz)
            Jpeg.decode(payload).orElse(Png.decodeAny(payload))
              .foreach(img => frames += ((i, img)))
          }
          i += 1
        }
        frames.toSeq
      }
      out.filter(_ => spans.nonEmpty)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // --------------------------------------------- HEIF still images (heic/avif)

  /** The ftyp major brands that mean "HEIF still image", not a movie —
    * the same set [[Multimodal.sniffFormat]] routes to heic/avif.
    */
  private val HeifBrands = Set("heic", "heix", "hevc", "hevx", "heim",
    "heis", "mif1", "msf1", "avif", "avis")

  final case class HeifMeta(
      brand: String,
      primary_item: Long,
      item_type: String, // the primary item's infe 4cc: hvc1 / av01 / grid
      n_items: Int,
      width: Int,
      height: Int)

  /** The `iinf` box's declared item count and each `infe` (version 2
    * or 3) entry's (item_ID, item_type 4cc), in box order.
    */
  private def infeItems(b: Array[Byte], s: Int, me: Int): (Int, Seq[(Long, String)]) = {
    var nItems = 0
    val items = Seq.newBuilder[(Long, String)]
    child(b, s, me, "iinf").foreach { case (is0, ie) =>
      val v = b(is0) & 0xFF
      var p = is0 + 4
      if (v == 0 && p + 2 <= ie) { nItems = be16(b, p); p += 2 }
      else if (p + 4 <= ie) { nItems = be32u(b, p).toInt; p += 4 }
      boxes(b, p, ie).foreach { case (tpe, es, ee) =>
        if (tpe == "infe" && ee - es >= 12) {
          val ev = b(es) & 0xFF
          val (iid, tOff) =
            if (ev == 2) (be16(b, es + 4).toLong, es + 8)
            else if (ev == 3) (be32u(b, es + 4), es + 10)
            else (-1L, -1)
          if (tOff >= 0 && tOff + 4 <= ee) items += ((iid, fourcc(b, tOff)))
        }
      }
    }
    (nItems, items.result())
  }

  /** First extent of an item's `iloc` entry: (construction_method,
    * absolute-or-idat-relative offset incl. base, length). Versions 0-2;
    * method is 0 for version-0 boxes (file-absolute by definition).
    */
  private def ilocFirstExtent(b: Array[Byte], s: Int, me: Int,
      target: Long): Option[(Int, Long, Long)] = {
    var loc: Option[(Int, Long, Long)] = None
    child(b, s, me, "iloc").foreach { case (ls0, le) =>
      val v = b(ls0) & 0xFF
      var p = ls0 + 4
      if (p + 2 > le) return None
      val offSize = (b(p) >> 4) & 0xF
      val lenSize = b(p) & 0xF
      val baseSize = (b(p + 1) >> 4) & 0xF
      val idxSize = if (v == 1 || v == 2) b(p + 1) & 0xF else 0
      p += 2
      def readN(n: Int): Long = {
        var x = 0L
        var k = 0
        while (k < n) { x = (x << 8) | (b(p) & 0xFFL); p += 1; k += 1 }
        x
      }
      val count =
        if (v < 2) { if (p + 2 > le) return None; val c = be16(b, p); p += 2; c }
        else { if (p + 4 > le) return None; val c = be32u(b, p).toInt; p += 4; c }
      var k = 0
      while (k < count && loc.isEmpty && p < le) {
        val iid =
          if (v < 2) { val x = be16(b, p).toLong; p += 2; x }
          else { val x = be32u(b, p); p += 4; x }
        var method = 0
        if (v == 1 || v == 2) {
          if (p + 2 > le) return None
          method = b(p + 1) & 0xF; p += 2
        }
        p += 2 // data_reference_index
        if (p + baseSize > le) return None
        val base = readN(baseSize)
        if (p + 2 > le) return None
        val extents = be16(b, p); p += 2
        var e = 0
        while (e < extents && p + idxSize + offSize + lenSize <= le) {
          p += idxSize
          val off = readN(offSize)
          val len = readN(lenSize)
          if (iid == target && e == 0) loc = Some((method, base + off, len))
          e += 1
        }
        k += 1
      }
    }
    loc
  }

  /** The `to_item_ID`s of the `dimg` (derived-image) reference whose
    * from-item is `from` — a grid primary's tile list, in tile order.
    */
  private def dimgRefs(b: Array[Byte], s: Int, me: Int, from: Long): Seq[Long] =
    child(b, s, me, "iref").map { case (rs, re) =>
      val v = b(rs) & 0xFF
      val out = Seq.newBuilder[Long]
      boxes(b, rs + 4, re).foreach { case (tpe, cs, ce) =>
        if (tpe == "dimg") {
          if (v == 0 && ce - cs >= 4 && be16(b, cs).toLong == from) {
            val n = be16(b, cs + 2)
            var k = 0
            while (k < n && cs + 4 + 2 * k + 2 <= ce) {
              out += be16(b, cs + 4 + 2 * k).toLong; k += 1
            }
          } else if (v == 1 && ce - cs >= 6 && be32u(b, cs) == from) {
            val n = be16(b, cs + 4)
            var k = 0
            while (k < n && cs + 6 + 4 * k + 4 <= ce) {
              out += be32u(b, cs + 6 + 4 * k); k += 1
            }
          }
        }
      }
      out.result()
    }.getOrElse(Nil)

  /** HEIF/AVIF still-image triage (ISO 23008-12) — the arm behind the
    * heic/avif sniff routes, so modern phone imagery reaches image
    * curation with real dimensions: `meta`→`pitm` names the primary
    * item, `iinf`/`infe` its coded type, and dimensions come from the
    * `ispe` property the `ipma` table associates with the primary item
    * (NOT the first or largest `ispe` — thumbnails and aux images carry
    * their own). When `ipma` is absent/unresolvable the largest `ispe`
    * stands in. 'grid' primaries (how iPhones overwhelmingly store
    * HEIC) additionally resolve the ImageGrid config through `iloc`
    * (file-absolute or idat-relative) — ITS output dims are the canvas
    * authority over the grid item's associated ispe, cross-checked
    * against the `dimg` tile references, with cols×tile / rows×tile
    * math from the first tile's ispe when the config omits dims.
    * Malformed boxes cut short to whatever was readable; never a throw.
    */
  def heifMeta(b: Array[Byte]): Option[HeifMeta] = {
    if (b == null || b.length < 16 || fourcc(b, 4) != "ftyp") return None
    try {
      val brand = fourcc(b, 8)
      if (!HeifBrands.contains(brand)) return None
      boxes(b, 0, b.length).collectFirst { case ("meta", ms0, me) =>
        val s = ms0 + 4 // meta is a FULLBOX: version/flags before children
        var primary = -1L
        child(b, s, me, "pitm").foreach { case (ps, pe) =>
          val v = b(ps) & 0xFF
          if (v == 0 && ps + 6 <= pe) primary = be16(b, ps + 4).toLong
          else if (v >= 1 && ps + 8 <= pe) primary = be32u(b, ps + 4)
        }
        val (nItems, items) = infeItems(b, s, me)
        val primaryType =
          items.collect { case (iid, t) if iid == primary => t }.lastOption.getOrElse("")
        var width = 0
        var height = 0
        // every item's ipma-associated ispe — the primary reads out of
        // it, and a grid primary's TILE dims resolve from it too
        val ispeByItem = scala.collection.mutable.Map.empty[Long, (Int, Int)]
        child(b, s, me, "iprp").foreach { case (rs, re) =>
          // ipco children in order — ipma property indexes are 1-based
          val props = child(b, rs, re, "ipco")
            .map(pc => boxes(b, pc._1, pc._2).toVector)
            .getOrElse(Vector.empty)
          def ispeAt(idx: Int): Option[(Int, Int)] =
            props.lift(idx - 1).collect {
              case ("ispe", ps, pe) if pe - ps >= 12 =>
                (be32u(b, ps + 4).toInt, be32u(b, ps + 8).toInt)
            }
          child(b, rs, re, "ipma").foreach { case (as0, ae) =>
            val v = b(as0) & 0xFF
            val wideIdx = (be32u(b, as0) & 1L) == 1L // fullbox flags bit 0
            var p = as0 + 4
            if (p + 4 <= ae) {
              def walkAssoc(end: Int, iid: Long): Boolean = {
                if (p >= end) return false
                val ac = b(p) & 0xFF; p += 1
                var a = 0
                while (a < ac) {
                  val idx =
                    if (wideIdx) {
                      if (p + 2 > end) return false
                      val x = be16(b, p) & 0x7FFF; p += 2; x
                    } else {
                      if (p + 1 > end) return false
                      val x = b(p) & 0x7F; p += 1; x
                    }
                  if (!ispeByItem.contains(iid))
                    ispeAt(idx).foreach(ispeByItem(iid) = _)
                  a += 1
                }
                true
              }
              val cnt = be32u(b, p); p += 4
              var k = 0L
              var ok = true
              while (ok && k < cnt) {
                if (v < 1 && p + 2 <= ae) { // item id width rides version
                  val iid = be16(b, p).toLong; p += 2
                  ok = walkAssoc(ae, iid)
                } else if (v >= 1 && p + 4 <= ae) {
                  val iid = be32u(b, p); p += 4
                  ok = walkAssoc(ae, iid)
                } else ok = false
                k += 1
              }
            }
          }
          val dims = ispeByItem.get(primary).getOrElse {
            val all = props.collect {
              case ("ispe", ps, pe) if pe - ps >= 12 =>
                (be32u(b, ps + 4).toInt, be32u(b, ps + 8).toInt)
            }
            if (all.isEmpty) (0, 0)
            else all.maxBy(d => d._1.toLong * d._2.toLong)
          }
          width = dims._1; height = dims._2
        }
        // 'grid' primaries (how iPhones overwhelmingly store HEIC — the
        // canvas is tiled from hvc1 items): the ImageGrid config body is
        // the dimension AUTHORITY, not the grid item's associated ispe
        // (writers disagree between the two in the wild). Resolve the
        // payload through iloc (file-absolute or idat-relative
        // construction), read rows/cols + output dims, cross-check the
        // tile count against the dimg references, and fall back to
        // cols×tile_w / rows×tile_h from the first tile's ispe when the
        // config omits output dims; on any damage keep the ispe path.
        if (primaryType == "grid") {
          val bounds = ilocFirstExtent(b, s, me, primary).flatMap {
            case (method, off, len) =>
              if (len < 8 || len > 24) None
              else method match {
                case 0 =>
                  if (off >= 0 && off + len <= b.length)
                    Some((off.toInt, (off + len).toInt))
                  else None
                case 1 =>
                  child(b, s, me, "idat").flatMap { case (ds, de) =>
                    val st = ds + off
                    if (off >= 0 && st + len <= de)
                      Some((st.toInt, (st + len).toInt))
                    else None
                  }
                case _ => None
              }
          }
          bounds.foreach { case (gs, ge) =>
            val flags = b(gs + 1) & 0xFF
            val rows = (b(gs + 2) & 0xFF) + 1
            val cols = (b(gs + 3) & 0xFF) + 1
            val (ow, oh) =
              if ((flags & 1) == 0 && ge - gs >= 8)
                (be16(b, gs + 4), be16(b, gs + 6))
              else if ((flags & 1) == 1 && ge - gs >= 12)
                (be32u(b, gs + 4).toInt, be32u(b, gs + 8).toInt)
              else (0, 0)
            val tiles = dimgRefs(b, s, me, primary)
            val consistent = tiles.isEmpty || tiles.length == rows * cols
            if (ow > 0 && oh > 0 && consistent) {
              width = ow; height = oh
            } else if (tiles.nonEmpty && tiles.length == rows * cols) {
              tiles.headOption.flatMap(ispeByItem.get).foreach {
                case (tw, th) if tw > 0 && th > 0 =>
                  width = cols * tw; height = rows * th
                case _ =>
              }
            }
          }
        }
        HeifMeta(brand, primary, primaryType, nItems, width, height)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** EXIF metadata of a HEIF/AVIF still (ISO 23008-12 §A.2.1): the
    * `iinf` names an item of type 'Exif', `iloc` locates its bytes
    * (version 0-2, file-absolute construction), and the item's
    * ExifDataBlock — a u32 tiff-header offset, usually over an
    * "Exif\0\0" identifier — hands the TIFF block to the shared
    * [[Exif.metaFromTiff]] walk. None when the file has no Exif item or
    * its location is outside the envelope (idat/item-relative
    * construction, multi-extent items — rare in still images,
    * documented). This is the phone-imagery PII surface: [[heifMeta]]
    * says what the image is, this says what the camera leaked.
    */
  def heifExif(b: Array[Byte]): Option[Exif.ExifMeta] = {
    if (b == null || b.length < 16 || fourcc(b, 4) != "ftyp") return None
    try {
      if (!HeifBrands.contains(fourcc(b, 8))) return None
      boxes(b, 0, b.length).collectFirst { case ("meta", ms0, me) =>
        val s = ms0 + 4
        // the Exif item's id from iinf/infe, then the FIRST extent of
        // its iloc entry, file-absolute construction only
        val exifId = infeItems(b, s, me)._2.collect { case (iid, "Exif") => iid }
          .lastOption.getOrElse(return None)
        val loc = ilocFirstExtent(b, s, me, exifId).collect {
          case (0, off, len) => (off, len)
        }
        loc.flatMap { case (off, len) =>
          if (off < 0 || len < 8 || off + len > b.length) None
          else {
            val start = off.toInt
            val end = (off + len).toInt
            // ExifDataBlock: u32 offset to the TIFF header (counts the
            // "Exif\0\0" identifier when present)
            val skip = be32u(b, start)
            val base = start + 4 + skip
            if (skip < 0 || base + 8 > end) None
            else Exif.metaFromTiff(b, base.toInt, end)
          }
        }
      }.flatten
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One ISO-BMFF box: big-endian size, the 4cc, then the payload parts
    * — the grammar [[parse]] walks. Every box fixture (the HEIF stills
    * below, the MP4 certificates, the soak corpora) is built through it.
    */
  private[graft] def box(tpe: String, parts: Array[Byte]*): Array[Byte] = {
    val n = 8 + parts.map(_.length).sum
    val bos = new java.io.ByteArrayOutputStream(n)
    writeBe32(bos, n); bos.write(tpe.getBytes("US-ASCII"))
    parts.foreach(bos.write)
    bos.toByteArray
  }

  /** HEIF fixture assembly (spec/certificate counterpart of [[heifMeta]]):
    * a two-item still — primary coded image + one auxiliary — whose ipco
    * holds the AUX ispe first and a LARGER aux image, so the right answer
    * can only come from ipma association (neither first-ispe nor
    * largest-ispe shortcuts survive the oracle).
    */
  private[graft] object HeifBuild {
    private val full0: Array[Byte] = Array(0, 0, 0, 0)
    private def ispe(w: Int, h: Int): Array[Byte] =
      box("ispe", full0, be32Of(w), be32Of(h))
    private def infe(id: Int, tpe: String): Array[Byte] =
      box("infe", Array[Byte](2, 0, 0, 0), be16Of(id), be16Of(0),
        tpe.getBytes("US-ASCII"), Array[Byte](0))

    /** One still image: primary item `itemType` at `w`×`h`, plus an aux
      * item whose ispe is first in ipco and larger — with `withIpma =
      * false` the association table is omitted and the largest-ispe
      * fallback is the only path. With `exifTiff` set, a third item of
      * type 'Exif' is declared in iinf, located by an iloc v0
      * (file-absolute) into an mdat holding the ExifDataBlock
      * (u32 offset over the "Exif\0\0" identifier + the TIFF block).
      */
    def still(brand: String, itemType: String, w: Int, h: Int,
        withIpma: Boolean = true, exifTiff: Array[Byte] = null): Array[Byte] = {
      val hdlr = box("hdlr", full0, be32Of(0), "pict".getBytes("US-ASCII"),
        new Array[Byte](12), Array[Byte](0))
      val pitm = box("pitm", full0, be16Of(1))
      val iinf =
        if (exifTiff == null)
          box("iinf", full0, be16Of(2), infe(1, itemType), infe(2, itemType))
        else
          box("iinf", full0, be16Of(3), infe(1, itemType), infe(2, itemType),
            infe(3, "Exif"))
      // aux ispe FIRST and LARGER than the primary (ipma must pick idx 2);
      // without ipma the largest fallback lands on the aux dims
      val ipco = box("ipco", ispe(w * 2, h * 2), ispe(w, h))
      val ipma = box("ipma", full0, be32Of(1),
        be16Of(1), Array[Byte](1, 2)) // item 1: one association, index 2
      val iprp =
        if (withIpma) box("iprp", ipco, ipma) else box("iprp", ipco)
      val ftypB = box("ftyp", brand.getBytes("US-ASCII"), be32Of(0))
      if (exifTiff == null)
        ftypB ++ box("meta", full0, hdlr, pitm, iinf, iprp)
      else {
        // ExifDataBlock: u32 skip over "Exif\0\0", identifier, TIFF
        val block = be32Of(6) ++ "Exif".getBytes("US-ASCII") ++
          Array[Byte](0, 0) ++ exifTiff
        def iloc(fileOff: Long): Array[Byte] =
          box("iloc", full0, Array[Byte](0x44, 0x00), be16Of(1),
            be16Of(3), be16Of(0), be16Of(1), be32Of(fileOff), be32Of(block.length))
        // the iloc's field widths are fixed, so meta's LENGTH does not
        // depend on the offset value: measure with 0, then rebuild
        val metaLen =
          box("meta", full0, hdlr, pitm, iinf, iprp, iloc(0)).length
        val fileOff = ftypB.length + metaLen + 8L // into the mdat payload
        ftypB ++ box("meta", full0, hdlr, pitm, iinf, iprp, iloc(fileOff)) ++
          box("mdat", block)
      }
    }

    /** A grid-tiled still (the iPhone HEIC layout): primary item 1 of
      * type 'grid' whose ImageGrid config lives in `idat` (iloc v1,
      * construction_method 1), `rows`×`cols` hvc1 tile items referenced
      * by a `dimg` iref, tile ispe associated to every tile — and the
      * grid item's OWN associated ispe deliberately WRONG (canvas+7),
      * so the right canvas can only come from the grid config (or, with
      * `zeroOutputDims = true`, from cols×tile_w / rows×tile_h math).
      */
    def grid(brand: String, canvasW: Int, canvasH: Int,
        tileW: Int, tileH: Int, rows: Int = 2, cols: Int = 2,
        zeroOutputDims: Boolean = false): Array[Byte] = {
      val n = rows * cols
      val hdlr = box("hdlr", full0, be32Of(0), "pict".getBytes("US-ASCII"),
        new Array[Byte](12), Array[Byte](0))
      val pitm = box("pitm", full0, be16Of(1))
      val infes = infe(1, "grid") +: (2 to n + 1).map(infe(_, "hvc1"))
      val iinf = box("iinf", (Seq(full0, be16Of(n + 1)) ++ infes): _*)
      val dimg = box("dimg",
        (Seq(be16Of(1), be16Of(n)) ++ (2 to n + 1).map(be16Of)): _*)
      val iref = box("iref", full0, dimg)
      // idx 1: the grid item's (wrong) ispe; idx 2: the tile ispe
      val ipco = box("ipco", ispe(canvasW + 7, canvasH + 7), ispe(tileW, tileH))
      val assoc = Array.concat(
        (Seq(be16Of(1) ++ Array[Byte](1, 1)) ++
          (2 to n + 1).map(i => be16Of(i) ++ Array[Byte](1, 2))): _*)
      val ipma = box("ipma", full0, be32Of(n + 1), assoc)
      val iprp = box("iprp", ipco, ipma)
      val gridPayload = Array[Byte](0, 0, (rows - 1).toByte, (cols - 1).toByte) ++
        (if (zeroOutputDims) be16Of(0) ++ be16Of(0)
         else be16Of(canvasW) ++ be16Of(canvasH))
      val iloc = box("iloc", Array[Byte](1, 0, 0, 0), Array[Byte](0x44, 0x00),
        be16Of(1), be16Of(1), be16Of(1), be16Of(0), be16Of(1),
        be32Of(0), be32Of(gridPayload.length))
      val idat = box("idat", gridPayload)
      box("ftyp", brand.getBytes("US-ASCII"), be32Of(0)) ++
        box("meta", full0, hdlr, pitm, iinf, iref, iprp, iloc, idat)
    }
  }
}
