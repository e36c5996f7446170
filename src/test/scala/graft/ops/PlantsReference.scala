package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The inline forms the [[Plants]] helpers and the codecs' shared writers
  * replace in the [[ExtQueries]] certificates, kept verbatim as the
  * reference they are checked against.
  */
object PlantsReference {

  def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def gridRaster(h: Long): graft.ext.Png.Image = {
    val px = new Array[Byte](16 * 16)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val bit = (y / 2) * 8 + (x / 2)
        px(y * 16 + x) =
          if (((h >>> bit) & 1L) == 1L) 0xFF.toByte else 0x00.toByte
        x += 1
      }
      y += 1
    }
    graft.ext.Png.Image(16, 16, 1, px)
  }

  /** The four-block raster and its quality-1.0 JPEG encode, one writer per
    * image, `gray` evaluated per pixel as the queries did.
    */
  def blockJpeg(gray: Int => Int, progressive: Boolean = false): Array[Byte] = {
    graft.ext.Png.jdkImageIoInit
    val bi = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val blk = (y / 8) * 2 + (x / 8)
        val g = gray(blk)
        bi.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    if (progressive) p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), p)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  /** q_dedup_image_anchor's summary as it was written inline. */
  def imageAnchorSummary(pairs: DataFrame): DataFrame =
    pairs
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("id1") % 90000 =!= col("id2") % 90000, 1L)
          .otherwise(0L)).as("n_cross_family"),
        sum(when(col("hamming") === 3, 1L).otherwise(0L)).as("n_near_pairs"),
        sum(when(col("hamming") === 0, 1L).otherwise(0L)).as("n_exact_pairs"),
        sum(when(col("hamming") =!= 0 && col("hamming") =!= 3, 1L)
          .otherwise(0L)).as("n_bad_hamming"))
      .select(
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_cross_family"), lit(0L)).as("n_cross_family"),
        coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"),
        coalesce(col("n_exact_pairs"), lit(0L)).as("n_exact_pairs"),
        coalesce(col("n_bad_hamming"), lit(0L)).as("n_bad_hamming"))

  def top10(scores: DataFrame): DataFrame =
    scores
      .select(col("vec_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)

  /** q_exif_meta's inline Exif TIFF. */
  def exifMetaTiff(id: Long): Array[Byte] = {
    val gps = id % 2 == 0
    val make = s"Cam${id % 10}"
    val dt = s"2026:01:15 10:0${id % 10}:00"
    val n0 = 4 + (if (gps) 1 else 0)
    val makeOff = 8 + 2 + n0 * 12 + 4
    val dtOff = makeOff + 6
    val exifOff = dtOff + 20
    val gpsOff = exifOff + 30
    val t = new Array[Byte](gpsOff + (if (gps) 6 else 0))
    def w16(i: Int, v: Int): Unit = {
      t(i) = v.toByte; t(i + 1) = (v >>> 8).toByte
    }
    def w32(i: Int, v: Long): Unit = {
      t(i) = v.toByte; t(i + 1) = (v >>> 8).toByte
      t(i + 2) = (v >>> 16).toByte; t(i + 3) = (v >>> 24).toByte
    }
    t(0) = 'I'; t(1) = 'I'; w16(2, 42); w32(4, 8)
    w16(8, n0)
    var e = 10
    def entry(tag: Int, tpe: Int, cnt: Long, value: Long): Unit = {
      w16(e, tag); w16(e + 2, tpe); w32(e + 4, cnt); w32(e + 8, value)
      e += 12
    }
    entry(0x010F, 2, 5, makeOff)
    entry(0x0112, 3, 1, 1 + id % 8)
    entry(0x0132, 2, 20, dtOff)
    entry(0x8769, 4, 1, exifOff)
    if (gps) entry(0x8825, 4, 1, gpsOff)
    w32(e, 0)
    System.arraycopy(make.getBytes("US-ASCII"), 0, t, makeOff, 4)
    System.arraycopy(dt.getBytes("US-ASCII"), 0, t, dtOff, 19)
    w16(exifOff, 2)
    e = exifOff + 2
    entry(0xA002, 4, 1, 16)
    entry(0xA003, 4, 1, 16)
    w32(e, 0)
    if (gps) { w16(gpsOff, 0); w32(gpsOff + 2, 0) }
    t
  }

  /** q_media_curate_engine's inline per-copy Exif TIFF. */
  def copyExifTiff(id: Long): Array[Byte] = {
    val gps = id % 2 == 0
    val n0 = 2 + (if (gps) 1 else 0)
    val makeOff = 8 + 2 + n0 * 12 + 4
    val gpsOff = makeOff + 6
    val t = new Array[Byte](gpsOff + (if (gps) 6 else 0))
    def w16(i: Int, v: Int): Unit = {
      t(i) = v.toByte; t(i + 1) = (v >>> 8).toByte
    }
    def w32(i: Int, v: Long): Unit = {
      t(i) = v.toByte; t(i + 1) = (v >>> 8).toByte
      t(i + 2) = (v >>> 16).toByte; t(i + 3) = (v >>> 24).toByte
    }
    t(0) = 'I'; t(1) = 'I'; w16(2, 42); w32(4, 8)
    w16(8, n0)
    var e = 10
    def entry(tag: Int, tpe: Int, cnt: Long, value: Long): Unit = {
      w16(e, tag); w16(e + 2, tpe); w32(e + 4, cnt); w32(e + 8, value)
      e += 12
    }
    entry(0x010F, 2, 5, makeOff)
    entry(0x0112, 3, 1, 1 + id % 8)
    if (gps) entry(0x8825, 4, 1, gpsOff)
    w32(e, 0)
    System.arraycopy(s"Cam${id % 10}".getBytes("US-ASCII"), 0, t, makeOff, 4)
    if (gps) { w16(gpsOff, 0); w32(gpsOff + 2, 0) }
    t
  }

  /** q_tiff_meta's inline standalone TIFF. */
  def scanTiff(id: Long): Array[Byte] = {
    val le = id % 2 == 0
    val w = (100 + id % 900).toInt
    val h = (100 + id % 600).toInt
    val t = new Array[Byte](86)
    def w16(i: Int, v: Int): Unit =
      if (le) { t(i) = v.toByte; t(i + 1) = (v >>> 8).toByte }
      else { t(i) = (v >>> 8).toByte; t(i + 1) = v.toByte }
    def w32(i: Int, v: Long): Unit =
      if (le) {
        t(i) = v.toByte; t(i + 1) = (v >>> 8).toByte
        t(i + 2) = (v >>> 16).toByte; t(i + 3) = (v >>> 24).toByte
      } else {
        t(i) = (v >>> 24).toByte; t(i + 1) = (v >>> 16).toByte
        t(i + 2) = (v >>> 8).toByte; t(i + 3) = v.toByte
      }
    if (le) { t(0) = 'I'; t(1) = 'I' } else { t(0) = 'M'; t(1) = 'M' }
    w16(2, 42); w32(4, 8); w16(8, 5)
    var e = 10
    def entry(tag: Int, tpe: Int, cnt: Long, value: Long,
        short: Boolean = false): Unit = {
      w16(e, tag); w16(e + 2, tpe); w32(e + 4, cnt)
      if (short) w16(e + 8, value.toInt) else w32(e + 8, value)
      e += 12
    }
    entry(0x0100, 4, 1, w)
    entry(0x0101, 4, 1, h)
    entry(0x0102, 3, 3, 74) // SHORT x3 -> offset heap
    entry(0x010F, 2, 6, 80)
    entry(0x0112, 3, 1, 1 + id % 8, short = true)
    w32(e, 0)
    w16(74, 8); w16(76, 8); w16(78, 8)
    System.arraycopy(s"Scan${id % 10}".getBytes("US-ASCII"), 0, t, 80, 5)
    t
  }

  /** The orientation TIFF q_webp_exif and q_heif_exif each wrote inline. */
  def orientationTiff(orientation: Int, gps: Boolean): Array[Byte] = {
    val n = if (gps) 2 else 1
    val t = new Array[Byte](8 + 2 + n * 12 + 4)
    t(0) = 'I'; t(1) = 'I'; t(2) = 42; t(4) = 8
    def le16(i: Int, v: Int): Unit = {
      t(i) = v.toByte; t(i + 1) = (v >> 8).toByte
    }
    def le32(i: Int, v: Long): Unit = {
      t(i) = v.toByte; t(i + 1) = (v >> 8).toByte
      t(i + 2) = (v >> 16).toByte; t(i + 3) = (v >> 24).toByte
    }
    le16(8, n)
    le16(10, 0x0112); le16(12, 3); le32(14, 1); le16(18, orientation)
    if (gps) { le16(22, 0x8825); le16(24, 4); le32(26, 1); le32(30, 0) }
    t
  }

  /** The MP4 certificates' box builders with their own box writer. */
  object Mp4Build {
    def be32(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xFF).toByte, ((v >>> 16) & 0xFF).toByte,
      ((v >>> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def be16(v: Int): Array[Byte] =
      Array(((v >>> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(tpe: String, parts: Array[Byte]*): Array[Byte] = {
      val n = 8 + parts.map(_.length).sum
      val bos = new java.io.ByteArrayOutputStream(n)
      bos.write(be32(n)); bos.write(tpe.getBytes("US-ASCII"))
      parts.foreach(bos.write)
      bos.toByteArray
    }
    val full0: Array[Byte] = Array(0, 0, 0, 0) // version 0 + zero flags
    def ftyp(brand: String): Array[Byte] =
      box("ftyp", brand.getBytes("US-ASCII"), be32(0))
    def mvhd(timescale: Long, duration: Long): Array[Byte] = {
      val p = new Array[Byte](100) // v0 payload: times/scale/dur + rate/vol/matrix/next
      System.arraycopy(be32(timescale), 0, p, 12, 4)
      System.arraycopy(be32(duration), 0, p, 16, 4)
      System.arraycopy(be32(0x00010000L), 0, p, 20, 4) // rate 1.0
      p(96) = 0; p(97) = 0; p(98) = 0; p(99) = 3 // next_track_id
      box("mvhd", p)
    }
    def tkhd(trackId: Long, w: Int, h: Int): Array[Byte] = {
      val p = new Array[Byte](84)
      p(3) = 7 // flags: enabled | in-movie | in-preview
      System.arraycopy(be32(trackId), 0, p, 12, 4)
      // unity matrix at offset 40 (after reserved/layer/volume block)
      System.arraycopy(be32(0x00010000L), 0, p, 40, 4)
      System.arraycopy(be32(0x00010000L), 0, p, 56, 4)
      System.arraycopy(be32(0x40000000L), 0, p, 72, 4)
      System.arraycopy(be32(w.toLong << 16), 0, p, 76, 4)
      System.arraycopy(be32(h.toLong << 16), 0, p, 80, 4)
      box("tkhd", p)
    }
    def mdhd(timescale: Long, duration: Long): Array[Byte] = {
      val p = new Array[Byte](24)
      System.arraycopy(be32(timescale), 0, p, 12, 4)
      System.arraycopy(be32(duration), 0, p, 16, 4)
      p(20) = 0x55; p(21) = 0xC4.toByte // language "und"
      box("mdhd", p)
    }
    def hdlr(handler: String): Array[Byte] =
      box("hdlr", full0, be32(0), handler.getBytes("US-ASCII"),
        new Array[Byte](12), Array[Byte](0))
    def stsd(codec: String): Array[Byte] =
      // one bare 16-byte SampleEntry: size + format 4cc + 6 reserved + dri
      box("stsd", full0, be32(1),
        be32(16), codec.getBytes("US-ASCII"), new Array[Byte](6), be16(1))
    def stts(n: Long, delta: Long): Array[Byte] =
      box("stts", full0, be32(1), be32(n), be32(delta))
    def stszUniform(size: Long, n: Long): Array[Byte] =
      box("stsz", full0, be32(size), be32(n))
    def stszSizes(sizes: Seq[Int]): Array[Byte] =
      box("stsz", full0 ++ be32(0) ++ be32(sizes.length) ++
        sizes.flatMap(sz => be32(sz)).toArray)
    def stsc(samplesPerChunk: Long): Array[Byte] =
      box("stsc", full0, be32(1), be32(1), be32(samplesPerChunk), be32(1))
    def stco(offsets: Seq[Long]): Array[Byte] =
      box("stco", full0 ++ be32(offsets.length) ++
        offsets.flatMap(o => be32(o)).toArray)
    def trak(tkhdBox: Array[Byte], mdhdBox: Array[Byte], hdlrBox: Array[Byte],
        stblParts: Array[Byte]*): Array[Byte] =
      box("trak", tkhdBox,
        box("mdia", mdhdBox, hdlrBox, box("minf", box("stbl", stblParts: _*))))
  }

  /** The sampled-frame pixel-sum tail q_avi_frames and q_mp4_frames each
    * wrote inline.
    */
  def framePixelSums(m: DataFrame): DataFrame = {
    val s = m.sparkSession
    import s.implicits._
    graft.ext.Multimodal.sampleFramesReal(m, stride = 2)
      .map { sf =>
        val img = graft.ext.Png.decode(sf.frame_png).getOrElse(
          throw new IllegalStateException(
            s"frame png decode failed for ${sf.media_id}/${sf.frame_no}"))
        var sum = 0L
        img.pixels.foreach(v => sum += (v & 0xFF))
        (sf.media_id, sf.frame_no, sf.width, sf.height, sum)
      }
      .toDF("media_id", "frame_no", "width", "height", "pixel_sum")
  }

  /** q_png4_stats's inline 4-bit palette PNG writer. */
  def palette4Png(id: Long): Array[Byte] = {
    val (w, h) = (9, 4) // 9 × 4 bits = 4.5 bytes → ragged pad per row
    val stride = (w * 4 + 7) / 8
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (stride + 1)) = 0 // filter 0
      var x = 0
      while (x < w) {
        val idx = ((id + y * w + x) % 16).toInt
        val off = y * (stride + 1) + 1 + (x >> 1)
        raw(off) = (raw(off) | (idx << (if ((x & 1) == 0) 4 else 0))).toByte
        x += 1
      }
      y += 1
    }
    val plte = new Array[Byte](48)
    var k = 0
    while (k < 16) {
      plte(k * 3) = ((id * 3 + k * 7) % 256).toByte
      plte(k * 3 + 1) = ((id * 5 + k * 11) % 256).toByte
      plte(k * 3 + 2) = ((id * 7 + k * 13) % 256).toByte
      k += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
    val ihdr = new Array[Byte](13)
    ihdr(3) = w.toByte; ihdr(7) = h.toByte // widths < 256
    ihdr(8) = 4; ihdr(9) = 3 // 4-bit, palette
    graft.ext.Png.writeChunk(out, "IHDR", ihdr)
    graft.ext.Png.writeChunk(out, "PLTE", plte)
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val cbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](512)
    while (!defl.finished()) cbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    graft.ext.Png.writeChunk(out, "IDAT", cbuf.toByteArray)
    graft.ext.Png.writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** q_warc_gzip's inline `.warc.gz` blob writer. */
  def chunkedWarcGz(id: Long, text: String): Array[Byte] = {
    def gzBytes(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    val page = "<html><body><h1>Doc " + id + "</h1><p><b>" +
      text.replace(" ", "</b> <b>") + "</b></p></body></html>"
    val raw =
      if (id % 2 == 0) gzBytes(page.getBytes("UTF-8"))
      else page.getBytes("UTF-8")
    // chunk the body at a doc-dependent stride (7..21 bytes)
    val stride = 7 + (id % 15).toInt
    val chunks = raw.grouped(stride).toSeq
    val chunkedParts: Seq[Array[Byte]] =
      chunks.zipWithIndex.map { case (c, ci) =>
        val ext = if (ci == 0) ";graft=1" else ""
        (c.length.toHexString + ext + "\r\n").getBytes("ISO-8859-1") ++
          c ++ "\r\n".getBytes("ISO-8859-1")
      } :+ "0\r\nX-Crawl-Trailer: t\r\n\r\n".getBytes("ISO-8859-1")
    val body = chunkedParts.reduce(_ ++ _)
    val hdr = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Transfer-Encoding: chunked\r\n" +
      (if (id % 2 == 0) "Content-Encoding: gzip\r\n" else "") + "\r\n"
    val http = hdr.getBytes("ISO-8859-1") ++ body
    val recHdr = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: https://example.com/doc/$id\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes("ISO-8859-1")
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "Content-Length: 4\r\n\r\ninfo\r\n\r\n").getBytes("ISO-8859-1")
    val blob = gzBytes(info) ++
      gzBytes(recHdr ++ http ++ "\r\n\r\n".getBytes("ISO-8859-1"))
    blob
  }
}
