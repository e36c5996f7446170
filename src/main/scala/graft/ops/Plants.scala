package graft.ops

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset}

import graft.ext.{Bytes, Codecs, Multimodal, Png, TiffImg}

/** Planted-fixture helpers shared by the [[ExtQueries]] certificates: the
  * per-doc payload synthesis (rasters, JPEG encodes, Exif TIFFs), the
  * spread of a narrow per-doc scan across the session's cores, and the
  * result tails several query families share. Each helper is the single
  * copy of code the queries used to inline; outputs and plans are the
  * inlined forms'. A fixture that needs a container (WAVE, ISO-BMFF box,
  * PNG chunk, TIFF IFD, Exif APP1) calls that codec's own writer and
  * [[graft.ext.Bytes]] for byte order; it never keeps a copy of either.
  */
private[ops] object Plants {

  /** Spread a narrow per-doc scan across the session's cores before
    * CPU-heavy per-row work (codec encodes, synthesis, key stretching):
    * small parquet inputs arrive as ONE split (or one per unioned scan),
    * so without the round-robin exchange the per-doc work runs a single
    * task wide. The exchange is unconditional. A scan's split count is
    * no guide to skipping it: Spark cuts one parquet file into byte
    * ranges whatever its row groups, and only the range holding a row
    * group's midpoint reads it, so a single-row-group file cut into many
    * ranges still reads its rows in one task.
    */
  def spread[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(ds.sparkSession.sparkContext.defaultParallelism)

  /** 16×16 gray raster whose aHash is exactly `h`: aHash grid cell b (a
    * 2×2 pixel block) is 255 when bit b of `h` is set, else 0. Pin a set
    * and a clear bit in `h` so the raster is never uniform.
    */
  def gridRaster(h: Long): Png.Image = {
    val px = new Array[Byte](16 * 16)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val bit = (y / 2) * 8 + (x / 2)
        px(y * 16 + x) = if (((h >>> bit) & 1L) == 1L) 0xFF.toByte else 0x00.toByte
        x += 1
      }
      y += 1
    }
    Png.Image(16, 16, 1, px)
  }

  /** 16×16 RGB image of four solid 8×8 gray blocks, block b (row-major)
    * at gray level `gray(b)`. Blocks aligned to the 8×8 DCT grid survive
    * a quality-1.0 JPEG roundtrip exactly.
    */
  def grayBlocks(gray: Int => Int): BufferedImage = {
    val g = Array.tabulate(4)(gray)
    val bi = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val v = g((y / 8) * 2 + (x / 8))
        bi.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    bi
  }

  /** The JDK ImageIO JPEG writer at quality 1.0, optionally progressive.
    * Build one per partition: the writer is reused across encodes.
    */
  final class JpegWriter(progressive: Boolean = false) {
    Png.jdkImageIoInit // headless + no disk cache, once per JVM
    private val writer = ImageIO.getImageWritersByFormatName("jpeg").next()

    def encode(bi: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      if (progressive) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      writer.write(null, new IIOImage(bi, null, null), p)
      ios.close()
      bos.toByteArray
    }
  }

  /** q_exif_meta's little-endian Exif TIFF for doc `id`: Make (`Cam`
    * id%10) on the ASCII heap, an inline SHORT Orientation 1 + id%8, a
    * DateTime string, an Exif sub-IFD with 16×16 pixel dimensions, and an
    * empty GPS IFD behind a pointer on even ids.
    */
  def exifMetaTiff(id: Long): Array[Byte] = {
    val gps = id % 2 == 0
    val n0 = 4 + (if (gps) 1 else 0)
    val makeOff = 8 + 2 + n0 * 12 + 4
    val dtOff = makeOff + 6
    val exifOff = dtOff + 20
    val gpsOff = exifOff + 30
    val t = new Array[Byte](gpsOff + (if (gps) 6 else 0))
    TiffImg.putHeader(t, 8, bigEndian = false)
    TiffImg.putIfd(t, 8, Seq[(Int, Int, Long, Long)](
      (0x010F, 2, 5, makeOff),
      (0x0112, 3, 1, 1 + id % 8),
      (0x0132, 2, 20, dtOff),
      (0x8769, 4, 1, exifOff)) ++
      (if (gps) Seq((0x8825, 4, 1L, gpsOff.toLong)) else Nil), bigEndian = false)
    System.arraycopy(s"Cam${id % 10}".getBytes("US-ASCII"), 0, t, makeOff, 4)
    System.arraycopy(s"2026:01:15 10:0${id % 10}:00".getBytes("US-ASCII"), 0, t, dtOff, 19)
    TiffImg.putIfd(t, exifOff, Seq((0xA002, 4, 1L, 16L), (0xA003, 4, 1L, 16L)),
      bigEndian = false)
    if (gps) TiffImg.putIfd(t, gpsOff, Nil, bigEndian = false)
    t
  }

  /** q_media_curate_engine's per-copy Exif TIFF for doc `id`: Make
    * (`Cam` id%10), Orientation 1 + id%8 and, on even ids, an empty GPS
    * IFD — metadata that differs between copies of the same pixels.
    */
  def copyExifTiff(id: Long): Array[Byte] = {
    val gps = id % 2 == 0
    val n0 = 2 + (if (gps) 1 else 0)
    val makeOff = 8 + 2 + n0 * 12 + 4
    val gpsOff = makeOff + 6
    val t = new Array[Byte](gpsOff + (if (gps) 6 else 0))
    TiffImg.putHeader(t, 8, bigEndian = false)
    TiffImg.putIfd(t, 8, Seq[(Int, Int, Long, Long)](
      (0x010F, 2, 5, makeOff),
      (0x0112, 3, 1, 1 + id % 8)) ++
      (if (gps) Seq((0x8825, 4, 1L, gpsOff.toLong)) else Nil), bigEndian = false)
    System.arraycopy(s"Cam${id % 10}".getBytes("US-ASCII"), 0, t, makeOff, 4)
    if (gps) TiffImg.putIfd(t, gpsOff, Nil, bigEndian = false)
    t
  }

  /** q_tiff_meta's standalone TIFF for doc `id`, little-endian on even
    * ids and big-endian on odd: LONG width 100 + id%900 and height
    * 100 + id%600, BitsPerSample 8,8,8 on the offset heap, Make (`Scan`
    * id%10) on the ASCII heap and an inline SHORT Orientation 1 + id%8.
    */
  def scanTiff(id: Long): Array[Byte] = {
    val be = id % 2 != 0
    val t = new Array[Byte](86)
    TiffImg.putHeader(t, 8, be)
    TiffImg.putIfd(t, 8, Seq[(Int, Int, Long, Long)](
      (0x0100, 4, 1, 100 + id % 900),
      (0x0101, 4, 1, 100 + id % 600),
      (0x0102, 3, 3, 74), // SHORT x3 -> offset heap
      (0x010F, 2, 6, 80),
      (0x0112, 3, 1, 1 + id % 8)), be)
    Seq(74, 76, 78).foreach(Bytes.put16(t, _, 8, be))
    System.arraycopy(s"Scan${id % 10}".getBytes("US-ASCII"), 0, t, 80, 5)
    t
  }

  /** Little-endian TIFF holding one IFD: an inline SHORT Orientation
    * and, with `gps`, a GPS-IFD pointer (offset 0) — the Exif payload of
    * the WebP and HEIF metadata certificates.
    */
  def orientationTiff(orientation: Int, gps: Boolean): Array[Byte] = {
    val entries = Seq[(Int, Int, Long, Long)]((0x0112, 3, 1, orientation)) ++
      (if (gps) Seq((0x8825, 4, 1L, 0L)) else Nil)
    val t = new Array[Byte](8 + 2 + entries.length * 12 + 4)
    TiffImg.putHeader(t, 8, bigEndian = false)
    TiffImg.putIfd(t, 8, entries, bigEndian = false)
    t
  }

  /** q_png4_stats's 9×4 4-bit PALETTE PNG for doc `id`, packed by hand
    * (MSB-first indexes `(id + pixel) % 16` with ragged row padding, a
    * 16-entry palette modular in `id`) and framed by [[Png.writeChunk]]
    * around one zlib IDAT.
    */
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
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
    val ihdr = new Array[Byte](13)
    ihdr(3) = w.toByte; ihdr(7) = h.toByte // widths < 256
    ihdr(8) = 4; ihdr(9) = 3 // 4-bit, palette
    Png.writeChunk(out, "IHDR", ihdr)
    Png.writeChunk(out, "PLTE", plte)
    Png.writeChunk(out, "IDAT", Codecs.compressDeflate(raw, zlib = true))
    Png.writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** q_warc_gzip's `.warc.gz` blob for doc `id`: a warcinfo member and a
    * response member (each its own gzip member) whose HTTP body wraps
    * `text` in a page, gzip content-coded on even ids, then chunked at a
    * doc-dependent stride with a chunk extension and a trailer header.
    */
  def chunkedWarcGz(id: Long, text: String): Array[Byte] = {
    val page = "<html><body><h1>Doc " + id + "</h1><p><b>" +
      text.replace(" ", "</b> <b>") + "</b></p></body></html>"
    val raw =
      if (id % 2 == 0) Codecs.gzip(page.getBytes("UTF-8"))
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
    Codecs.gzip(info) ++ Codecs.gzip(recHdr, http, "\r\n\r\n".getBytes("ISO-8859-1"))
  }

  /** Every second frame of each `(media_id, payload)` video, its PNG
    * decoded back to a pixel sum: `media_id, frame_no, width, height,
    * pixel_sum` — the result tail of the AVI and MP4 frame certificates.
    */
  def framePixelSums(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    Multimodal.sampleFramesReal(media, stride = 2)
      .map { sf =>
        val img = Png.decode(sf.frame_png).getOrElse(
          throw new IllegalStateException(
            s"frame png decode failed for ${sf.media_id}/${sf.frame_no}"))
        var sum = 0L
        img.pixels.foreach(v => sum += (v & 0xFF))
        (sf.media_id, sf.frame_no, sf.width, sf.height, sum)
      }
      .toDF("media_id", "frame_no", "width", "height", "pixel_sum")
  }

  /** Count of rows where `cond` holds (null when there are no rows). */
  def countIf(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))

  /** Pairs whose two ids fall in different planted families (family =
    * id mod 90000, the planted-copy offset).
    */
  val crossFamily: Column = countIf(col("id1") % 90000 =!= col("id2") % 90000)

  /** One-row dedup-anchor summary: `n_pairs` then each named aggregate
    * over `pairs`, every column a non-null BIGINT — an empty pair set
    * reads as zeros, not nulls.
    */
  def pairSummary(pairs: DataFrame, aggs: (String, Column)*): DataFrame = {
    val names = "n_pairs" +: aggs.map(_._1)
    pairs
      .agg(count(lit(1)).as("n_pairs"), aggs.map { case (n, c) => c.as(n) }: _*)
      .select(names.map(n => coalesce(col(n), lit(0L)).as(n)): _*)
  }

  /** Vector-search result tail: `vec_id` and the score rounded to 6 dp,
    * best first, ties by id. Ranking on the ROUNDED score makes the order
    * the oracle's.
    */
  def ranked(scores: DataFrame): DataFrame =
    scores.select(col("vec_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))

  /** [[ranked]] cut at 10 rows (compiles to TakeOrderedAndProject). */
  def top10(scores: DataFrame): DataFrame = ranked(scores).limit(10)

  /** The query of the vector certificates, vec_id 0's embedding,
    * collected (one job) for the serve paths that take an array.
    */
  def queryVector(emb: DataFrame): Array[Float] =
    emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
}
