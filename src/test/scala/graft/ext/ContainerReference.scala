package graft.ext

/** The container writers as they were written before [[Bytes]] and the
  * codecs' shared writers replaced them: each codec's own byte-order code
  * and each certificate fixture's inline copy, kept verbatim as the
  * reference [[ContainerWritersSpec]] checks the shared writers against.
  */
object ContainerReference {
  import TiffImg.{lzwEncode, packBitsEncode}

  /** Minimal RIFF/fmt/data 16-bit mono PCM container around `samples` —
    * fixture writer for specs and the anchor certificate.
    */
  def wavPcm16(samples: Array[Int], rate: Int = 8000): Array[Byte] = {
    val n = samples.length
    val bytes = new Array[Byte](44 + n * 2)
    def ascii(off: Int, v: String): Unit = {
      var k = 0
      while (k < v.length) { bytes(off + k) = v.charAt(k).toByte; k += 1 }
    }
    def le32(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
      bytes(off + 2) = (v >>> 16).toByte; bytes(off + 3) = (v >>> 24).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
    }
    ascii(0, "RIFF"); le32(4, 36 + n * 2); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16)
    le16(20, 1); le16(22, 1) // PCM, mono
    le32(24, rate); le32(28, rate * 2)
    le16(32, 2); le16(34, 16) // block align, bits
    ascii(36, "data"); le32(40, n * 2)
    var i = 0
    while (i < n) {
      le16(44 + i * 2, samples(i) & 0xFFFF)
      i += 1
    }
    bytes
  }

  /** q_wav_pcm's inline WAVE writer. */
  def wavPcmQuery(id: Long): Array[Byte] = {
    val n = 400
    val bytes = new Array[Byte](44 + n * 2)
    def putAscii(off: Int, sVal: String): Unit = {
      var k = 0
      while (k < sVal.length) { bytes(off + k) = sVal.charAt(k).toByte; k += 1 }
    }
    def putLe32(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
      bytes(off + 2) = (v >>> 16).toByte; bytes(off + 3) = (v >>> 24).toByte
    }
    def putLe16(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
    }
    putAscii(0, "RIFF"); putLe32(4, 36 + n * 2); putAscii(8, "WAVE")
    putAscii(12, "fmt "); putLe32(16, 16)
    putLe16(20, 1); putLe16(22, 1) // PCM, mono
    putLe32(24, 8000); putLe32(28, 16000) // rate, byte rate
    putLe16(32, 2); putLe16(34, 16) // block align, bits
    putAscii(36, "data"); putLe32(40, n * 2)
    var i = 0
    while (i < n) {
      putLe16(44 + i * 2, (((id * 7 + i.toLong * 11) % 2001) - 1000).toInt)
      i += 1
    }
    bytes
  }

  /** q_wav_float's inline WAVE writer. */
  def wavFloatQuery(id: Long): Array[Byte] = {
    val n = 200
    val bytes = new Array[Byte](44 + n * 4)
    def putAscii(off: Int, sVal: String): Unit = {
      var k = 0
      while (k < sVal.length) { bytes(off + k) = sVal.charAt(k).toByte; k += 1 }
    }
    def putLe32(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
      bytes(off + 2) = (v >>> 16).toByte; bytes(off + 3) = (v >>> 24).toByte
    }
    def putLe16(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
    }
    putAscii(0, "RIFF"); putLe32(4, 36 + n * 4); putAscii(8, "WAVE")
    putAscii(12, "fmt "); putLe32(16, 16)
    putLe16(20, 3); putLe16(22, 1) // IEEE float, mono
    putLe32(24, 8000); putLe32(28, 32000)
    putLe16(32, 4); putLe16(34, 32)
    putAscii(36, "data"); putLe32(40, n * 4)
    var i = 0
    while (i < n) {
      val k = ((id * 7 + i.toLong * 13) % 512L - 256L).toInt
      putLe32(44 + i * 4, java.lang.Float.floatToIntBits(k / 256.0f))
      i += 1
    }
    bytes
  }

  /** q_wav_g711's inline WAVE writer. */
  def wavG711Query(id: Long): Array[Byte] = {
    val n = 200
    val bytes = new Array[Byte](44 + n)
    def putAscii(off: Int, sVal: String): Unit = {
      var k = 0
      while (k < sVal.length) { bytes(off + k) = sVal.charAt(k).toByte; k += 1 }
    }
    def putLe32(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
      bytes(off + 2) = (v >>> 16).toByte; bytes(off + 3) = (v >>> 24).toByte
    }
    def putLe16(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
    }
    putAscii(0, "RIFF"); putLe32(4, 36 + n); putAscii(8, "WAVE")
    putAscii(12, "fmt "); putLe32(16, 16)
    putLe16(20, if (id % 2 == 0) 7 else 6); putLe16(22, 1)
    putLe32(24, 8000); putLe32(28, 8000)
    putLe16(32, 1); putLe16(34, 8)
    putAscii(36, "data"); putLe32(40, n)
    var i = 0
    while (i < n) {
      bytes(44 + i) = ((id * 7 + i * 13) % 256).toByte
      i += 1
    }
    bytes
  }

  /** q_wav_adpcm's inline WAVE writer. */
  def wavAdpcmQuery(id: Long): Array[Byte] = {
    val blockAlign = 256
    val pred0 = ((id * 37) % 2048 - 1024).toInt
    val k = (id % 4).toInt
    val bytes = new Array[Byte](44 + 4 + blockAlign)
    def putAscii(off: Int, sVal: String): Unit = {
      var j = 0
      while (j < sVal.length) { bytes(off + j) = sVal.charAt(j).toByte; j += 1 }
    }
    def putLe32(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
      bytes(off + 2) = (v >>> 16).toByte; bytes(off + 3) = (v >>> 24).toByte
    }
    def putLe16(off: Int, v: Int): Unit = {
      bytes(off) = v.toByte; bytes(off + 1) = (v >>> 8).toByte
    }
    putAscii(0, "RIFF"); putLe32(4, 40 + blockAlign); putAscii(8, "WAVE")
    putAscii(12, "fmt "); putLe32(16, 20) // 16 + cbSize(2) + ext(2)
    putLe16(20, 0x11); putLe16(22, 1) // IMA ADPCM, mono
    putLe32(24, 8000); putLe32(28, 8000 * blockAlign / 505)
    putLe16(32, blockAlign); putLe16(34, 4)
    putLe16(36, 2); putLe16(38, 505) // cbSize, samplesPerBlock
    putAscii(40, "data"); putLe32(44, blockAlign)
    val blk = 48
    putLe16(blk, pred0 & 0xFFFF)
    bytes(blk + 2) = 16 // index0
    var j = blk + 4
    while (j < blk + blockAlign) {
      bytes(j) = (k | (k << 4)).toByte // constant nibble, low first
      j += 1
    }
    bytes
  }

  /** Deterministic baseline TIFF: `compression` 1/5/32773, either byte
    * order, optional Predictor 2, strips of `rowsPerStrip`. Gray (1ch)
    * or RGB/RGBA input.
    */
  def build(img: Png.Image, compression: Int = 1,
      bigEndian: Boolean = false, predictor: Int = 1,
      rowsPerStrip: Int = 4): Array[Byte] = {
    require(Set(1, 5, 32773).contains(compression), "tiff build: compression")
    require(Set(1, 3, 4).contains(img.channels), "tiff build: channels")
    require(predictor == 1 || predictor == 2, "tiff build: predictor")
    val ch = img.channels
    val rowBytes = img.width * ch
    val src =
      if (predictor == 1) img.pixels
      else { // forward horizontal differencing
        val d = img.pixels.clone()
        var y = 0
        while (y < img.height) {
          var x = rowBytes - 1
          while (x >= ch) {
            d(y * rowBytes + x) =
              (d(y * rowBytes + x) - d(y * rowBytes + x - ch)).toByte
            x -= 1
          }
          y += 1
        }
        d
      }
    val strips = (0 until img.height by rowsPerStrip).map { y0 =>
      val rows = math.min(rowsPerStrip, img.height - y0)
      val raw = java.util.Arrays.copyOfRange(src, y0 * rowBytes,
        (y0 + rows) * rowBytes)
      compression match {
        case 1 => raw
        case 5 => lzwEncode(raw)
        case _ => packBitsEncode(raw)
      }
    }
    // layout: header(8) + IFD + value heap (bits array) + strip data
    val tags = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
    val nStrips = strips.length
    val photometric = if (ch == 1) 1 else 2
    val nEntries = 10 + (if (predictor == 2) 1 else 0)
    val ifdOff = 8
    val ifdSize = 2 + nEntries * 12 + 4
    var heap = ifdOff + ifdSize
    val bitsOff = heap
    val needBitsHeap = ch > 2 // count > 2 SHORTs never fit inline
    if (needBitsHeap) heap += ch * 2
    val stripOffsOff = heap
    val needStripHeap = nStrips > 1
    if (needStripHeap) heap += nStrips * 4 * 2 // offsets + counts
    var dataOff = heap
    val stripOffs = strips.map { s2 => val o = dataOff; dataOff += s2.length; o }
    val total = dataOff
    val b = new Array[Byte](total)
    def w16(i: Int, v: Int): Unit =
      if (bigEndian) { b(i) = (v >>> 8).toByte; b(i + 1) = v.toByte }
      else { b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte }
    def w32(i: Int, v: Long): Unit =
      if (bigEndian) {
        b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
        b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
      } else {
        b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
        b(i + 2) = (v >>> 16).toByte; b(i + 3) = (v >>> 24).toByte
      }
    if (bigEndian) { b(0) = 'M'; b(1) = 'M' } else { b(0) = 'I'; b(1) = 'I' }
    w16(2, 42); w32(4, ifdOff)
    // entries, ascending tag order
    tags += ((256, 3, 1L, img.width.toLong))
    tags += ((257, 3, 1L, img.height.toLong))
    tags += ((258, 3, ch.toLong, if (needBitsHeap) bitsOff.toLong else 8L))
    tags += ((259, 3, 1L, compression.toLong))
    tags += ((262, 3, 1L, photometric.toLong))
    tags += ((273, 4, nStrips.toLong,
      if (needStripHeap) stripOffsOff.toLong else stripOffs.head.toLong))
    tags += ((277, 3, 1L, ch.toLong))
    tags += ((278, 3, 1L, rowsPerStrip.toLong))
    tags += ((279, 4, nStrips.toLong,
      if (needStripHeap) (stripOffsOff + nStrips * 4).toLong
      else strips.head.length.toLong))
    if (predictor == 2) tags += ((317, 3, 1L, 2L))
    val sorted = tags.sortBy(_._1)
    w16(ifdOff, sorted.length)
    sorted.zipWithIndex.foreach { case ((tag, tpe, cnt, value), k) =>
      val e = ifdOff + 2 + k * 12
      w16(e, tag); w16(e + 2, tpe); w32(e + 4, cnt)
      if (tag == 258 && needBitsHeap) w32(e + 8, value)
      else if ((tag == 273 || tag == 279) && needStripHeap) w32(e + 8, value)
      else if (tpe == 3 && cnt == 1) {
        // inline SHORT sits in the first two bytes of the value field
        w16(e + 8, value.toInt); w16(e + 10, 0)
      } else if (tpe == 3 && cnt == 2) {
        w16(e + 8, (value & 0xFFFF).toInt); w16(e + 10, (value >> 16).toInt)
      } else w32(e + 8, value)
    }
    w32(ifdOff + 2 + sorted.length * 12, 0) // next-IFD terminator
    if (needBitsHeap) (0 until ch).foreach(k => w16(bitsOff + k * 2, 8))
    if (needStripHeap) {
      stripOffs.zipWithIndex.foreach { case (o, k) =>
        w32(stripOffsOff + k * 4, o.toLong)
      }
      strips.zipWithIndex.foreach { case (s2, k) =>
        w32(stripOffsOff + nStrips * 4 + k * 4, s2.length.toLong)
      }
    }
    strips.zip(stripOffs).foreach { case (s2, o) =>
      System.arraycopy(s2, 0, b, o, s2.length)
    }
    b
  }

  /** Deterministic bilevel (fax-class) TIFF: gray input thresholded at
    * 128 (dark → CCITT black), CCITT-coded strips (compression 2 MH /
    * 3 G3 with `t4Options` 1D-vs-2D + fill bits / 4 G4), photometric 0
    * (WhiteIsZero, the fax default). Little-endian, ascending-tag IFD.
    */
  def buildBilevel(img: Png.Image, compression: Int,
      t4Options: Int = 0, rowsPerStrip: Int = 1 << 20): Array[Byte] = {
    require(Set(2, 3, 4).contains(compression), "bilevel build: compression")
    require(img.channels == 1, "bilevel build: gray input")
    val w = img.width
    val h = img.height
    val scheme: Ccitt.Scheme = compression match {
      case 2 => Ccitt.Mh
      case 3 => Ccitt.G3((t4Options & 1) != 0, (t4Options & 4) != 0)
      case _ => Ccitt.G4
    }
    val bm = new Array[Byte](w * h)
    var i = 0
    while (i < bm.length) { // dark pixels are fax black
      if ((img.pixels(i) & 0xFF) < 128) bm(i) = 1
      i += 1
    }
    val strips = (0 until h by rowsPerStrip).map { y0 =>
      val rows = math.min(rowsPerStrip, h - y0)
      Ccitt.encode(java.util.Arrays.copyOfRange(bm, y0 * w, (y0 + rows) * w),
        w, rows, scheme)
    }
    val nStrips = strips.length
    val nEntries = 9 + (if (compression == 3) 1 else 0)
    val ifdOff = 8
    var heap = ifdOff + 2 + nEntries * 12 + 4
    val stripOffsOff = heap
    val needStripHeap = nStrips > 1
    if (needStripHeap) heap += nStrips * 8
    var dataOff = heap
    val stripOffs = strips.map { s => val o = dataOff; dataOff += s.length; o }
    val b = new Array[Byte](dataOff)
    def w16(o: Int, v: Int): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >>> 8).toByte
    }
    def w32(o: Int, v: Long): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >>> 8).toByte
      b(o + 2) = (v >>> 16).toByte; b(o + 3) = (v >>> 24).toByte
    }
    b(0) = 'I'; b(1) = 'I'; w16(2, 42); w32(4, ifdOff)
    var tags = Vector[(Int, Int, Long, Long)](
      (256, 3, 1L, w.toLong),
      (257, 3, 1L, h.toLong),
      (258, 3, 1L, 1L),
      (259, 3, 1L, compression.toLong),
      (262, 3, 1L, 0L), // WhiteIsZero
      (273, 4, nStrips.toLong,
        if (needStripHeap) stripOffsOff.toLong else stripOffs.head.toLong),
      (277, 3, 1L, 1L),
      (278, 4, 1L, rowsPerStrip.toLong), // LONG: a one-strip file stores h≤2^20 here
      (279, 4, nStrips.toLong,
        if (needStripHeap) (stripOffsOff + nStrips * 4).toLong
        else strips.head.length.toLong))
    if (compression == 3) tags = tags :+ ((292, 4, 1L, t4Options.toLong))
    val sorted = tags.sortBy(_._1)
    w16(ifdOff, sorted.length)
    sorted.zipWithIndex.foreach { case ((tag, tpe, cnt, value), k) =>
      val e = ifdOff + 2 + k * 12
      w16(e, tag); w16(e + 2, tpe); w32(e + 4, cnt)
      if (tpe == 3) { w16(e + 8, value.toInt); w16(e + 10, 0) }
      else w32(e + 8, value)
    }
    w32(ifdOff + 2 + sorted.length * 12, 0)
    if (needStripHeap) {
      stripOffs.zipWithIndex.foreach { case (o, k) =>
        w32(stripOffsOff + k * 4, o.toLong)
      }
      strips.zipWithIndex.foreach { case (s, k) =>
        w32(stripOffsOff + nStrips * 4 + k * 4, s.length.toLong)
      }
    }
    strips.zip(stripOffs).foreach { case (s, o) =>
      System.arraycopy(s, 0, b, o, s.length)
    }
    b
  }

  /** HEIF fixture assembly (spec/certificate counterpart of [[heifMeta]]):
    * a two-item still — primary coded image + one auxiliary — whose ipco
    * holds the AUX ispe first and a LARGER aux image, so the right answer
    * can only come from ipma association (neither first-ispe nor
    * largest-ispe shortcuts survive the oracle).
    */
  object HeifBuild {
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
    private val full0: Array[Byte] = Array(0, 0, 0, 0)
    private def ispe(w: Int, h: Int): Array[Byte] =
      box("ispe", full0, be32(w), be32(h))
    private def infe(id: Int, tpe: String): Array[Byte] =
      box("infe", Array[Byte](2, 0, 0, 0), be16(id), be16(0),
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
      val hdlr = box("hdlr", full0, be32(0), "pict".getBytes("US-ASCII"),
        new Array[Byte](12), Array[Byte](0))
      val pitm = box("pitm", full0, be16(1))
      val iinf =
        if (exifTiff == null)
          box("iinf", full0, be16(2), infe(1, itemType), infe(2, itemType))
        else
          box("iinf", full0, be16(3), infe(1, itemType), infe(2, itemType),
            infe(3, "Exif"))
      // aux ispe FIRST and LARGER than the primary (ipma must pick idx 2);
      // without ipma the largest fallback lands on the aux dims
      val ipco = box("ipco", ispe(w * 2, h * 2), ispe(w, h))
      val ipma = box("ipma", full0, be32(1),
        be16(1), Array[Byte](1, 2)) // item 1: one association, index 2
      val iprp =
        if (withIpma) box("iprp", ipco, ipma) else box("iprp", ipco)
      val ftypB = box("ftyp", brand.getBytes("US-ASCII"), be32(0))
      if (exifTiff == null)
        ftypB ++ box("meta", full0, hdlr, pitm, iinf, iprp)
      else {
        // ExifDataBlock: u32 skip over "Exif\0\0", identifier, TIFF
        val block = be32(6) ++ "Exif".getBytes("US-ASCII") ++
          Array[Byte](0, 0) ++ exifTiff
        def iloc(fileOff: Long): Array[Byte] =
          box("iloc", full0, Array[Byte](0x44, 0x00), be16(1),
            be16(3), be16(0), be16(1), be32(fileOff), be32(block.length))
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
      val hdlr = box("hdlr", full0, be32(0), "pict".getBytes("US-ASCII"),
        new Array[Byte](12), Array[Byte](0))
      val pitm = box("pitm", full0, be16(1))
      val infes = infe(1, "grid") +: (2 to n + 1).map(infe(_, "hvc1"))
      val iinf = box("iinf", (Seq(full0, be16(n + 1)) ++ infes): _*)
      val dimg = box("dimg",
        (Seq(be16(1), be16(n)) ++ (2 to n + 1).map(be16)): _*)
      val iref = box("iref", full0, dimg)
      // idx 1: the grid item's (wrong) ispe; idx 2: the tile ispe
      val ipco = box("ipco", ispe(canvasW + 7, canvasH + 7), ispe(tileW, tileH))
      val assoc = Array.concat(
        (Seq(be16(1) ++ Array[Byte](1, 1)) ++
          (2 to n + 1).map(i => be16(i) ++ Array[Byte](1, 2))): _*)
      val ipma = box("ipma", full0, be32(n + 1), assoc)
      val iprp = box("iprp", ipco, ipma)
      val gridPayload = Array[Byte](0, 0, (rows - 1).toByte, (cols - 1).toByte) ++
        (if (zeroOutputDims) be16(0) ++ be16(0)
         else be16(canvasW) ++ be16(canvasH))
      val iloc = box("iloc", Array[Byte](1, 0, 0, 0), Array[Byte](0x44, 0x00),
        be16(1), be16(1), be16(1), be16(0), be16(1),
        be32(0), be32(gridPayload.length))
      val idat = box("idat", gridPayload)
      box("ftyp", brand.getBytes("US-ASCII"), be32(0)) ++
        box("meta", full0, hdlr, pitm, iinf, iref, iprp, iloc, idat)
    }
  }

  /** An ISO-BMFF box writer over a list of parts: size, type, body. */
  def soakBox(tpe: String, parts: Array[Byte]*): Array[Byte] = {
    def be32(v: Long): Array[Byte] = Array(((v >>> 24) & 0xFF).toByte,
      ((v >>> 16) & 0xFF).toByte, ((v >>> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val n = 8 + parts.map(_.length).sum
    be32(n) ++ tpe.getBytes("US-ASCII") ++ parts.flatten
  }

  /** q_png4_stats's inline chunk writer. */
  def pngChunk(out: java.io.ByteArrayOutputStream, t: String, data: Array[Byte]): Unit = {
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    out.write(be32(data.length))
    val tb = t.getBytes("US-ASCII")
    out.write(tb); out.write(data)
    val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
    out.write(be32(crc.getValue.toInt))
  }

  /** The Exif certificates' inline APP1 splice. */
  def exifApp1(jpg: Array[Byte], t: Array[Byte]): Array[Byte] = {
    val len = 2 + 6 + t.length
    val app1 = Array[Byte](0xFF.toByte, 0xE1.toByte,
      ((len >>> 8) & 0xFF).toByte, (len & 0xFF).toByte) ++
      "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ t
    jpg.take(2) ++ app1 ++ jpg.drop(2)
  }
}
