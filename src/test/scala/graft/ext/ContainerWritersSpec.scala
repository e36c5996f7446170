package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** The shared container writers — [[AudioFp.wavFile]], [[Mp4.box]], the
  * TIFF IFD writers of [[TiffImg]], [[Png.writeChunk]] and
  * [[Exif.withApp1]] — byte-identical to the inline writers they replaced
  * ([[ContainerReference]]), called the way each fixture calls them.
  */
class ContainerWritersSpec extends AnyFunSuite {

  private val ids = 0L until 400L

  private def same(ours: Array[Byte], ref: Array[Byte], clue: String): Unit =
    assert(ours.sameElements(ref), clue)

  test("WAVE: wavPcm16 equals its inline writer over sample vectors and rates") {
    ids.foreach { id =>
      val samples = Array.tabulate((id % 60).toInt)(i => ((id * 31 + i * 977L) % 70001 - 35000).toInt)
      val rate = 8000 + (id % 5).toInt * 3025
      same(AudioFp.wavPcm16(samples, rate), ContainerReference.wavPcm16(samples, rate), s"id=$id")
    }
  }

  test("WAVE: the four certificate fixtures through the one header writer equal their inline writers") {
    ids.foreach { id =>
      same(AudioFp.wavPcm16(Array.tabulate(400)(i => (((id * 7 + i.toLong * 11) % 2001) - 1000).toInt)),
        ContainerReference.wavPcmQuery(id), s"q_wav_pcm id=$id")

      val float = AudioFp.wavFile(formatTag = 3, channels = 1, rate = 8000,
        bits = 32, blockAlign = 4, dataLen = 200 * 4)
      (0 until 200).foreach { i =>
        val k = ((id * 7 + i.toLong * 13) % 512L - 256L).toInt
        Bytes.putLe32(float, 44 + i * 4, java.lang.Float.floatToIntBits(k / 256.0f))
      }
      same(float, ContainerReference.wavFloatQuery(id), s"q_wav_float id=$id")

      val g711 = AudioFp.wavFile(formatTag = if (id % 2 == 0) 7 else 6,
        channels = 1, rate = 8000, bits = 8, blockAlign = 1, dataLen = 200)
      (0 until 200).foreach(i => g711(44 + i) = ((id * 7 + i * 13) % 256).toByte)
      same(g711, ContainerReference.wavG711Query(id), s"q_wav_g711 id=$id")

      val adpcm = AudioFp.wavFile(formatTag = 0x11, channels = 1, rate = 8000,
        bits = 4, blockAlign = 256, dataLen = 256, samplesPerBlock = 505)
      Bytes.putLe16(adpcm, 48, ((id * 37) % 2048 - 1024).toInt)
      adpcm(50) = 16
      val k = (id % 4).toInt
      (52 until 48 + 256).foreach(j => adpcm(j) = (k | (k << 4)).toByte)
      same(adpcm, ContainerReference.wavAdpcmQuery(id), s"q_wav_adpcm id=$id")
    }
  }

  test("MP4: Mp4.box equals the HEIF, certificate and soak box writers") {
    val rnd = new scala.util.Random(20261018L)
    (0 until 400).foreach { k =>
      val tpe = new String(Array.fill(4)(('a' + rnd.nextInt(26)).toChar))
      val parts = Seq.fill(k % 6)(Array.fill(rnd.nextInt(3 + k))(rnd.nextInt().toByte))
      val ours = Mp4.box(tpe, parts: _*)
      same(ours, ContainerReference.HeifBuild.box(tpe, parts: _*), s"heif box k=$k")
      same(ours, ContainerReference.soakBox(tpe, parts: _*), s"soak box k=$k")
    }
  }

  test("MP4: the HEIF still and grid builders equal their inline-box forms") {
    ids.foreach { id =>
      val brand = if (id % 2 == 0) "heic" else "avif"
      val (w, h) = ((640 + id % 2000).toInt, (480 + id % 1000).toInt)
      val exif = if (id % 3 == 0) null else Array.tabulate((id % 40).toInt)(i => (id + i).toByte)
      same(Mp4.HeifBuild.still(brand, "hvc1", w, h, withIpma = id % 4 != 1, exifTiff = exif),
        ContainerReference.HeifBuild.still(brand, "hvc1", w, h, withIpma = id % 4 != 1, exifTiff = exif),
        s"still id=$id")
      val (rows, cols) = (1 + (id % 3).toInt, 1 + (id % 4).toInt)
      same(Mp4.HeifBuild.grid(brand, w, h, w / cols, h / rows, rows, cols, zeroOutputDims = id % 5 == 0),
        ContainerReference.HeifBuild.grid(brand, w, h, w / cols, h / rows, rows, cols,
          zeroOutputDims = id % 5 == 0), s"grid id=$id")
    }
  }

  private def raster(seed: Long, w: Int, h: Int, ch: Int): Png.Image = {
    val px = new Array[Byte](w * h * ch)
    val rnd = new scala.util.Random(seed)
    // runs make PackBits and LZW take their repeat paths too
    var i = 0
    while (i < px.length) {
      val run = 1 + rnd.nextInt(6)
      val v = rnd.nextInt(256).toByte
      var r = 0
      while (r < run && i < px.length) { px(i) = v; i += 1; r += 1 }
    }
    Png.Image(w, h, ch, px)
  }

  test("TIFF: build equals its inline IFD writer in both byte orders") {
    for {
      ch <- Seq(1, 3, 4)
      compression <- Seq(1, 5, 32773)
      bigEndian <- Seq(false, true)
      predictor <- Seq(1, 2)
      rowsPerStrip <- Seq(1, 4, 1000)
      seed <- 0L until 3L
    } {
      val img = raster(seed * 31 + ch, 5 + seed.toInt * 7, 3 + seed.toInt * 5, ch)
      same(TiffImg.build(img, compression, bigEndian, predictor, rowsPerStrip),
        ContainerReference.build(img, compression, bigEndian, predictor, rowsPerStrip),
        s"ch=$ch comp=$compression be=$bigEndian pred=$predictor rps=$rowsPerStrip seed=$seed")
    }
  }

  test("TIFF: buildBilevel equals its inline IFD writer") {
    for {
      (compression, t4) <- Seq((2, 0), (3, 0), (3, 1), (3, 5), (4, 0))
      rowsPerStrip <- Seq(1, 3, 1 << 20)
      seed <- 0L until 4L
    } {
      val img = raster(seed, 9 + seed.toInt * 11, 4 + seed.toInt * 3, 1)
      same(TiffImg.buildBilevel(img, compression, t4, rowsPerStrip),
        ContainerReference.buildBilevel(img, compression, t4, rowsPerStrip),
        s"comp=$compression t4=$t4 rps=$rowsPerStrip seed=$seed")
    }
  }

  test("PNG chunks and the Exif APP1 splice equal their inline writers") {
    val rnd = new scala.util.Random(5)
    (0 until 200).foreach { k =>
      val data = Array.fill(rnd.nextInt(2 + k * 3))(rnd.nextInt().toByte)
      val ours = new java.io.ByteArrayOutputStream()
      val ref = new java.io.ByteArrayOutputStream()
      Png.writeChunk(ours, "IDAT", data)
      ContainerReference.pngChunk(ref, "IDAT", data)
      same(ours.toByteArray, ref.toByteArray, s"chunk k=$k")
      val jpg = Array[Byte](0xFF.toByte, 0xD8.toByte) ++ data
      same(Exif.withApp1(jpg, data), ContainerReference.exifApp1(jpg, data), s"app1 k=$k")
    }
  }
}
