package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Tables

class MultimodalSpec extends SparkSpec {

  test("asMedia produces the canonical schema with binary payloads") {
    val media = Multimodal.asMedia(Tables.documents(spark, sfDir), "doc_id", "text", "image/fake")
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "payload", "media_type", "byte_len"))
    assert(media.schema("payload").dataType.typeName == "binary")
    val r = media.orderBy("media_id").head()
    assert(r.getAs[Array[Byte]]("payload").length == r.getAs[Long]("byte_len"))
  }

  test("decode stage is deterministic across runs and partitionings") {
    val media = Multimodal.asMedia(Tables.documents(spark, sfDir), "doc_id", "text", "image/fake")
    val a = Multimodal.decodeImages(media).collect().sortBy(_.media_id)
    val b = Multimodal.decodeImages(media.repartition(7)).collect().sortBy(_.media_id)
    assert(a.toSeq == b.toSeq)
    assert(a.forall(m => m.width >= 64 && m.height >= 64))
    assert(a.forall(m => m.format == "png" || m.format == "jpeg"))
  }

  test("real image headers decode to true dimensions (PNG IHDR / JPEG SOFn / GIF)") {
    // minimal PNG: 8-byte signature + IHDR chunk header + w=320, h=240
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0x00, 0x00, 0x0D, 'I', 'H', 'D', 'R',
      0x00, 0x00, 0x01, 0x40, // width 320 (BE)
      0x00, 0x00, 0x00, 0xF0  // height 240 (BE)
    ).map(_.toByte)
    assert(ImageHeaders.decode(png).contains((320, 240, "png")))
    // JPEG: SOI, APP0 segment, then SOF0 with h=240, w=320
    val jpeg = Array[Int](
      0xFF, 0xD8,
      0xFF, 0xE0, 0x00, 0x04, 0x4A, 0x46, // APP0, len 4
      0xFF, 0xC0, 0x00, 0x11, 0x08, 0x00, 0xF0, 0x01, 0x40
    ).map(_.toByte)
    assert(ImageHeaders.decode(jpeg).contains((320, 240, "jpeg")))
    // GIF89a: little-endian u16 dims at offsets 6/8
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x40, 0x01, 0xF0, 0x00, 0x00, 0x00).map(_.toByte))
    assert(ImageHeaders.decode(gif).contains((320, 240, "gif")))
    // non-image bytes fall back to the deterministic stub
    assert(ImageHeaders.decode("plain text".getBytes).isEmpty)
    val (w, h, fmt, _) = StubDecoders.decodeImageMeta(png)
    assert((w, h, fmt) == (320, 240, "png"))
  }

  test("decodeImages surfaces real header dimensions through the pipeline") {
    import spark.implicits._
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0x00, 0x00, 0x00, 0x0D, 'I', 'H', 'D', 'R',
      0x00, 0x00, 0x02, 0x00, // width 512
      0x00, 0x00, 0x01, 0x00  // height 256
    ).map(_.toByte)
    val media = Seq((1L, png, "image/png", png.length.toLong))
      .toDF("media_id", "payload", "media_type", "byte_len")
    val out = Multimodal.decodeImages(media).collect()
    assert(out.length == 1)
    assert(out.head.width == 512 && out.head.height == 256 && out.head.format == "png")
  }

  test("real WAV headers decode to true sample rate / channels / duration") {
    import spark.implicits._
    // canonical 44-byte WAV header + 1 second of silence: 16 kHz mono
    // 16-bit → byteRate 32000, data 32000 bytes → duration 1000 ms
    val sampleRate = 16000
    val channels = 1
    val bits = 16
    val byteRate = sampleRate * channels * bits / 8
    val dataLen = byteRate // exactly one second
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(byteRate).putShort((channels * bits / 8).toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    val wav = bb.array()
    val media = Seq((7L, wav, "audio/wav", wav.length.toLong))
      .toDF("media_id", "payload", "media_type", "byte_len")
    val out = Multimodal.decodeAudio(media).collect()
    assert(out.length == 1)
    val m = out.head
    assert(m.format == "wav" && m.sample_rate == 16000 && m.channels == 1)
    assert(m.bits == 16 && m.duration_ms == 1000L)
    // non-WAV payloads take the deterministic stub path
    val stub = Multimodal.decodeAudio(
      Seq((8L, "not audio".getBytes, "audio/x", 9L))
        .toDF("media_id", "payload", "media_type", "byte_len")).collect().head
    assert(stub.format == "pcm_stub" && stub.sample_rate > 0)
  }

  test("corrupt WAV chunk sizes bail to None instead of looping forever") {
    // chunk size near u32 max: the old walker's `i += 8 + size.toInt` step
    // went negative/zero and the loop never advanced (task hang)
    def wavWithChunkSize(size: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(16)
        .put("WAVE".getBytes("US-ASCII"))
        .put("junk".getBytes("US-ASCII")).putInt(size.toInt)
      bb.array()
    }
    for (bad <- Seq(0xFFFFFFF8L, 0xFFFFFFFFL, 0x7FFFFFFFL, 1000L))
      assert(AudioHeaders.wav(wavWithChunkSize(bad)).isEmpty,
        s"chunk size $bad must not hang or decode")
    // a truncated trailing data chunk (streamed writes / 0xFFFFFFFF
    // unknown-length sentinel) still decodes, but duration counts only
    // the bytes actually PRESENT — never the declared size
    def truncatedWav(declared: Int, present: Int): Option[(Int, Int, Int, Long)] = {
      val bb = java.nio.ByteBuffer.allocate(44 + present)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + declared)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(16000).putInt(32000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(declared)
      AudioHeaders.wav(bb.array())
    }
    // declared 32000 bytes but only 16000 present → 500 ms, not 1000
    assert(truncatedWav(32000, 16000).contains((16000, 1, 16, 500L)))
    // streaming sentinel with no data bytes → duration 0, not ~37 hours
    assert(truncatedWav(0xFFFFFFFF, 0).contains((16000, 1, 16, 0L)))
  }

  test("frame sampling yields ceil(len/chunk) strided frames with bounded size") {
    val media = Multimodal.asMedia(Tables.documents(spark, sfDir), "doc_id", "text", "video/fake")
    val frames = Multimodal.sampleFrames(media, chunkSize = 50, stride = 2)
    val byDoc = frames.groupBy("media_id").agg(count(lit(1)).as("n"))
      .join(media.select(col("media_id"), col("byte_len")), "media_id")
      .collect()
    byDoc.foreach { r =>
      val expected = (math.ceil(r.getAs[Long]("byte_len") / 50.0).toLong + 1) / 2
      assert(r.getAs[Long]("n") == math.max(expected, 1L))
    }
    assert(frames.select(max(length(col("frame_bytes")))).head().getInt(0) <= 50)
  }

  test("resize stage emits size-faithful payloads, deterministic across partitionings") {
    val media = Multimodal.asMedia(Tables.documents(spark, sfDir), "doc_id", "text", "image/fake")
    val out = Multimodal.resizeImages(media, 32, 16).toDF()
    val lens = out.select(length(col("payload")).as("len")).distinct().collect()
    assert(lens.map(_.getInt(0)).toSeq == Seq(32 * 16)) // exactly w*h bytes each
    val a = out.orderBy("media_id").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](3).toSeq))
    val b = Multimodal.resizeImages(media.repartition(7), 32, 16).toDF()
      .orderBy("media_id").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](3).toSeq))
    assert(a.toSeq == b.toSeq)
  }

  test("perceptual hash: region edits flip proportional bits; blocking finds the planted pair") {
    // structured bimodal payloads — each 64-byte slice is all-0 or all-255,
    // so slice means sit far from the global mean and the hash is exactly
    // the slice pattern (no borderline bits). Editing k whole slices
    // flips exactly k bits: the distance semantics the operator promises.
    def payload(pattern: Long): Array[Byte] = {
      val out = new Array[Byte](64 * 64)
      var b = 0
      while (b < 64) {
        val v: Byte = if (((pattern >> b) & 1L) == 1L) 0xFF.toByte else 0x00
        java.util.Arrays.fill(out, b * 64, (b + 1) * 64, v)
        b += 1
      }
      out
    }
    val base = 0x5A5A5A5A5A5A5A5AL
    val near = base ^ 0x6L        // 2 slices rewritten
    val far = ~base               // every slice rewritten
    assert(graft.ext.StubDecoders.perceptualHash(payload(base)) == base)
    assert(java.lang.Long.bitCount(
      graft.ext.StubDecoders.perceptualHash(payload(base)) ^
        graft.ext.StubDecoders.perceptualHash(payload(near))) == 2)
    assert(graft.ext.StubDecoders.perceptualHash(Array.emptyByteArray) == 0L)
    import spark.implicits._
    val media = Seq(
      (0L, payload(base)), (1L, payload(near)), (2L, payload(far)))
      .toDF("media_id", "payload")
    val pairs = Multimodal.nearDupImages(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((0L, 1L, 2)))
    // determinism across partitionings (the decode-stage contract)
    val again = Multimodal.perceptualHashes(media.repartition(7)).collect()
      .map(f => f.media_id -> f.phash).toMap
    assert(again == Map(0L -> base, 1L -> near, 2L -> far))
  }

  test("oriented pairing finds rotated+noise copies at the exact orbit distance") {
    // grid-aligned 16x16 PNGs (2x2 blocks at 0/255): aHash bits are
    // blocks, so flipping k blocks on the rotated copy plants a pair at
    // orbit distance exactly k — the case the canonical-min hash cannot
    // serve stably under perturbation
    def gridPng(h: Long): Array[Byte] = {
      val px = new Array[Byte](256)
      for (y <- 0 until 16; x <- 0 until 16)
        px(y * 16 + x) =
          if (((h >>> ((y / 2) * 8 + x / 2)) & 1L) == 1L) 0xFF.toByte else 0
      Png.encode(Png.Image(16, 16, 1, px))
    }
    val base = (0x9E3779B97F4A7C15L | 1L) & ~(1L << 63)
    val rotNoisy = {
      val img = Png.decodeAny(gridPng(base)).get
      val rot = Png.rotate90(img)
      for (cell <- Seq((1, 1), (1, 2), (1, 3)); dy <- 0 until 2; dx <- 0 until 2) {
        val p = (cell._1 * 2 + dy) * 16 + (cell._2 * 2 + dx)
        rot.pixels(p) = (~rot.pixels(p)).toByte
      }
      Png.encode(rot)
    }
    import spark.implicits._
    val media = Seq(
      (0L, gridPng(base)),
      (1L, rotNoisy),
      (2L, gridPng((~base | 1L) & ~(1L << 63)))) // unrelated control
      .toDF("media_id", "payload")
    val pairs = Multimodal.nearDupImagesOriented(media, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((0L, 1L, 3)), s"got $pairs")
    // the exact-rotation case still pairs at 0 through the oriented path
    val exact = Seq(
      (0L, gridPng(base)),
      (1L, Png.encode(Png.rotate90(Png.decodeAny(gridPng(base)).get))))
      .toDF("media_id", "payload")
    val p2 = Multimodal.nearDupImagesOriented(exact, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(p2 == Set((0L, 1L, 0)), s"got $p2")
  }

  test("duplicate orbit members (symmetric rasters) dedup locally — pair set unchanged") {
    // round-17: the exploded orbit table dedups per-image via
    // array_distinct instead of a post-explode .distinct() exchange. A
    // fully symmetric (uniform) raster is the extreme case: all 8
    // orientation hashes are EQUAL, so without per-image dedup the orbit
    // would band 8 identical (id, hash) rows. Two identical uniform
    // images must still pair exactly once at distance 0, and a distinct
    // control must stay unpaired.
    import spark.implicits._
    def flatPng(v: Byte): Array[Byte] =
      Png.encode(Png.Image(16, 16, 1, Array.fill(256)(v)))
    // structured control (a uniform raster of ANY shade hashes to 0L —
    // cell*64 > total is false everywhere — so a flat control would pair)
    val gridCtl = {
      val h = (0x9E3779B97F4A7C15L | 1L) & ~(1L << 63)
      val px = new Array[Byte](256)
      for (y <- 0 until 16; x <- 0 until 16)
        px(y * 16 + x) =
          if (((h >>> ((y / 2) * 8 + x / 2)) & 1L) == 1L) 0xFF.toByte else 0
      Png.encode(Png.Image(16, 16, 1, px))
    }
    val media = Seq(
      (0L, flatPng(0xFF.toByte)),
      (1L, flatPng(0xFF.toByte)),
      (2L, gridCtl))
      .toDF("media_id", "payload")
    val pairs = Multimodal.nearDupImagesOriented(media, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((0L, 1L, 0)), s"got $pairs")
  }

  test("wave-split banding (maxResidentSubsets) yields the identical pair set") {
    // 60 synthetic orbits with planted twins at several Hamming distances:
    // the 1-pass and every wave split of the 21 block subsets must agree
    // EXACTLY — a pair is a candidate iff it shares any one subset band,
    // so the union of wave candidates is the single-pass candidate set
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val orbits = (0L until 60L).flatMap { id =>
      val base = mix(id)
      val orbit = Array.tabulate(8)(j => if (j == 0) base else mix(base + j))
      val rows = scala.collection.mutable.ArrayBuffer((id, orbit))
      if (id % 7 == 0) {
        val flips = (id % 5 + 1).toInt // 1..5 bits on one orbit member
        val twin = Array.tabulate(8)(j =>
          if (j == (id % 8).toInt) base ^ ((1L << flips) - 1)
          else mix(base * 13 + j))
        rows += ((id + 1000, twin))
      }
      rows.toSeq
    }.toDF("media_id", "orbit")
    def run(waves: Int): Set[(Long, Long, Int)] =
      Multimodal.orientedPairsFromOrbits(orbits, 5, 7, waves)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val onePass = run(0)
    assert(onePass.nonEmpty)
    assert(run(11) == onePass, "2-wave split changed the pair set")
    assert(run(7) == onePass, "3-wave split changed the pair set")
    assert(run(1) == onePass, "per-subset waves changed the pair set")
  }

  test("feature extraction emits unit-norm vectors that plug into the similarity family") {
    val media = Multimodal.asMedia(Tables.documents(spark, sfDir), "doc_id", "text", "image/fake")
    val emb = Multimodal.extractFeatures(media, dim = 16)
    assert(emb.columns.toSeq == Seq("media_id", "embedding"))
    val norms = emb.select(
      graft.functions.functions.dot_product(col("embedding"), col("embedding")).as("n2"))
      .collect().map(_.getDouble(0))
    norms.foreach(n2 => assert(math.abs(n2 - 1.0) < 1e-3, s"not unit-norm: $n2"))
    // the output column drives vector search directly
    val q = emb.limit(1).select("embedding")
    val top = graft.ext.Similarity
      .bruteForceScoresLazy(emb, "media_id", "embedding", q, "embedding")
      .orderBy(col("score").desc, col("media_id")).limit(3)
    assert(top.count() == 3)
  }

  test("sampleFramesReal extracts real animated-GIF frames, re-encoded as PNG") {
    import spark.implicits._
    System.setProperty("java.awt.headless", "true")
    // a genuine 5-frame animated GIF written by the JDK's own encoder:
    // frame f is a solid gray of value 40f+20 (exact in a GIF palette)
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until 5) {
      val bi = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val v = 40 * f + 20
      for (y <- 0 until 6; x <- 0 until 8) bi.setRGB(x, y, (v << 16) | (v << 8) | v)
      writer.writeToSequence(
        new javax.imageio.IIOImage(bi, null, null), writer.getDefaultWriteParam)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = bos.toByteArray

    val media = Seq((1L, gif), (2L, "not media at all".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val frames = Multimodal.sampleFramesReal(media, stride = 2)
      .collect().sortBy(f => (f.media_id, f.frame_no))
    // GIF: every 2nd frame; opaque text payload: skipped entirely
    assert(frames.map(f => (f.media_id, f.frame_no)).toSeq ==
      Seq((1L, 0), (1L, 2), (1L, 4)))
    frames.foreach { fr =>
      val img = Png.decode(fr.frame_png)
      assert(img.isDefined && img.get.width == 8 && img.get.height == 6)
      val v = 40 * fr.frame_no + 20
      assert((img.get.pixels(0) & 0xFF) == v,
        s"frame ${fr.frame_no}: ${img.get.pixels(0) & 0xFF} != $v")
    }
    // a single-frame PNG payload yields exactly frame 0 via the codec
    val png = Png.encode(Png.Image(4, 4, 1, Array.fill(16)(7.toByte)))
    val one = Multimodal.sampleFramesReal(
      Seq((3L, png)).toDF("media_id", "payload"), stride = 1).collect()
    assert(one.length == 1 && one(0).frame_no == 0 && one(0).width == 4)
  }

  /** Minimal RIFF AVI writer for the video-arm tests: movi-only fixture
    * with `00dc` MJPEG chunks (and optional `rec ` grouping) — an
    * independent construction from the parser under test.
    */
  private def buildAvi(frames: Seq[Array[Byte]], recGroup: Boolean): Array[Byte] = {
    def le32(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte,
      (v >>> 16).toByte, (v >>> 24).toByte)
    def chunks(fs: Seq[Array[Byte]]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      fs.foreach { j =>
        o.write("00dc".getBytes("US-ASCII")); o.write(le32(j.length))
        o.write(j); if ((j.length & 1) == 1) o.write(0)
      }
      o.toByteArray
    }
    val movi = new java.io.ByteArrayOutputStream()
    movi.write("movi".getBytes("US-ASCII"))
    if (recGroup) {
      // first two frames wrapped in a LIST 'rec ' group, rest bare
      val rec = "rec ".getBytes("US-ASCII") ++ chunks(frames.take(2))
      movi.write("LIST".getBytes("US-ASCII")); movi.write(le32(rec.length))
      movi.write(rec)
      movi.write(chunks(frames.drop(2)))
    } else movi.write(chunks(frames))
    val m = movi.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII")); out.write(le32(4 + 8 + m.length))
    out.write("AVI ".getBytes("US-ASCII"))
    out.write("LIST".getBytes("US-ASCII")); out.write(le32(m.length))
    out.write(m)
    out.toByteArray
  }

  private def solidJpeg(v: Int, w: Int = 16, h: Int = 16): Array[Byte] = {
    System.setProperty("java.awt.headless", "true")
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, (v << 16) | (v << 8) | v)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), p)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("sampleFramesReal walks AVI/MJPEG containers, rec-grouped or flat") {
    import spark.implicits._
    // solid 8x8-aligned frames roundtrip JPEG exactly at q=1.0
    val vals = Seq(30, 90, 150, 210, 250)
    val flat = buildAvi(vals.map(solidJpeg(_)), recGroup = false)
    val grouped = buildAvi(vals.map(solidJpeg(_)), recGroup = true)
    for ((avi, tag) <- Seq((flat, "flat"), (grouped, "rec"))) {
      val frames = Multimodal.sampleFramesReal(
        Seq((1L, avi)).toDF("media_id", "payload"), stride = 2)
        .collect().sortBy(_.frame_no)
      assert(frames.map(_.frame_no).toSeq == Seq(0, 2, 4), s"$tag")
      frames.foreach { fr =>
        val img = Png.decode(fr.frame_png).get
        assert(img.width == 16 && img.height == 16, s"$tag")
        assert((img.pixels(0) & 0xFF) == vals(fr.frame_no),
          s"$tag frame ${fr.frame_no}")
      }
    }
    // truncated container: decodes the frames that fit, never crashes
    val cut = flat.take(flat.length / 2)
    Multimodal.sampleFramesReal(
      Seq((2L, cut)).toDF("media_id", "payload"), stride = 1).collect()
    // a RIFF WAVE (not AVI) is not treated as video
    val wav = new Array[Byte](44)
    "RIFF".getBytes.copyToArray(wav, 0); "WAVE".getBytes.copyToArray(wav, 8)
    val res = Multimodal.sampleFramesReal(
      Seq((3L, wav)).toDF("media_id", "payload"), stride = 1).collect()
    assert(res.isEmpty)
  }

  test("sniffFormat edges: null, short, ambiguity order, weak MPEG sync") {
    assert(Multimodal.sniffFormat(null) == "unknown")
    assert(Multimodal.sniffFormat(Array[Byte](1, 2)) == "unknown")
    // RIFF splits on the form type, not the container magic
    val wavB = "RIFF????WAVE".getBytes
    val aviB = "RIFF????AVI ".getBytes
    assert(Multimodal.sniffFormat(wavB) == "wav")
    assert(Multimodal.sniffFormat(aviB) == "avi")
    // a lone MPEG sync word is NOT mpeg_audio (chained-frame rule)
    val lone = new Array[Byte](417)
    lone(0) = 0xFF.toByte; lone(1) = 0xFB.toByte; lone(2) = 0x90.toByte
    assert(Multimodal.sniffFormat(lone) == "unknown")
    assert(Multimodal.sniffFormat(lone ++ lone) == "mpeg_audio")
    // gzip beats zip-like suffixes; PK alone is zip
    assert(Multimodal.sniffFormat(Array[Byte](0x1F, 0x8B.toByte, 8, 0)) == "gzip")
    assert(Multimodal.sniffFormat("PKrest".getBytes) == "zip")
    // compression families named at triage (no pure-JVM decode arms)
    assert(Multimodal.sniffFormat(
      Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte, 0)) == "zstd")
    assert(Multimodal.sniffFormat(
      Array[Byte](0xFD.toByte, '7', 'z', 'X', 'Z', 0)) == "xz")
    assert(Multimodal.sniffFormat("BZh91AY".getBytes) == "bzip2")
    assert(Multimodal.sniffFormat("BZhX56789".getBytes) == "unknown") // bad level
    assert(Multimodal.sniffFormat("7z".getBytes ++
      Array[Byte](0xBC.toByte, 0xAF.toByte, 0x27, 0x1C)) == "7z")
    // a bare '7z' prefix without the signature tail is not 7z
    assert(Multimodal.sniffFormat("7zfakery".getBytes) == "unknown")
    // round-12 codec families: lz4 frame, framed snappy, Unix .Z, and
    // the weak lzma-alone magic (checked dead last, sanity-gated)
    assert(Multimodal.sniffFormat(
      Array[Byte](0x04, 0x22, 0x4D, 0x18, 0)) == "lz4")
    assert(Multimodal.sniffFormat(Array[Byte](0xFF.toByte, 0x06, 0, 0) ++
      "sNaPpY".getBytes) == "snappy")
    assert(Multimodal.sniffFormat(
      Array[Byte](0x1F, 0x9D.toByte, 0x89.toByte, 0)) == "z")
    assert(Multimodal.sniffFormat(graft.ext.Codecs.lzma("x".getBytes)) == "lzma")
    // lzma must NOT fire on zero/oversized dict or bad size high byte
    assert(Multimodal.sniffFormat(
      Array[Byte](93, 0, 0, 0, 0, 1, 2, 3, 4, 5, 6, 7, 8)) == "unknown")
    assert(Multimodal.sniffFormat(
      Array[Byte](93, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 9)) == "unknown")
    // round-12b document/interchange families
    assert(Multimodal.sniffFormat("Obj".getBytes ++ Array[Byte](1, 0)) == "avro")
    assert(Multimodal.sniffFormat("Objx".getBytes) == "unknown") // bad version
    assert(Multimodal.sniffFormat("{\\rtf1\\ansi hello}".getBytes) == "rtf")
    assert(Multimodal.sniffFormat("From x@y Thu Jan 15\nSubject: s\n\nb".getBytes) == "mbox")
    assert(Multimodal.sniffFormat("Return-Path: <x@y>\n\nbody".getBytes) == "eml")
    assert(Multimodal.sniffFormat("MIME-Version: 1.0\n\nbody".getBytes) == "eml")
    // an EPUB's stored-first-member mimetype refines the zip family; a
    // plain office zip stays zip
    val epub = Epub.build("T", Seq(("c.xhtml", "<html><body><p>x</p></body></html>")))
    assert(Multimodal.sniffFormat(epub) == "epub")
    val docx = Zip.build(Seq(("word/document.xml", "<w/>".getBytes, true)))
    assert(Multimodal.sniffFormat(docx) == "zip")
  }
}
