package graft.ext

import org.scalatest.funsuite.AnyFunSuite

class CodecsSpec extends AnyFunSuite {

  private val payload =
    ("the quick brown fox jumps over the lazy dog " * 4000).getBytes("UTF-8")

  test("detect routes the eight stream-codec magics and rejects the rest") {
    assert(Codecs.detect(Codecs.gzip(payload)) == "gzip")
    assert(Codecs.detect(Codecs.zstd(payload)) == "zstd")
    assert(Codecs.detect(Codecs.xz(payload)) == "xz")
    assert(Codecs.detect(Codecs.bzip2(payload)) == "bzip2")
    assert(Codecs.detect(Codecs.lz4(payload)) == "lz4")
    assert(Codecs.detect(Codecs.snappy(payload)) == "snappy")
    assert(Codecs.detect(Codecs.lzma(payload)) == "lzma")
    assert(Codecs.detect(Codecs.zCompress(payload)) == "z")
    assert(Codecs.detect(payload) == "none")
    assert(Codecs.detect(null) == "none")
    assert(Codecs.detect(Array[Byte](0x28, -0x4B)) == "none") // short zstd
    // lzma's weak magic must NOT fire on plausible binary noise: zero
    // dict, over-large dict, bad props, or a nonsense size high byte
    assert(Codecs.detect(Array[Byte](93, 0, 0, 0, 0, 1, 2, 3, 4, 5, 6, 7, 8)) == "none")
    assert(Codecs.detect(Array[Byte](93, 0, 0, 0, 0x7F, 1, 2, 3, 4, 5, 6, 7, 8)) == "none")
    assert(Codecs.detect(Array[Byte](-31, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0)) == "none")
    assert(Codecs.detect(Array[Byte](93, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 9)) == "none")
  }

  test("round-trip through every arm, one-shot and chunked") {
    for (c <- Seq(Codecs.gzip(payload), Codecs.zstd(payload),
        Codecs.xz(payload), Codecs.bzip2(payload), Codecs.lz4(payload),
        Codecs.snappy(payload), Codecs.lzma(payload),
        Codecs.zCompress(payload))) {
      assert(java.util.Arrays.equals(Codecs.decompress(c), payload))
      val slabs = Codecs.chunks(c, 4096).toSeq
      assert(slabs.forall(_.length <= 4096))
      assert(java.util.Arrays.equals(slabs.toArray.flatten, payload))
    }
  }

  test(".Z fixtures exercise every byte value and the frozen-table tail") {
    // all 256 byte values + a long repetitive tail that overflows the
    // 9-bit table (nextCode hits 512 and freezes) — the decoder must
    // track the same freeze
    val b = (Array.tabulate(256)(_.toByte) ++
      Array.fill(50000)("abcab".getBytes("UTF-8")).flatten)
    assert(java.util.Arrays.equals(Codecs.decompress(Codecs.zCompress(b)), b))
    // empty input is a legal (header-only) stream
    assert(Codecs.decompress(Codecs.zCompress(Array.emptyByteArray)).isEmpty)
    // single byte
    assert(java.util.Arrays.equals(
      Codecs.decompress(Codecs.zCompress(Array[Byte](42))), Array[Byte](42)))
  }

  test("identity arm: uncompressed blobs pass through untouched") {
    assert(java.util.Arrays.equals(Codecs.decompress(payload), payload))
    assert(Codecs.decompress(Array.emptyByteArray).isEmpty)
    assert(Codecs.decompress(null).isEmpty)
  }

  test("concatenated frames/streams decode across the joins (the appended-shard shape)") {
    val a = "alpha line\n".getBytes("UTF-8")
    val b = "beta line\n".getBytes("UTF-8")
    val c = "gamma line\n".getBytes("UTF-8")
    val whole = a ++ b ++ c
    // multi-frame zstd (one frame per append)
    assert(java.util.Arrays.equals(
      Codecs.decompress(Codecs.zstdFrames(Seq(a, b, c))), whole))
    // concatenated gzip members
    assert(java.util.Arrays.equals(
      Codecs.decompress(Codecs.gzip(a) ++ Codecs.gzip(b) ++ Codecs.gzip(c)), whole))
    // concatenated xz streams
    assert(java.util.Arrays.equals(
      Codecs.decompress(Codecs.xz(a) ++ Codecs.xz(b) ++ Codecs.xz(c)), whole))
    // concatenated bzip2 streams
    assert(java.util.Arrays.equals(
      Codecs.decompress(Codecs.bzip2(a) ++ Codecs.bzip2(b) ++ Codecs.bzip2(c)), whole))
    // concatenated lz4 frames
    assert(java.util.Arrays.equals(
      Codecs.decompress(Codecs.lz4(a) ++ Codecs.lz4(b) ++ Codecs.lz4(c)), whole))
    // appended framed-snappy shards (each shard leads with its own
    // stream-identifier chunk — legal mid-stream per the framing spec)
    assert(java.util.Arrays.equals(
      Codecs.decompress(Codecs.snappy(a) ++ Codecs.snappy(b) ++ Codecs.snappy(c)), whole))
  }

  test("zstd skippable frames (seekable-zstd seek tables) are skipped") {
    // RFC 8878 §3.1.2: magic 0x184D2A50..5F + LE32 size + opaque data
    val skip = Array[Byte](0x50, 0x2A, 0x4D, 0x18, 8, 0, 0, 0) ++
      Array.fill[Byte](8)(0x7F)
    val a = "visible".getBytes("UTF-8")
    val blob = Codecs.zstd(a) ++ skip ++ Codecs.zstd(a)
    assert(new String(Codecs.decompress(blob), "UTF-8") == "visiblevisible")
  }

  test("truncated / corrupt streams cut short, never throw") {
    for (c <- Seq(Codecs.zstd(payload), Codecs.xz(payload), Codecs.bzip2(payload),
        Codecs.lz4(payload), Codecs.snappy(payload), Codecs.lzma(payload),
        Codecs.zCompress(payload))) {
      val trunc = java.util.Arrays.copyOf(c, c.length / 2)
      val got = Codecs.decompress(trunc) // prefix of payload or empty — no throw
      assert(got.length <= payload.length)
      assert(java.util.Arrays.equals(got,
        java.util.Arrays.copyOf(payload, got.length)))
      val corrupt = c.clone()
      corrupt(c.length / 2) = (corrupt(c.length / 2) ^ 0x55).toByte
      Codecs.decompress(corrupt) // must not throw
    }
  }

  test("decompress cap bounds an adversarial bomb") {
    val bomb = Codecs.zstd(new Array[Byte](32 << 20)) // 32 MiB of zeros, tiny frame
    assert(bomb.length < 64 * 1024)
    assert(Codecs.decompress(bomb, cap = 1 << 16).length == (1 << 16))
  }

  // ---- gzip slabs: chunks/decompress against GZIPInputStream ---------

  /** Everything `GZIPInputStream` (the arm [[Codecs.stream]] routes gzip
    * to) delivers before it ends or throws, read `step` bytes at a time.
    */
  private def gunzip(b: Array[Byte], step: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    try {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b), 64 * 1024)
      val buf = new Array[Byte](step)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    } catch { case _: java.io.IOException => }
    out.toByteArray
  }

  /** The earlier slab walk: one full `chunkSize` array per slab. */
  private def fullSlabDecompress(b: Array[Byte], chunkSize: Int = 1 << 20): Array[Byte] = {
    val in = Codecs.stream(b)
    val out = new java.io.ByteArrayOutputStream()
    var eof = false
    while (!eof) {
      val buf = new Array[Byte](chunkSize)
      var got = 0
      try {
        while (got < chunkSize && !eof) {
          val n = in.read(buf, got, chunkSize - got)
          if (n < 0) eof = true else got += n
        }
      } catch { case scala.util.control.NonFatal(_) => eof = true }
      out.write(buf, 0, got)
    }
    out.toByteArray
  }

  private val slabPayloads: Seq[Array[Byte]] = {
    val r = new scala.util.Random(8L)
    Seq(Array.emptyByteArray, "x".getBytes("UTF-8"), payload,
      Array.fill(100000)(r.nextInt(256).toByte),
      Array.tabulate(2500000)(i => ((i / 97) ^ (i % 13)).toByte))
  }

  test("decompress equals GZIPInputStream on valid, truncated, bit-flipped, trailing-garbage and concatenated gzip") {
    val members = slabPayloads.map(Codecs.gzip(_))
    val big = members.last
    assert(java.util.Arrays.equals(Codecs.decompress(big), slabPayloads.last))
    assert(java.util.Arrays.equals(Codecs.decompress(big ++ members(2)),
      slabPayloads.last ++ slabPayloads(2)))
    val concatenated = Seq(members(2) ++ members(3), members(1) ++ members(0) ++ members(2),
      members(3) ++ members(2).take(members(2).length / 2))
    for (c <- members.init ++ concatenated; (tag, b) <- damaged(c, from = 10)
         if Codecs.detect(b) == "gzip") {
      val ours = Codecs.decompress(b)
      // read a byte at a time, GZIPInputStream delivers every byte decoded
      // before the damage; on undamaged input the read size is immaterial
      val all = gunzip(b, if (tag.startsWith("flip")) 1 else 8192)
      if (tag.startsWith("flip")) {
        // damage ends the walk: what came before it is delivered, never
        // less than the full-slab walk delivered
        assert(java.util.Arrays.equals(ours, all.take(ours.length)), s"${c.length} $tag")
        assert(ours.length >= fullSlabDecompress(b).length, s"${c.length} $tag")
      } else {
        assert(java.util.Arrays.equals(ours, all), s"${c.length} $tag")
        assert(java.util.Arrays.equals(ours, fullSlabDecompress(b)), s"${c.length} $tag")
      }
    }
  }

  test("decompress cuts at cap exactly, at and around the slab edges") {
    val p = slabPayloads.last
    val c = Codecs.gzip(p)
    for (cap <- Seq(0L, 1L, 8191L, 8192L, 8193L, (1L << 20) - 1, 1L << 20, (1L << 20) + 1,
                    p.length - 1L, p.length.toLong, p.length + 1L)) {
      assert(java.util.Arrays.equals(Codecs.decompress(c, cap), p.take(cap.toInt)), s"cap=$cap")
    }
  }

  test("chunks emits full slabs of exactly chunkSize, then the tail") {
    for (p <- slabPayloads.take(4); size <- Seq(1, 100, 8191, 8192, 8193, 20000, 1 << 20)
         if size > 1 || p.length <= 100000) {
      val slabs = Codecs.chunks(Codecs.gzip(p), size).toSeq
      assert(slabs.dropRight(1).forall(_.length == size), s"len=${p.length} size=$size")
      assert(slabs.lastOption.forall(s => s.length >= 1 && s.length <= size))
      assert(java.util.Arrays.equals(slabs.toArray.flatten, p), s"len=${p.length} size=$size")
    }
  }

  // ---- deflate: the pooled helpers against the JDK's streams ---------

  private def zipDeflate(b: Array[Byte], zlib: Boolean,
      dict: Option[Array[Byte]] = None): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, !zlib)
    try {
      dict.foreach(d.setDictionary)
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** `InflaterInputStream` fed the whole input at once, read for
    * exactly `size` bytes — [[Codecs.inflateExact]]'s contract.
    */
  private def jdkExact(b: Array[Byte], size: Int, zlib: Boolean): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater(!zlib)
    try {
      val in = new java.util.zip.InflaterInputStream(
        new java.io.ByteArrayInputStream(b), inf, b.length + 1)
      Some(in.readNBytes(size)).filter(_.length == size)
    } catch { case _: java.io.IOException => None } finally inf.end()
  }

  /** `InflaterInputStream` read to the end of the stream, with the input
    * bytes it consumed; a stream that stops on a preset dictionary is a
    * failure — [[Codecs.inflateToEnd]]'s contract.
    */
  private def jdkToEnd(b: Array[Byte], zlib: Boolean): Option[(Seq[Byte], Int)] = {
    val inf = new java.util.zip.Inflater(!zlib)
    try {
      val in = new java.util.zip.InflaterInputStream(
        new java.io.ByteArrayInputStream(b), inf, b.length + 1)
      val out = in.readAllBytes()
      if (inf.finished()) Some((out.toSeq, b.length - inf.getRemaining)) else None
    } catch { case _: java.io.IOException => None } finally inf.end()
  }

  /** Valid, truncated at every `step`-th cut, bit-flipped at every
    * `step`-th byte, and trailing-garbage forms of one stream.
    */
  private def damaged(c: Array[Byte], from: Int = 0): Seq[(String, Array[Byte])] = {
    val step = math.max(1, c.length / 40)
    Seq("valid" -> c, "garbage" -> (c ++ "XYZ garbage".getBytes("ISO-8859-1"))) ++
      (0 until c.length by step).map(k => s"cut $k" -> c.take(k)) ++
      (from until c.length by step).flatMap { k =>
        Seq(0, 3, 7).map { bit =>
          val f = c.clone(); f(k) = (f(k) ^ (1 << bit)).toByte
          s"flip $k.$bit" -> f
        }
      }
  }

  private val inflatePayloads: Seq[Array[Byte]] = {
    val r = new scala.util.Random(20261019L)
    Seq(Array.emptyByteArray, "x".getBytes("UTF-8"), payload,
      Array.fill(100000)(r.nextInt(256).toByte), new Array[Byte](300000))
  }

  test("inflateExact equals InflaterInputStream read for the size, raw and zlib, on damaged input") {
    for (p <- inflatePayloads; zlib <- Seq(false, true); (tag, b) <- damaged(zipDeflate(p, zlib))) {
      for (size <- Seq(p.length, math.max(0, p.length - 1), p.length + 1)) {
        val ours = Codecs.inflateExact(b, 0, b.length, size, zlib)
        assert(ours.map(_.toSeq) == jdkExact(b, size, zlib).map(_.toSeq),
          s"len=${p.length} zlib=$zlib $tag size=$size")
      }
    }
    // an offset window reads only its slice
    val c = zipDeflate(payload, zlib = true)
    val framed = Array[Byte](9, 9, 9) ++ c ++ Array[Byte](9)
    assert(Codecs.inflateExact(framed, 3, c.length, payload.length, zlib = true)
      .exists(_.sameElements(payload)))
  }

  test("inflateToEnd equals InflaterInputStream read to the end, raw and zlib, on damaged input") {
    for (p <- inflatePayloads; zlib <- Seq(false, true); (tag, b) <- damaged(zipDeflate(p, zlib))) {
      val ours = Codecs.inflateToEnd(b, 0, b.length, zlib)
      assert(ours.map { case (o, n) => (o.toSeq, n) } == jdkToEnd(b, zlib),
        s"len=${p.length} zlib=$zlib $tag")
    }
  }

  /** inflateToEnd as it was before its output was sized from the input:
    * a fresh 64 KiB window copied into a 64 KiB `ByteArrayOutputStream`.
    */
  private def windowed64k(b: Array[Byte], off: Int, len: Int,
      zlib: Boolean): Option[(Seq[Byte], Int)] = {
    val inf = new java.util.zip.Inflater(!zlib)
    try {
      inf.setInput(b, off, len)
      val out = new java.io.ByteArrayOutputStream(64 * 1024)
      val buf = new Array[Byte](64 * 1024)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (!inf.finished() && (inf.needsInput() || inf.needsDictionary()))
          return None
      }
      Some((out.toByteArray.toSeq, len - inf.getRemaining))
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  test("inflateToEnd equals the 64 KiB-window form for outputs across its capacity steps") {
    // inflated sizes from empty through the 4 KiB floor, the 64 KiB cap
    // and several doublings past it, text-like and high-ratio, each
    // framed at an offset with trailing bytes after the stream
    val r = new scala.util.Random(901L)
    val sizes = Seq(0, 1, 300, 4095, 4096, 4097, 16384, 65535, 65536, 65537, 200000, 1 << 20)
    for (size <- sizes; zlib <- Seq(false, true);
         p <- Seq(Array.fill(size)("abcdefgh "(r.nextInt(9)).toByte), new Array[Byte](size))) {
      val c = zipDeflate(p, zlib)
      val framed = Array[Byte](7, 7) ++ c ++ Array.fill[Byte](9)(1)
      val ours = Codecs.inflateToEnd(framed, 2, framed.length - 2, zlib)
      assert(ours.map { case (o, n) => (o.toSeq, n) } == windowed64k(framed, 2, framed.length - 2, zlib),
        s"size=$size zlib=$zlib")
      assert(ours.exists { case (o, n) => o.sameElements(p) && n == c.length }, s"size=$size")
      // truncated, and cut one byte short: no stream end, so no output
      for (cut <- Seq(c.length / 2, c.length - 1) if cut >= 0) {
        assert(Codecs.inflateToEnd(c, 0, cut, zlib).isEmpty, s"size=$size cut=$cut")
        assert(windowed64k(c, 0, cut, zlib).isEmpty)
      }
    }
    // a corrupt block header (reserved block type 3) fails both forms
    val bad = Array[Byte](0x07, 0, 0)
    assert(Codecs.inflateToEnd(bad, 0, bad.length, zlib = false).isEmpty)
    assert(windowed64k(bad, 0, bad.length, zlib = false).isEmpty)
  }

  test("a zlib stream that needs a preset dictionary fails both inflates instead of spinning") {
    val c = zipDeflate(payload, zlib = true, dict = Some("quick brown".getBytes("UTF-8")))
    assert(((c(1) & 0xFF) & 0x20) != 0, "FDICT set")
    assert(Codecs.inflateExact(c, 0, c.length, payload.length, zlib = true).isEmpty)
    assert(Codecs.inflateToEnd(c, 0, c.length, zlib = true).isEmpty)
    assert(jdkToEnd(c, zlib = true).isEmpty)
  }

  test("gzip members through inflateToEnd plus the trailer check equal GZIPInputStream") {
    // one member as Codecs.gzip writes it: a 10-byte header, the raw
    // deflate stream, then CRC32 and ISIZE (Warc's member walk)
    def ours(m: Array[Byte]): Option[Seq[Byte]] =
      Codecs.inflateToEnd(m, 10, m.length - 10, zlib = false)
        .filter { case (out, n) =>
          val crc = new java.util.zip.CRC32(); crc.update(out)
          10 + n + 8 <= m.length && Bytes.le32u(m, 10 + n) == crc.getValue &&
            Bytes.le32u(m, 10 + n + 4) == (out.length & 0xFFFFFFFFL)
        }.map(_._1.toSeq)
    def jdk(m: Array[Byte]): Option[Seq[Byte]] =
      try Some(new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(m)).readAllBytes().toSeq)
      catch { case _: java.io.IOException => None }
    for (p <- inflatePayloads; (tag, m) <- damaged(Codecs.gzip(p), from = 10)
         if m.length >= 10) {
      assert(ours(m) == jdk(m), s"len=${p.length} $tag")
      if (tag == "valid" || tag == "garbage") assert(ours(m).contains(p.toSeq), tag)
    }
  }

  test("pooled Inflater: nested same-thread acquisition fails loudly") {
    // the pool holds ONE native Inflater per thread; a nested acquire
    // (e.g. an embedded deflate decode inside another inflate loop)
    // would silently clobber shared state — the guard must throw instead
    val inf = Codecs.pooledInflaterRaw.get().acquire()
    try {
      intercept[IllegalStateException] {
        Codecs.pooledInflaterRaw.get().acquire()
      }
      // the two pools are independent: zlib acquire still works
      Codecs.pooledInflaterZlib.get().acquire().reset()
    } finally inf.reset()
    // after reset the raw pool is reusable
    Codecs.pooledInflaterRaw.get().acquire().reset()
  }

  test("src/main runs no Deflater, Inflater or gzip writer outside Codecs") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    val banned = Seq(
      """\bnew\s+(java\.util\.zip\.)?(Deflater|Inflater|GZIPOutputStream)\b""".r,
      """\bextends\s+(java\.util\.zip\.)?(Deflater|Inflater)\b""".r,
      """\bThreadLocal\b.*(Deflater|Inflater)""".r,
      """\.(deflate|inflate)\(""".r)
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("ext/Codecs.scala")))
    val found = for {
      f <- files if !f.endsWith("ext/Codecs.scala")
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(_.findFirstIn(line).isDefined)
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }
}
