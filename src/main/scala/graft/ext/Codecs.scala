package graft.ext

/** Unified general-purpose compression envelope — the non-gzip stream
  * codecs modern LLM corpus distributions actually ship (RedPajama,
  * Dolma, FineWeb publish `.jsonl.zst`; software/source dumps ship
  * `.tar.xz`/`.tar.bz2`; fast-path shards ship `.tar.lz4` and framed
  * snappy; legacy dumps still carry `.lzma` and Unix-compress `.Z`).
  * The decoders are the ones ALREADY on the Spark classpath
  * (`/opt/spark/jars`): zstd-jni for zstd, org.tukaani xz for XZ/LZMA2
  * and lzma-alone, commons-compress for bzip2 / framed-lz4 /
  * framed-snappy / .Z — no new dependencies, just routing (this
  * replaces the older, incorrect "no JVM codec in the sandbox"
  * rationale that kept these families sniff-only).
  *
  * Reference analog: the byte-stream stage contract
  * (`/root/reference/index.js:14-27`) — any compressed stdin a shell
  * stage could pipe through `zstd -d`/`xz -d`/`bunzip2`, the engine
  * decodes natively inside the task.
  *
  * Memory contract (the same discipline as [[Warc]]'s gzip member walk
  * and [[Tar]]'s streaming pass): decoding is STREAMING — [[stream]]
  * wraps the blob in a decompressor `InputStream` that inflates in
  * bounded windows, and [[chunks]] walks the inflated form as bounded
  * slabs so a per-row blob whose inflated size exceeds the ~2 GiB
  * single-array JVM cap still flows through consumers that process
  * incrementally. [[decompress]] (one array out) exists for
  * RECORD-scale payloads only and cuts short at an explicit cap.
  *
  * Malformed input never throws past the envelope: a corrupt or
  * truncated stream ends the walk with everything decoded before the
  * damage (cut-short contract, uniform with every other parser arm).
  *
  * Deflate (RFC 1951, raw or RFC 1950 zlib-wrapped) lives here and only
  * here: [[compressDeflate]], [[inflateExact]] and [[inflateToEnd]] are
  * the one home of `java.util.zip`'s Deflater and Inflater for every
  * codec (ZIP method 8, PNG IDAT, PDF FlateDecode, `.warc.gz` members)
  * and fixture builder, and [[gzip]] is the one gzip-member writer.
  *
  * Pooling: each thread keeps one raw and one zlib Deflater and one raw
  * and one zlib Inflater, reset between uses and never `end()`ed. A
  * fresh instance per payload costs a native-buffer alloc/free that
  * dominates small-payload decodes and builds at millions of rows
  * (DocSoak's 6.4M diagnosis); the pool bounds native memory to four
  * instances per executor thread.
  *
  * NO-NESTING INVARIANT: each pool holds ONE instance per thread, so a
  * use must finish (the helpers reset in `finally`) before anything else
  * on the same thread takes the same pool. A nested use — decoding an
  * embedded deflate image while a PDF inflate loop is in flight — would
  * silently clobber shared native state and corrupt output.
  * [[PooledInflater.acquire]] enforces this loudly: the flag flips on
  * acquire and clears on `reset()`, so a nested acquire throws instead
  * of corrupting decodes. The helpers never call back into caller code
  * while they hold an instance.
  */
object Codecs {

  // ---- deflate: the pooled Deflater/Inflater home --------------------

  /** A per-thread pooled Inflater that refuses nested use (see the
    * object's no-nesting invariant).
    */
  private[ext] final class PooledInflater(raw: Boolean)
      extends java.util.zip.Inflater(raw) {
    private var inUse = false
    def acquire(): PooledInflater = {
      if (inUse)
        throw new IllegalStateException(
          "pooled Inflater acquired re-entrantly on this thread — " +
            "nested decode would clobber shared native state")
      inUse = true
      this
    }
    override def reset(): Unit = { inUse = false; super.reset() }
  }
  private[ext] val pooledInflaterRaw: ThreadLocal[PooledInflater] =
    ThreadLocal.withInitial(() => new PooledInflater(true))
  private[ext] val pooledInflaterZlib: ThreadLocal[PooledInflater] =
    ThreadLocal.withInitial(() => new PooledInflater(false))

  private val pooledDeflaterRaw: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() =>
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true))
  private val pooledDeflaterZlib: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() =>
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION))

  private def acquireInflater(zlib: Boolean): PooledInflater =
    (if (zlib) pooledInflaterZlib else pooledInflaterRaw).get().acquire()

  /** Deflate `b` at the default level on this thread's pooled Deflater:
    * raw (ZIP method 8) or zlib-wrapped (PNG IDAT, PDF FlateDecode). The
    * bytes equal a fresh `Deflater` of the same form.
    */
  def compressDeflate(b: Array[Byte], zlib: Boolean): Array[Byte] = {
    val d = (if (zlib) pooledDeflaterZlib else pooledDeflaterRaw).get()
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.reset()
  }

  /** Inflate `b[off, off+len)` into an array of exactly `size` bytes —
    * the form whose container records the inflated size (ZIP method 8,
    * PNG IDAT). None when the stream ends, runs out of input or asks
    * for a preset dictionary before `size` bytes, or is corrupt
    * (`DataFormatException`); bytes past `size` are not read.
    */
  def inflateExact(b: Array[Byte], off: Int, len: Int, size: Int,
      zlib: Boolean): Option[Array[Byte]] = {
    val inf = acquireInflater(zlib)
    try {
      inf.setInput(b, off, len)
      val out = new Array[Byte](size)
      var got = 0
      while (got < size && !inf.finished()) {
        val n = inf.inflate(out, got, size - got)
        // truncated, or a preset dictionary no container here supplies
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        got += n
      }
      if (got == size) Some(out) else None
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.reset()
  }

  /** Inflate the one deflate stream starting at `b(off)` to its end —
    * the form whose container does not record the inflated size (PDF
    * FlateDecode, gzip members). Returns the inflated bytes and the
    * number of input bytes the stream consumed (its trailer, if any,
    * starts there), or None when the stream is truncated, corrupt or
    * needs a preset dictionary. The stream inflates straight into the
    * output array, which starts at four times `len`, clamped to 4–64 KiB
    * (a large `len`, such as the rest of a crawl file after a gzip
    * member's header, says little about one stream), and doubles whenever
    * it fills: a few-hundred-byte gzip member allocates 4 KiB, and a
    * high-ratio stream still inflates in a few calls. An output past the
    * largest array throws `OutOfMemoryError`.
    */
  def inflateToEnd(b: Array[Byte], off: Int, len: Int,
      zlib: Boolean): Option[(Array[Byte], Int)] = {
    val inf = acquireInflater(zlib)
    try {
      inf.setInput(b, off, len)
      var out = new Array[Byte](math.min(64 * 1024, math.max(4 * 1024, len.toLong * 4)).toInt)
      var got = 0
      while (!inf.finished()) {
        if (got == out.length) {
          if (got == MaxArray) throw new OutOfMemoryError("inflated stream exceeds the largest array")
          out = java.util.Arrays.copyOf(out, math.min(got.toLong * 2, MaxArray).toInt)
        }
        val n = inf.inflate(out, got, out.length - got)
        got += n
        if (n == 0 && !inf.finished() && (inf.needsInput() || inf.needsDictionary()))
          return None
      }
      Some((java.util.Arrays.copyOf(out, got), len - inf.getRemaining))
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.reset()
  }

  /** The largest array length the JVM allocates. */
  private val MaxArray = Int.MaxValue - 8

  /** Compression family by magic: "gzip" (RFC 1952 `1f 8b`), "zstd"
    * (RFC 8878 `28 b5 2f fd`), "xz" (`fd 37 7a 58 5a 00`), "bzip2"
    * (`BZh1`..`BZh9`), "lz4" (frame format `04 22 4d 18`), "snappy"
    * (framing-format stream identifier `ff 06 00 00 sNaPpY`), "z"
    * (Unix compress `1f 9d`), "lzma" (lzma-alone: props byte then
    * little-endian dict size — a WEAK magic, so it is checked LAST and
    * only with the 13-byte fixed header present, props < 9·5·5 = 225,
    * and a dict size that is a plausible power-of-two multiple of 64 KiB
    * — i.e. low two dict bytes zero, which every real encoder emits),
    * else "none". Specificity mirrors [[Multimodal.sniffFormat]] so
    * triage and decode route identically.
    */
  def detect(b: Array[Byte]): String = {
    if (b == null || b.length < 3) "none"
    else if ((b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B) "gzip"
    // .Z needs only its 2-byte magic + mode byte (a header-only stream
    // is the legal encoding of empty input)
    else if ((b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x9D) "z"
    else if (b.length < 4) "none"
    else if ((b(0) & 0xFF) == 0x28 && (b(1) & 0xFF) == 0xB5 &&
      (b(2) & 0xFF) == 0x2F && (b(3) & 0xFF) == 0xFD) "zstd"
    else if (b.length >= 6 && (b(0) & 0xFF) == 0xFD && b(1) == '7' &&
      b(2) == 'z' && b(3) == 'X' && b(4) == 'Z' && b(5) == 0) "xz"
    else if (b(0) == 'B' && b(1) == 'Z' && b(2) == 'h' &&
      b(3) >= '1' && b(3) <= '9') "bzip2"
    else if ((b(0) & 0xFF) == 0x04 && (b(1) & 0xFF) == 0x22 &&
      (b(2) & 0xFF) == 0x4D && (b(3) & 0xFF) == 0x18) "lz4"
    else if (b.length >= 10 && (b(0) & 0xFF) == 0xFF && b(1) == 0x06 &&
      b(2) == 0 && b(3) == 0 && b(4) == 's' && b(5) == 'N' &&
      b(6) == 'a' && b(7) == 'P' && b(8) == 'p' && b(9) == 'Y') "snappy"
    else if (b.length >= 13 && (b(0) & 0xFF) < 225 && b(1) == 0 &&
      b(2) == 0 && (b(3) != 0 || b(4) != 0) && (b(4) & 0xFF) < 0x40 &&
      (b(12) == 0 || (b(12) & 0xFF) == 0xFF)) "lzma"
    else "none"
  }

  /** Is this blob in any stream-compression family the engine decodes? */
  def isCompressed(b: Array[Byte]): Boolean = detect(b) != "none"

  /** A decompressor `InputStream` over the blob, routed by magic; the
    * identity stream when the blob is not compressed. The append-style
    * arms decode CONCATENATED streams/frames/members (how corpus shards
    * are appended in practice): multi-member gzip, multi-frame zstd
    * (including skippable frames — the seekable-zstd seek table),
    * concatenated xz streams with padding, concatenated bzip2 streams,
    * concatenated lz4 frames, and framed snappy (whose repeated
    * stream-identifier chunks are legal mid-stream, so appended shards
    * are one valid stream by construction). lzma-alone and .Z are
    * single-stream formats by spec — no concatenation to honor.
    * Construction failures (e.g. a truncated fixed header) yield an
    * empty stream — the caller's walk just ends.
    */
  def stream(b: Array[Byte]): java.io.InputStream = {
    val raw = new java.io.ByteArrayInputStream(
      if (b == null) Array.emptyByteArray else b)
    try {
      detect(b) match {
        case "gzip" => new java.util.zip.GZIPInputStream(raw, 64 * 1024)
        case "zstd" => new com.github.luben.zstd.ZstdInputStream(raw)
        case "xz"   => new org.tukaani.xz.XZInputStream(raw)
        case "bzip2" =>
          new org.apache.commons.compress.compressors.bzip2
            .BZip2CompressorInputStream(raw, true)
        case "lz4" =>
          new org.apache.commons.compress.compressors.lz4
            .FramedLZ4CompressorInputStream(raw, true)
        case "snappy" =>
          new org.apache.commons.compress.compressors.snappy
            .FramedSnappyCompressorInputStream(raw)
        case "lzma" =>
          new org.apache.commons.compress.compressors.lzma
            .LZMACompressorInputStream(raw)
        case "z" =>
          new org.apache.commons.compress.compressors.z
            .ZCompressorInputStream(raw)
        case _ => raw
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        new java.io.ByteArrayInputStream(Array.emptyByteArray)
    }
  }

  /** Walk the INFLATED form of a blob as bounded slabs — the member-walk
    * analog for codecs whose frame boundaries are opaque to the
    * container above them ([[Warc]] records over `.warc.zst`,
    * ndjson over `.jsonl.zst`). Heap high-water mark is the compressed
    * blob + one slab + the decompressor's window, regardless of total
    * inflated size. A corrupt/truncated stream ends the walk with every
    * complete slab before it (cut-short); the decoder's own buffered
    * tail bytes before the damage are delivered first.
    *
    * Every slab but the last is exactly `chunkSize` bytes. Each slab is
    * read into a buffer that starts at 8 KiB and doubles up to
    * `chunkSize`, so a record-scale blob never pays for a full slab: a
    * fresh 1 MiB array per slab made [[decompress]] of a ~340-byte
    * two-member WARC gzip blob cost ~140 µs, against ~20 µs this way.
    */
  def chunks(b: Array[Byte], chunkSize: Int = 4 << 20): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private val in = stream(b)
      private var nxt: Array[Byte] = null
      private var done = false
      def hasNext: Boolean = {
        if (nxt == null && !done) {
          var buf = new Array[Byte](math.min(chunkSize, 8192))
          var got = 0
          var eof = false
          try {
            while (got < chunkSize && !eof) {
              if (got == buf.length)
                buf = java.util.Arrays.copyOf(buf, math.min(chunkSize.toLong, 2L * got).toInt)
              val n = in.read(buf, got, buf.length - got)
              if (n < 0) eof = true else got += n
            }
          } catch { case scala.util.control.NonFatal(_) => eof = true }
          if (eof) { done = true; try in.close() catch { case _: Throwable => } }
          if (got > 0)
            nxt = if (got == buf.length) buf else java.util.Arrays.copyOf(buf, got)
        }
        nxt != null
      }
      def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException("codec chunk")
        val r = nxt; nxt = null; r
      }
    }

  /** One-shot decompress for RECORD-scale payloads (an HTTP body, a
    * compressed cell) — NOT for the ~1 GB-per-row crawl landing, which
    * must go through [[chunks]]/[[stream]]. Cuts short at `cap` bytes
    * (returns what decoded up to it) so an adversarial bomb cannot
    * allocate past the envelope; undecodable input returns empty.
    */
  def decompress(b: Array[Byte], cap: Long = (Int.MaxValue - 16L)): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(1 << 16, if (b == null) 16 else math.max(16, b.length)).toInt)
    val it = chunks(b, 1 << 20)
    var total = 0L
    while (it.hasNext && total < cap) {
      val c = it.next()
      val take = math.min(c.length.toLong, cap - total).toInt
      out.write(c, 0, take)
      total += take
    }
    out.toByteArray
  }

  // ---- fixture builders (specs, certificates, soaks) -----------------

  /** zstd-compress one frame. */
  def zstd(b: Array[Byte], level: Int = 3): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(b, level)

  /** One zstd frame PER member, concatenated — the framing `.warc.zst`
    * and appended `.jsonl.zst` shards carry (each append is its own
    * frame), which the streaming arms must walk across.
    */
  def zstdFrames(members: Seq[Array[Byte]], level: Int = 3): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    members.foreach { m => val f = zstd(m, level); out.write(f, 0, f.length) }
    out.toByteArray
  }

  /** LZMA/LZMA2 options with the dictionary sized to the PAYLOAD, not
    * the preset: a dictionary larger than the input buys zero ratio but
    * the encoder allocates ~11× the dict size per call — preset 6's
    * 8 MiB dict is ~90 MB of encoder state, which at one
    * fixture-archive-per-row turned the lzma/xz/7z certificate queries
    * into the TOP of the whole bench profile (q_zip_methods 14.0 s,
    * q_7z_extract 13.5 s at sf0.01 — allocation churn, not compression
    * work). Every decoder reads the dict size from the stream props, so
    * output stays universally decodable.
    */
  def lzmaOpts(payloadLen: Int): org.tukaani.xz.LZMA2Options = {
    val o = new org.tukaani.xz.LZMA2Options()
    // floor at 64 KiB, not DICT_SIZE_MIN: [[detect]]'s lzma-alone
    // heuristic (and every real-world writer's) relies on the dict-size
    // field being a 64 KiB multiple — bytes 1-2 zero — and a 4 KiB dict
    // would sniff as "none" (the q_tar_codecs lzma members went empty)
    val want = math.max(1 << 16,
      Integer.highestOneBit(math.max(1, payloadLen)) * 2)
    o.setDictSize(math.min(o.getDictSize, want))
    o
  }

  /** xz-compress one stream (LZMA2, payload-sized dictionary). */
  def xz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new org.tukaani.xz.XZOutputStream(bos, lzmaOpts(b.length))
    o.write(b); o.close()
    bos.toByteArray
  }

  /** bzip2-compress one stream (block size chosen from the payload —
    * the default 900 KiB block allocates ~7 MB of work arrays per call).
    */
  def bzip2(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos,
        org.apache.commons.compress.compressors.bzip2
          .BZip2CompressorOutputStream.chooseBlockSize(b.length.toLong))
    o.write(b); o.close()
    bos.toByteArray
  }

  /** gzip-compress one member whose payload is `parts` concatenated —
    * given as parts so a large payload is never copied into one array.
    */
  def gzip(parts: Array[Byte]*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.util.zip.GZIPOutputStream(bos)
    parts.foreach(o.write(_)); o.close()
    bos.toByteArray
  }

  /** lz4-frame-compress one frame (commons-compress framed writer). */
  def lz4(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new org.apache.commons.compress.compressors.lz4
      .FramedLZ4CompressorOutputStream(bos)
    o.write(b); o.close()
    bos.toByteArray
  }

  /** framed-snappy-compress one stream (commons-compress framed writer). */
  def snappy(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new org.apache.commons.compress.compressors.snappy
      .FramedSnappyCompressorOutputStream(bos)
    o.write(b); o.close()
    bos.toByteArray
  }

  /** lzma-alone-compress one stream (tukaani writer, unknown-size
    * header + EOS marker — what the commons-compress facade also emits —
    * but with the payload-sized dictionary, see [[lzmaOpts]]).
    */
  def lzma(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new org.tukaani.xz.LZMAOutputStream(bos, lzmaOpts(b.length), -1L)
    o.write(b); o.close()
    bos.toByteArray
  }

  /** Unix-compress (.Z) one stream — a minimal LZW encoder, because the
    * classpath carries only the DECODER (commons-compress
    * `ZCompressorInputStream`); this builder exists so the .Z arm has
    * self-built round-trip fixtures like every other family. Encodes in
    * BLOCK mode (header byte 3 = 0x80|maxbits) pinned at maxbits = 9:
    * code width never grows past the initial 9 bits, so the encoder
    * sidesteps the historical compress(1) bit-buffer alignment quirk at
    * width changes entirely — once the table fills at 511 the encoder
    * simply stops adding entries and keeps emitting from the frozen
    * table, which is a valid (if unambitious) LZW stream every decoder
    * accepts. Correctness, not ratio, is the point of a fixture.
    */
  def zCompress(b: Array[Byte]): Array[Byte] = {
    val out = new LsbWriter
    out.bits(0x1F, 8); out.bits(0x9D, 8); out.bits(0x80 | 9, 8)
    // dictionary over (prefixCode << 8 | nextByte); 256 = CLEAR (block
    // mode reserves it even when never emitted), first free code = 257
    val dict = new java.util.HashMap[Integer, Integer]()
    var nextCode = 257
    def emit(code: Int): Unit = out.bits(code, 9) // LSB-first packing
    if (b.nonEmpty) {
      var w = b(0) & 0xFF
      var i = 1
      while (i < b.length) {
        val c = b(i) & 0xFF
        val key = Integer.valueOf((w << 8) | c)
        val hit = dict.get(key)
        if (hit != null) w = hit.intValue()
        else {
          emit(w)
          if (nextCode < 512) { dict.put(key, Integer.valueOf(nextCode)); nextCode += 1 }
          w = c
        }
        i += 1
      }
      emit(w)
    }
    out.result()
  }
}
