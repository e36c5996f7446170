package graft.ext

/** Vorbis I PCM decode — the second lossy-audio arm (with [[Mp3]]) of
  * the [[AudioFp]] dedup cell. Unlike MP3, Vorbis is fully
  * SELF-DESCRIBING: every Huffman codebook, floor configuration and
  * residue layout ships inside the stream's setup header, so a decoder
  * built purely from the public Vorbis I specification reaches
  * real-world conformance with no tabulated data at all (the one
  * constant-looking table, floor1's inverse-dB amplitude map, is exactly
  * geometric and computed from its closed form here).
  *
  * Implemented from the spec:
  *   - LSB-first bit reader over reassembled Ogg packets
  *     ([[Ogg.packets]]);
  *   - identification / setup headers: codebooks (ordered and sparse
  *     length lists, the incremental first-fit codeword assignment,
  *     float32_unpack, VQ lookup types 1 and 2 with sequence_p), floor
  *     type 1 (classes, partitions, X list, the predict/room Y coding,
  *     Bresenham line render, geometric inverse-dB amplitude), residue
  *     types 1 and 2 (classword radix decode, cascade passes), mapping
  *     type 0 (submaps, magnitude/angle coupling), modes;
  *   - audio packets: window mode, floor curves, residue vectors,
  *     inverse coupling, floor multiply, inverse MDCT (the Vorbis
  *     sin(pi/2 sin^2) window), and the spec's long/short transition
  *     lapping via absolute-position overlap-add.
  *
  * Envelope (gates to None, never garbage): floor type 0 (legacy LSP —
  * absent from modern encoders) and residue type 0.
  * Encode-side counterpart: [[VorbisEnc]] (fixture encoder) — the same
  * builder-feeds-parser certificate discipline as PNG/FLAC/VP8L/MP3.
  *
  * THIRD-PARTY INTEROP STATUS (round-15 re-verification of the advice
  * finding): unlike MP3 (pinned LAME stream) and VP8/VP8L (pinned
  * libwebp streams + the on-disk libwebp library as a differential
  * oracle), NO real Vorbis artifact exists in this container — a
  * filesystem-wide search for .ogg/.oga/.webm/.mkv/.opus files AND a
  * byte-scan of every file for an embedded "OggS"+"\\x01vorbis" BOS
  * page finds only file-magic signature databases, and there is no
  * encoder library to drive. The symmetric-bug exposure is narrowed by
  * construction rather than interop: every codebook is self-describing
  * in-stream (no recalled tables to misalign), the inverse-dB table is
  * the spec's closed form, and the hostile/roundtrip/certificate suite
  * plus the q_dedup_audio_anchor lossy plants bound the remaining risk.
  * Revisit the moment any public Vorbis-bearing artifact appears here.
  */
object Vorbis {

  final case class Audio(sampleRate: Int, channels: Int, samples: Array[Int])

  private def ilog(x0: Int): Int = {
    var x = x0
    var r = 0
    while (x > 0) { r += 1; x >>= 1 }
    r
  }

  private[ext] def float32Unpack(x: Long): Double = {
    val mantissa = (x & 0x1FFFFF).toDouble
    val sign = if ((x & 0x80000000L) != 0) -1.0 else 1.0
    val exponent = ((x & 0x7FE00000L) >> 21).toInt
    sign * mantissa * math.pow(2.0, exponent - 788)
  }

  private[ext] def lookup1Values(entries: Int, dims: Int): Int = {
    var v = 1
    while (math.pow(v + 1, dims) <= entries + 0.0001) v += 1
    v
  }

  // ----------------------------------------------------------- codebook

  private[ext] final class Codebook(
      val dims: Int, val entries: Int,
      lengths: Array[Int], // 0 = unused entry
      val lookupType: Int,
      minVal: Double, delta: Double, seqP: Boolean,
      mults: Array[Int]) {

    // incremental first-fit codeword assignment (spec 3.2.1): entries in
    // order take the lowest available leaf of their length
    private val (left, right, singleEntry) = {
      val l = scala.collection.mutable.ArrayBuffer(0)
      val r = scala.collection.mutable.ArrayBuffer(0)
      val marker = new Array[Long](34)
      var single = -1
      val used = lengths.count(_ > 0)
      var i = 0
      while (i < entries) {
        val len = lengths(i)
        if (len > 0) {
          if (used == 1) { single = i }
          else {
            val code = marker(len)
            if (len < 32 && (code >>> len) != 0)
              throw new IllegalArgumentException("vorbis: overpopulated tree")
            // insert code (MSB-first) into the decode tree
            var node = 0
            var bi = len - 1
            while (bi >= 0) {
              val bit = ((code >> bi) & 1L).toInt
              val arr = if (bit == 0) l else r
              val nxt = arr(node)
              if (bi == 0) {
                if (nxt != 0) throw new IllegalArgumentException("vorbis: tree collision")
                arr(node) = ~i
              } else if (nxt == 0) {
                l += 0; r += 0
                arr(node) = l.length - 1
                node = l.length - 1
              } else if (nxt < 0) {
                throw new IllegalArgumentException("vorbis: tree collision")
              } else node = nxt
              bi -= 1
            }
            // advance markers (libvorbis-shaped increment, from the spec's
            // first-fit description)
            var j = len
            var done = false
            while (j > 0 && !done) {
              if ((marker(j) & 1L) != 0) {
                if (j == 1) marker(1) += 1
                else marker(j) = marker(j - 1) << 1
                done = true
              } else marker(j) += 1
              j -= 1
            }
            var entry = code
            j = len + 1
            var prop = true
            while (j < 34 && prop) {
              if ((marker(j) >> 1) == entry) {
                entry = marker(j)
                marker(j) = marker(j - 1) << 1
                j += 1
              } else prop = false
            }
          }
        }
        i += 1
      }
      (l.toArray, r.toArray, single)
    }

    /** scalar context: the decoded entry number. */
    def readEntry(r0: LsbReader): Int = {
      if (singleEntry >= 0) { r0.bit(); return singleEntry } // 1-entry book: 1 bit
      var node = 0
      var depth = 0
      while (depth < 34) {
        val nxt = if (r0.bit() == 0) left(node) else right(node)
        if (nxt < 0) return ~nxt
        if (nxt == 0) throw new IllegalArgumentException("vorbis: bad codeword")
        node = nxt
        depth += 1
      }
      throw new IllegalArgumentException("vorbis: codeword too deep")
    }

    /** VQ context: the entry's `dims` lookup values. */
    val vq: Array[Array[Double]] =
      if (lookupType == 0) null
      else {
        val lv = lookup1Values(entries, dims)
        Array.tabulate(entries) { e =>
          val out = new Array[Double](dims)
          var last = 0.0
          var j = 0
          while (j < dims) {
            val m =
              if (lookupType == 1) mults((e / math.pow(lv, j).toInt) % lv)
              else mults(e * dims + j)
            out(j) = minVal + delta * m + (if (seqP) last else 0.0)
            if (seqP) last = out(j)
            j += 1
          }
          out
        }
      }
  }

  private[ext] def readCodebook(r: LsbReader): Codebook = {
    if (r.bits(24) != 0x564342) // "BCV"
      throw new IllegalArgumentException("vorbis: codebook sync")
    val dims = r.bits(16)
    val entries = r.bits(24)
    if (dims <= 0 || entries < 0 || entries > (1 << 22))
      throw new IllegalArgumentException("vorbis: codebook size")
    val lengths = new Array[Int](entries)
    if (r.bit() == 1) { // ordered
      var cur = r.bits(5) + 1
      var i = 0
      while (i < entries) {
        val num = r.bits(ilog(entries - i))
        var k = 0
        while (k < num && i < entries) { lengths(i) = cur; i += 1; k += 1 }
        cur += 1
        if (cur > 32) throw new IllegalArgumentException("vorbis: length > 32")
      }
    } else {
      val sparse = r.bit() == 1
      var i = 0
      while (i < entries) {
        if (!sparse || r.bit() == 1) lengths(i) = r.bits(5) + 1
        i += 1
      }
    }
    val lookupType = r.bits(4)
    if (lookupType > 2)
      throw new IllegalArgumentException("vorbis: lookup type")
    if (lookupType == 0)
      new Codebook(dims, entries, lengths, 0, 0, 0, seqP = false, null)
    else {
      val minVal = float32Unpack(r.bitsLong(32))
      val delta = float32Unpack(r.bitsLong(32))
      val valueBits = r.bits(4) + 1
      val seqP = r.bit() == 1
      // allocation cap BEFORE Array.fill: entries (<=2^22) * dims
      // (<=65535) overflows to multi-GB for a crafted lookup-type-2
      // codebook — OutOfMemoryError is NOT caught by the NonFatal gate
      // in decode(), so an untrusted payload could kill the executor.
      // Real streams keep entries*dims below ~2^13 (the vq table at
      // Codebook.vq allocates the same product in DOUBLES, so the cap
      // bounds both at <=8 MB). IllegalArgumentException -> decode()
      // gates None.
      if (entries.toLong * dims > (1L << 20))
        throw new IllegalArgumentException("vorbis: codebook lookup too large")
      val nVals =
        if (lookupType == 1) lookup1Values(entries, dims)
        else entries * dims
      val mults = Array.fill(nVals)(r.bits(valueBits))
      new Codebook(dims, entries, lengths, lookupType, minVal, delta, seqP, mults)
    }
  }

  // -------------------------------------------------------------- floor1

  private[ext] final class Floor1(
      val partitionClasses: Array[Int],
      val classDims: Array[Int],
      val classSubclasses: Array[Int],
      val classMasterbooks: Array[Int],
      val subclassBooks: Array[Array[Int]],
      val multiplier: Int,
      val xList: Array[Int]) {
    val values: Int = xList.length
    // sort order of the X list (the spec's low/high neighbor search uses
    // the ORIGINAL order; the final curve renders in sorted order)
    val sortIdx: Array[Int] = xList.zipWithIndex.sortBy(_._1).map(_._2)
  }

  private def readFloor1(r: LsbReader): Floor1 = {
    val partitions = r.bits(5)
    val partitionClasses = Array.fill(partitions)(r.bits(4))
    val maxClass = if (partitions == 0) -1 else partitionClasses.max
    val classDims = new Array[Int](maxClass + 1)
    val classSubclasses = new Array[Int](maxClass + 1)
    val classMasterbooks = new Array[Int](maxClass + 1)
    val subclassBooks = new Array[Array[Int]](maxClass + 1)
    var c = 0
    while (c <= maxClass) {
      classDims(c) = r.bits(3) + 1
      classSubclasses(c) = r.bits(2)
      if (classSubclasses(c) > 0) classMasterbooks(c) = r.bits(8)
      else classMasterbooks(c) = -1
      subclassBooks(c) = Array.fill(1 << classSubclasses(c))(r.bits(8) - 1)
      c += 1
    }
    val multiplier = r.bits(2) + 1
    val rangebits = r.bits(4)
    val xb = Vector.newBuilder[Int]
    xb += 0
    xb += (1 << rangebits)
    var p = 0
    while (p < partitions) {
      val cd = classDims(partitionClasses(p))
      var j = 0
      while (j < cd) { xb += r.bits(rangebits); j += 1 }
      p += 1
    }
    val xList = xb.result().toArray
    if (xList.distinct.length != xList.length)
      throw new IllegalArgumentException("vorbis: duplicate floor X")
    if (xList.length > 65) throw new IllegalArgumentException("vorbis: floor X count")
    new Floor1(partitionClasses, classDims, classSubclasses,
      classMasterbooks, subclassBooks, multiplier, xList)
  }

  // the floor1 amplitude map is exactly geometric: table[i] =
  // base^(255-i) with table[255] = 1 and table[0] = 1.0649863e-07
  private[ext] val inverseDb: Array[Double] = {
    val ratio = math.pow(1.0649863e-07, 1.0 / 255.0)
    Array.tabulate(256)(i => math.pow(ratio, 255 - i))
  }

  private val floorRange = Array(256, 128, 86, 64)

  private[ext] def renderPoint(x0: Int, y0: Int, x1: Int, y1: Int, x: Int): Int = {
    val dy = y1 - y0
    val adx = x1 - x0
    val ady = math.abs(dy)
    val err = ady * (x - x0)
    val off = err / adx
    if (dy < 0) y0 - off else y0 + off
  }

  private[ext] def renderLine(x0: Int, y0: Int, x1: Int, y1: Int, n: Int,
      out: Array[Double], multiplier: Int): Unit = {
    val dy = y1 - y0
    val adx = x1 - x0
    var ady = math.abs(dy)
    val base = dy / adx
    var x = x0
    var y = y0
    var err = 0
    val sy = if (dy < 0) base - 1 else base + 1
    ady -= math.abs(base) * adx
    if (x0 < n) out(x0) = inverseDb(math.min(255, y * multiplier))
    x = x0 + 1
    while (x < math.min(x1, n)) {
      err += ady
      if (err >= adx) { err -= adx; y += sy } else y += base
      out(x) = inverseDb(math.min(255, math.max(0, y * multiplier)))
      x += 1
    }
  }

  /** Decode one channel's floor curve into out(0 until n2); false means
    * "unused channel" (zero energy).
    */
  private def decodeFloor1Curve(r: LsbReader, f: Floor1, books: Array[Codebook],
      n2: Int, out: Array[Double]): Boolean = {
    if (r.bit() == 0) return false
    val range = floorRange(f.multiplier - 1)
    val y = new Array[Int](f.values)
    y(0) = r.bits(ilog(range - 1))
    y(1) = r.bits(ilog(range - 1))
    var offset = 2
    var p = 0
    while (p < f.partitionClasses.length) {
      val cls = f.partitionClasses(p)
      val cdim = f.classDims(cls)
      val cbits = f.classSubclasses(cls)
      val csub = (1 << cbits) - 1
      var cval = 0
      if (cbits > 0) cval = books(f.classMasterbooks(cls)).readEntry(r)
      var j = 0
      while (j < cdim) {
        val book = f.subclassBooks(cls)(cval & csub)
        cval >>= cbits
        y(offset + j) = if (book >= 0) books(book).readEntry(r) else 0
        j += 1
      }
      offset += cdim
      p += 1
    }
    // amplitude value synthesis: predict from fit neighbors, apply room
    val finalY = new Array[Int](f.values)
    val step2 = new Array[Boolean](f.values)
    step2(0) = true; step2(1) = true
    finalY(0) = y(0); finalY(1) = y(1)
    var i = 2
    while (i < f.values) {
      // low/high neighbors: greatest xList[j] < xList[i] (j < i), least
      // xList[j] > xList[i] (j < i)
      var lo = 0
      var hi = 1
      var j = 0
      while (j < i) {
        if (f.xList(j) < f.xList(i) && f.xList(j) >= f.xList(lo)) lo = j
        if (f.xList(j) > f.xList(i) && f.xList(j) <= f.xList(hi)) hi = j
        j += 1
      }
      val pred = renderPoint(f.xList(lo), finalY(lo), f.xList(hi), finalY(hi), f.xList(i))
      val v = y(i)
      val highroom = range - pred
      val lowroom = pred
      val room = 2 * math.min(highroom, lowroom)
      if (v != 0) {
        step2(lo) = true
        step2(hi) = true
        step2(i) = true
        finalY(i) =
          if (v >= room) {
            if (highroom > lowroom) v - lowroom + pred
            else pred - (v - highroom) - 1
          } else if ((v & 1) == 1) pred - ((v + 1) >> 1)
          else pred + (v >> 1)
      } else {
        step2(i) = false
        finalY(i) = pred
      }
      i += 1
    }
    // curve synthesis over sorted X (clamped into range), only through
    // points the step-2 flags kept
    java.util.Arrays.fill(out, 0, n2, 0.0)
    var lx = 0
    var ly = math.min(range - 1, math.max(0, finalY(f.sortIdx(0))))
    var k = 1
    while (k < f.values) {
      val idx = f.sortIdx(k)
      if (step2(idx)) {
        val hy = math.min(range - 1, math.max(0, finalY(idx)))
        if (lx < n2)
          renderLine(lx, ly, f.xList(idx), hy, n2, out, f.multiplier)
        lx = f.xList(idx)
        ly = hy
      }
      k += 1
    }
    if (lx < n2) { // flat tail past the last fit point
      var x = lx
      while (x < n2) { out(x) = inverseDb(math.min(255, ly * f.multiplier)); x += 1 }
    }
    true
  }

  // -------------------------------------------------------------- residue

  private[ext] final class Residue(
      val rtype: Int, val begin: Int, val end: Int, val partitionSize: Int,
      val classifications: Int, val classbook: Int,
      val cascade: Array[Int], val books: Array[Array[Int]])

  private def readResidue(r: LsbReader, rtype: Int): Residue = {
    val begin = r.bits(24)
    val end = r.bits(24)
    val partitionSize = r.bits(24) + 1
    val classifications = r.bits(6) + 1
    val classbook = r.bits(8)
    val cascade = Array.tabulate(classifications) { _ =>
      val low = r.bits(3)
      if (r.bit() == 1) low | (r.bits(5) << 3) else low
    }
    val books = Array.tabulate(classifications, 8) { (c, pass) =>
      if ((cascade(c) & (1 << pass)) != 0) r.bits(8) else -1
    }
    new Residue(rtype, begin, end, partitionSize, classifications,
      classbook, cascade, books.map(_.toArray))
  }

  /** Decode one residue spec into `vectors` (per-channel, length n2);
    * `doNotDecode` marks silent channels. Types 1 and 2 (2 = channel
    * interleave over one long vector).
    */
  private def decodeResidue(r: LsbReader, res: Residue, books: Array[Codebook],
      vectors: Array[Array[Double]], doNotDecode: Array[Boolean], n2: Int): Unit = {
    val ch = vectors.length
    if (res.rtype == 2) {
      if (doNotDecode.forall(identity)) return
      val v = new Array[Double](ch * n2)
      decodeResidueInner(r, res, books, Array(v), Array(false), ch * n2)
      var i = 0
      while (i < ch * n2) {
        vectors(i % ch)(i / ch) += v(i)
        i += 1
      }
    } else {
      decodeResidueInner(r, res, books, vectors, doNotDecode, n2)
    }
  }

  private def decodeResidueInner(r: LsbReader, res: Residue, books: Array[Codebook],
      vectors: Array[Array[Double]], doNotDecode: Array[Boolean], n2: Int): Unit = {
    val actualSize = n2
    val begin = math.min(res.begin, actualSize)
    val end = math.min(res.end, actualSize)
    val toRead = end - begin
    if (toRead <= 0) return
    val partitionsToRead = toRead / res.partitionSize
    val ch = vectors.length
    val classbook = books(res.classbook)
    val classwordsPerCodeword = classbook.dims
    val classifs = Array.ofDim[Int](ch, partitionsToRead + classwordsPerCodeword)
    var pass = 0
    while (pass < 8) {
      var partitionCount = 0
      while (partitionCount < partitionsToRead) {
        if (pass == 0) {
          var j = 0
          while (j < ch) {
            if (!doNotDecode(j)) {
              var temp = classbook.readEntry(r)
              var i = classwordsPerCodeword - 1
              while (i >= 0) {
                classifs(j)(partitionCount + i) = temp % res.classifications
                temp /= res.classifications
                i -= 1
              }
            }
            j += 1
          }
        }
        var cw = 0
        while (cw < classwordsPerCodeword && partitionCount < partitionsToRead) {
          var j = 0
          while (j < ch) {
            if (!doNotDecode(j)) {
              val vqclass = classifs(j)(partitionCount)
              val book = res.books(vqclass)(pass)
              if (book >= 0) {
                val b = books(book)
                if (b.vq == null)
                  throw new IllegalArgumentException("vorbis: scalar residue book")
                val offset = begin + partitionCount * res.partitionSize
                if (res.rtype == 1 || res.rtype == 2) {
                  var i = 0
                  while (i < res.partitionSize) {
                    val entry = b.readEntry(r)
                    val vals = b.vq(entry)
                    var d = 0
                    while (d < b.dims && i < res.partitionSize) {
                      vectors(j)(offset + i) += vals(d)
                      d += 1
                      i += 1
                    }
                  }
                } else { // type 0: interleaved stride — envelope
                  throw new IllegalArgumentException("vorbis: residue type 0")
                }
              }
            }
            j += 1
          }
          partitionCount += 1
          cw += 1
        }
      }
      pass += 1
    }
  }

  // ----------------------------------------------------- mapping / mode

  private final class Mapping(
      val submaps: Int,
      val couplingMag: Array[Int], val couplingAng: Array[Int],
      val mux: Array[Int],
      val submapFloor: Array[Int], val submapResidue: Array[Int])

  private final class Mode(
      val blockflag: Int, val mapping: Int)

  private final class Setup(
      val channels: Int, val rate: Int,
      val blocksize0: Int, val blocksize1: Int,
      val books: Array[Codebook],
      val floors: Array[Floor1],
      val residues: Array[Residue],
      val mappings: Array[Mapping],
      val modes: Array[Mode])

  private def parseSetup(id: Array[Byte], setup: Array[Byte]): Setup = {
    // identification header
    val ir = new LsbReader(id)
    require(ir.bits(8) == 1, "vorbis: id packet type")
    var k = 0
    val magic = "vorbis"
    while (k < 6) {
      require(ir.bits(8) == magic.charAt(k).toInt, "vorbis: id magic")
      k += 1
    }
    require(ir.bits(32) == 0, "vorbis: version")
    val channels = ir.bits(8)
    val rate = ir.bitsLong(32).toInt
    ir.bits(32); ir.bits(32); ir.bits(32) // bitrate fields
    val bs0 = 1 << ir.bits(4)
    val bs1 = 1 << ir.bits(4)
    require(channels > 0 && rate > 0, "vorbis: channels/rate")
    require(bs0 >= 64 && bs1 >= bs0 && bs1 <= 8192, "vorbis: blocksizes")
    require(ir.bit() == 1, "vorbis: framing")
    // setup header
    val r = new LsbReader(setup)
    require(r.bits(8) == 5, "vorbis: setup packet type")
    k = 0
    while (k < 6) {
      require(r.bits(8) == magic.charAt(k).toInt, "vorbis: setup magic")
      k += 1
    }
    val books = Array.fill(r.bits(8) + 1)(readCodebook(r))
    // time-domain transforms (placeholder, must be zero)
    val timeCount = r.bits(6) + 1
    var i = 0
    while (i < timeCount) {
      require(r.bits(16) == 0, "vorbis: time transform")
      i += 1
    }
    val floors = Array.fill(r.bits(6) + 1) {
      val t = r.bits(16)
      if (t != 1) throw new IllegalArgumentException(s"vorbis: floor type $t")
      readFloor1(r)
    }
    val residues = Array.fill(r.bits(6) + 1) {
      val t = r.bits(16)
      if (t != 1 && t != 2)
        throw new IllegalArgumentException(s"vorbis: residue type $t")
      readResidue(r, t)
    }
    val mappings = Array.fill(r.bits(6) + 1) {
      require(r.bits(16) == 0, "vorbis: mapping type")
      val submaps = if (r.bit() == 1) r.bits(4) + 1 else 1
      var mag = Array.emptyIntArray
      var ang = Array.emptyIntArray
      if (r.bit() == 1) {
        val steps = r.bits(8) + 1
        mag = new Array[Int](steps)
        ang = new Array[Int](steps)
        var s = 0
        while (s < steps) {
          mag(s) = r.bits(ilog(channels - 1))
          ang(s) = r.bits(ilog(channels - 1))
          s += 1
        }
      }
      require(r.bits(2) == 0, "vorbis: mapping reserved")
      val mux =
        if (submaps > 1) Array.fill(channels)(r.bits(4))
        else new Array[Int](channels)
      val sf = new Array[Int](submaps)
      val sr = new Array[Int](submaps)
      var s = 0
      while (s < submaps) {
        r.bits(8) // unused time config
        sf(s) = r.bits(8)
        sr(s) = r.bits(8)
        s += 1
      }
      new Mapping(submaps, mag, ang, mux, sf, sr)
    }
    val modes = Array.fill(r.bits(6) + 1) {
      val blockflag = r.bit()
      require(r.bits(16) == 0, "vorbis: window type")
      require(r.bits(16) == 0, "vorbis: transform type")
      new Mode(blockflag, r.bits(8))
    }
    require(r.bit() == 1, "vorbis: setup framing")
    new Setup(channels, rate, bs0, bs1, books, floors, residues, mappings, modes)
  }

  // ------------------------------------------------------ window / mdct

  private def vorbisWindow(i: Int, start: Int, n: Int): Double = {
    val x = (i - start + 0.5) / n * (math.Pi / 2.0)
    math.sin(math.Pi / 2.0 * math.sin(x) * math.sin(x))
  }

  /** Inverse MDCT, Vorbis convention: n output samples from n/2 coeffs,
    * y[j] = sum_k X[k] cos(pi/(2n)(2j+1+n/2)(2k+1)). O(n^2/4) direct
    * over a cached per-blocksize cosine matrix — blocksizes are <= 8192
    * and this arm feeds dedup fingerprints, not a playback path.
    */
  private val imdctCosCache =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Array[Double]]]

  private[ext] def imdct(x: Array[Double], n: Int): Array[Double] = {
    val n2 = n / 2
    val cosM = imdctCosCache.getOrElseUpdate(n,
      Array.tabulate(n, n2)((j, k) =>
        math.cos(math.Pi / (2.0 * n) * (2 * j + 1 + n2) * (2 * k + 1))))
    val out = new Array[Double](n)
    var j = 0
    while (j < n) {
      val row = cosM(j)
      var acc = 0.0
      var k = 0
      while (k < n2) { acc += x(k) * row(k); k += 1 }
      out(j) = acc
      j += 1
    }
    out
  }

  // cache the per-(n, center-slope) windows
  private val winCache = scala.collection.concurrent.TrieMap.empty[(Int, Int, Int, Int), Array[Double]]

  /** The packet window: slopes per the spec's long/short lapping rules.
    * leftN/rightN are the HALF-sizes of the left and right slopes.
    */
  private def packetWindow(n: Int, leftN: Int, rightN: Int): Array[Double] =
    winCache.getOrElseUpdate((n, leftN, rightN, 0), {
      val w = new Array[Double](n)
      val leftStart = n / 4 - leftN / 2
      val rightStart = 3 * n / 4 - rightN / 2
      var i = 0
      while (i < n) {
        w(i) =
          if (i < leftStart) 0.0
          else if (i < leftStart + leftN) vorbisWindow(i, leftStart, leftN)
          // right slope is the TIME-MIRRORED left slope (sin(pi/2 sin^2)
          // of the reflected coordinate) — that, not 1 - slope, satisfies
          // the Princen-Bradley w^2 + w_shifted^2 = 1 TDAC condition
          else if (i < rightStart) 1.0
          else if (i < rightStart + rightN)
            vorbisWindow(rightStart + rightN - 1 - i, 0, rightN)
          else 0.0
        i += 1
      }
      w
    })

  // ------------------------------------------------------------- decode

  /** Decode an Ogg/Vorbis payload to PCM. None when the payload is not
    * Ogg/Vorbis, uses an envelope arm (floor0 / residue0), or the stream
    * is structurally damaged beyond the header.
    *
    * Overlap-add runs in ABSOLUTE sample positions: packet i of size n_i
    * lands at P_i with its right window center at C_i = P_i + 3n_i/4;
    * the next packet aligns its left center there, P_{i+1} =
    * C_i − n_{i+1}/4 — this reproduces the spec's long/short lapping for
    * every block-size transition with one rule. Samples before P_i are
    * final when packet i arrives (positions only increase), so a
    * blocksize-bounded ring buffer suffices.
    */
  def decode(payload: Array[Byte]): Option[Audio] = {
    try {
      val pkts = Ogg.packets(payload)
      if (pkts.length < 4) return None
      if (!(pkts(0).length > 7 && (pkts(0)(0) & 0xFF) == 1 && pkts(0)(1) == 'v'))
        return None
      val setup = parseSetup(pkts(0), pkts(2))
      val ch = setup.channels
      if (ch > 8) return None
      val ringSize = setup.blocksize1 * 2
      val ring = Array.ofDim[Double](ch, ringSize)
      var produced = 0L // absolute index of the next sample to emit
      var lastEnd = 0L // absolute end of the last packet's contribution
      var rightCenter = -1L // C_{i-1}
      var validFrom = -1L // first sample with full TDAC coverage
      var audioPackets = 0
      val pcm = new scala.collection.mutable.ArrayBuilder.ofInt
      def emitUpTo(limit: Long): Unit = {
        while (produced < limit) {
          var c = 0
          while (c < ch) {
            val slot = (produced % ringSize).toInt
            // decoded samples are nominal +-1.0 floats (the Vorbis
            // convention); int16-scale on emit
            val v = math.round(ring(c)(slot) * 32767.0).toInt
            ring(c)(slot) = 0.0
            pcm += (if (v > 32767) 32767 else if (v < -32768) -32768 else v)
            c += 1
          }
          produced += 1
        }
      }
      var p = 3
      while (p < pkts.length) {
        val pk = pkts(p)
        if (pk.nonEmpty) {
          val r = new LsbReader(pk)
          if (r.bit() == 0) { // audio packet
            try {
              // mode field width is ilog(count-1): ZERO bits for a
              // single-mode stream
              val modeIdx = r.bits(ilog(setup.modes.length - 1))
              if (modeIdx >= setup.modes.length)
                throw new IllegalArgumentException("vorbis: mode")
              val mode = setup.modes(modeIdx)
              val n = if (mode.blockflag == 1) setup.blocksize1 else setup.blocksize0
              var prevFlag = 1
              var nextFlag = 1
              if (mode.blockflag == 1) {
                prevFlag = r.bit()
                nextFlag = r.bit()
              }
              val mapping = setup.mappings(mode.mapping)
              val n2 = n / 2
              val floorOut = Array.ofDim[Double](ch, n2)
              val nonzero = new Array[Boolean](ch)
              val residueOut = Array.ofDim[Double](ch, n2)
              try {
                var c0 = 0
                while (c0 < ch) {
                  val f = setup.floors(mapping.submapFloor(mapping.mux(c0)))
                  nonzero(c0) = decodeFloor1Curve(r, f, setup.books, n2, floorOut(c0))
                  c0 += 1
                }
                // coupling propagate: a pair decodes if either side is live
                var s0 = 0
                while (s0 < mapping.couplingMag.length) {
                  if (nonzero(mapping.couplingMag(s0)) || nonzero(mapping.couplingAng(s0))) {
                    nonzero(mapping.couplingMag(s0)) = true
                    nonzero(mapping.couplingAng(s0)) = true
                  }
                  s0 += 1
                }
                var sm = 0
                while (sm < mapping.submaps) {
                  val chIdx = (0 until ch).filter(mapping.mux(_) == sm)
                  val vecs = chIdx.map(residueOut(_)).toArray
                  val dnd = chIdx.map(!nonzero(_)).toArray
                  val res = setup.residues(mapping.submapResidue(sm))
                  decodeResidue(r, res, setup.books, vecs, dnd, n2)
                  sm += 1
                }
              } catch {
                // premature end-of-packet during audio decode is LEGAL
                // (spec: the remainder of the vectors is zero)
                case _: Bits.EndOfInput => ()
              }
              // inverse coupling (square polar), last step first
              var s = mapping.couplingMag.length - 1
              while (s >= 0) {
                val m = residueOut(mapping.couplingMag(s))
                val a = residueOut(mapping.couplingAng(s))
                var i = 0
                while (i < n2) {
                  val mv = m(i)
                  val av = a(i)
                  if (mv > 0) {
                    if (av > 0) { m(i) = mv; a(i) = mv - av }
                    else { a(i) = mv; m(i) = mv + av }
                  } else {
                    if (av > 0) { m(i) = mv; a(i) = mv + av }
                    else { a(i) = mv; m(i) = mv - av }
                  }
                  i += 1
                }
                s -= 1
              }
              // window slopes per the lapping rules
              val leftSlope = if (mode.blockflag == 1 && prevFlag == 0)
                setup.blocksize0 / 2 else n / 2
              val rightSlope = if (mode.blockflag == 1 && nextFlag == 0)
                setup.blocksize0 / 2 else n / 2
              val win = packetWindow(n, leftSlope, rightSlope)
              val posThis = if (rightCenter < 0) 0L else rightCenter - n / 4
              // the second packet's left-slope start is the first sample
              // with full TDAC coverage — output is valid from there
              if (audioPackets == 1)
                validFrom = posThis + n / 4 - leftSlope / 2
              audioPackets += 1
              // emit everything this packet can no longer touch
              if (posThis > produced) emitUpTo(math.min(posThis, lastEnd))
              var c = 0
              while (c < ch) {
                val spec = new Array[Double](n2)
                if (nonzero(c)) {
                  var i = 0
                  while (i < n2) {
                    spec(i) = residueOut(c)(i) * floorOut(c)(i)
                    i += 1
                  }
                }
                val td = imdct(spec, n)
                var i = 0
                while (i < n) {
                  ring(c)(((posThis + i) % ringSize).toInt) += td(i) * win(i)
                  i += 1
                }
                c += 1
              }
              rightCenter = posThis + 3L * n / 4
              lastEnd = math.max(lastEnd, posThis + n)
            } catch {
              // damaged or truncated packet: skip
              case _: IllegalArgumentException | _: Bits.EndOfInput => ()
            }
          }
        }
        p += 1
      }
      emitUpTo(lastEnd)
      val all = pcm.result()
      if (all.isEmpty) None
      else {
        // drop the first packet's unpartnered priming region
        val trim = math.min(all.length.toLong,
          math.max(0L, validFrom) * ch).toInt
        Some(Audio(setup.rate, ch,
          java.util.Arrays.copyOfRange(all, trim, all.length)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Mono 16-bit-equivalent samples — the [[AudioFp]] seam. */
  def decodeMono(payload: Array[Byte]): Option[Array[Int]] =
    decode(payload).map { a =>
      if (a.channels == 1) a.samples
      else {
        val n = a.samples.length / a.channels
        Array.tabulate(n) { i =>
          var acc = 0L
          var c = 0
          while (c < a.channels) { acc += a.samples(i * a.channels + c); c += 1 }
          (acc / a.channels).toInt
        }
      }
    }

  /** True when the payload is an Ogg stream whose first packet is a
    * Vorbis identification header.
    */
  def isVorbis(b: Array[Byte]): Boolean =
    b != null && b.length > 35 && b(0) == 'O' && b(1) == 'g' && b(2) == 'g' &&
      b(3) == 'S' && Ogg.meta(b).exists(_.codec == "vorbis")
}
