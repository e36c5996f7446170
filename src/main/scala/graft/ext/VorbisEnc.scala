package graft.ext

/** Fixture Ogg/Vorbis encoder — the certificate counterpart of
  * [[Vorbis]]: a minimal but conformant mono Vorbis I encoder (single
  * 256-sample block size, one mode) exercising codebook decode (scalar
  * classbook + a 256-entry VQ lattice book with float32-packed
  * min/delta), floor1 (the two raw Y values as a flat per-packet gain —
  * floor IS the gain knob here), residue type 2 with two classes
  * (silent partitions skip their value books entirely), the classword
  * radix, the Vorbis window and MDCT, and the Ogg page/packet framing
  * (one packet per CRC-stamped page). A second entry point emits a
  * 4-point floor so the predict/room Y coding and Bresenham render are
  * roundtrip-reachable too.
  */
object VorbisEnc {

  private val N = 256
  private val N2 = N / 2

  // the Vorbis window (both slopes, single block size)
  private val win: Array[Double] = Array.tabulate(N) { i =>
    val x =
      if (i < N2) (i + 0.5) / N2 * (math.Pi / 2.0)
      else (N - i - 0.5) / N2 * (math.Pi / 2.0)
    math.sin(math.Pi / 2.0 * math.sin(x) * math.sin(x))
  }

  private val fwdCos = Array.tabulate(N2, N)((k, j) =>
    math.cos(math.Pi / (2.0 * N) * (2 * j + 1 + N2) * (2 * k + 1)))

  private def ident(rate: Int): Array[Byte] = {
    val w = new LsbWriter
    w.bits(1, 8)
    "vorbis".foreach(c => w.bits(c.toLong, 8))
    w.bits(0, 32) // version
    w.bits(1, 8) // channels
    w.bits(rate.toLong, 32)
    w.bits(0, 32); w.bits(0, 32); w.bits(0, 32) // bitrate hints
    w.bits(8, 4) // blocksize0 = 2^8
    w.bits(8, 4) // blocksize1 = 2^8
    w.bits(1, 1) // framing
    w.result()
  }

  private def comment(): Array[Byte] = {
    val w = new LsbWriter
    w.bits(3, 8)
    "vorbis".foreach(c => w.bits(c.toLong, 8))
    w.bits(0, 32) // vendor length
    w.bits(0, 32) // user comment count
    w.bits(1, 1) // framing
    w.result()
  }

  /** float32_pack of small non-negative/negative integers: value =
    * sign * mantissa * 2^(exp-788) with mantissa = |v|, exp = 788.
    */
  private def f32(v: Int): Long = {
    val sign = if (v < 0) 1L << 31 else 0L
    sign | (788L << 21) | math.abs(v).toLong
  }

  /** The floor's interior fit bins: the spectral region the [[AudioFp]]
    * tones live in, plus tail anchors — the floor carries the per-band
    * envelope (log-domain gain), so the linear residue lattice only has
    * to cover a small dynamic range. Fixed in the SETUP header (floor X
    * lists are static per stream); Y values move per packet.
    */
  private val FitBins: Array[Int] = Array(4, 8, 12, 16, 20, 24, 28, 32)
  private val TailBins: Array[Int] = Array(48, 64, 128)

  /** `flatFloor = true` drops the interior fit points (2-point flat
    * floor) — the minimal-floor decode path, kept as a variant.
    */
  private def setup(flatFloor: Boolean): Array[Byte] = {
    val w = new LsbWriter
    w.bits(5, 8)
    "vorbis".foreach(c => w.bits(c.toLong, 8))
    // ---- codebooks: classbook + VQ lattice book + floor Y book
    w.bits(2, 8) // count - 1 = 2 -> 3 books
    // book 0: classbook, dims 2, entries 4, all length 2, no lookup
    w.bits(0x564342, 24)
    w.bits(2, 16)
    w.bits(4, 24)
    w.bits(0, 1) // unordered
    w.bits(0, 1) // not sparse
    (0 until 4).foreach(_ => w.bits(1, 5)) // length 2 (stored -1)
    w.bits(0, 4) // lookup 0
    // book 1: VQ lattice, dims 2, entries 256, all length 8, lookup 1
    w.bits(0x564342, 24)
    w.bits(2, 16)
    w.bits(256, 24)
    w.bits(0, 1)
    w.bits(0, 1)
    (0 until 256).foreach(_ => w.bits(7, 5)) // length 8
    w.bits(1, 4) // lookup type 1
    w.bits(f32(-7), 32) // minimum -7
    w.bits(f32(1), 32) // delta 1
    w.bits(3, 4) // value bits - 1 (4 bits)
    w.bits(0, 1) // no sequence_p
    (0 until 16).foreach(m => w.bits(m.toLong, 4)) // multiplicands 0..15
    // book 2: floor Y book, dims 1, entries 256, all length 8, scalar
    w.bits(0x564342, 24)
    w.bits(1, 16)
    w.bits(256, 24)
    w.bits(0, 1)
    w.bits(0, 1)
    (0 until 256).foreach(_ => w.bits(7, 5)) // length 8
    w.bits(0, 4)
    // ---- time transforms
    w.bits(0, 6) // count - 1
    w.bits(0, 16)
    // ---- floors: one floor1
    w.bits(0, 6) // count - 1
    w.bits(1, 16) // type 1
    if (flatFloor) {
      w.bits(0, 5) // partitions = 0 (X list is just {0, 1<<rangebits})
    } else {
      // two partitions: class 0 (dims 8 -> the FitBins) and class 1
      // (dims 3 -> the TailBins); both classes' Y values read through
      // the scalar book 2 (no subclass bits)
      w.bits(2, 5)
      w.bits(0, 4) // partition 0 -> class 0
      w.bits(1, 4) // partition 1 -> class 1
      w.bits(7, 3) // class 0 dims - 1 = 7
      w.bits(0, 2) // subclasses 0
      w.bits(2 + 1, 8) // subclass book 2 (stored +1)
      w.bits(2, 3) // class 1 dims - 1 = 2
      w.bits(0, 2)
      w.bits(2 + 1, 8)
    }
    w.bits(0, 2) // multiplier - 1 = 0
    w.bits(8, 4) // rangebits
    if (!flatFloor) {
      FitBins.foreach(x => w.bits(x.toLong, 8))
      TailBins.foreach(x => w.bits(x.toLong, 8))
    }
    // ---- residues: one type 2
    w.bits(0, 6) // count - 1
    w.bits(2, 16) // type 2
    w.bits(0, 24) // begin
    w.bits(N2, 24) // end
    w.bits(7, 24) // partition size - 1
    w.bits(1, 6) // classifications - 1
    w.bits(0, 8) // classbook
    w.bits(0, 3); w.bits(0, 1) // class 0 cascade: none
    w.bits(1, 3); w.bits(0, 1) // class 1 cascade: pass 0
    w.bits(1, 8) // class 1 pass 0 book = 1
    // ---- mappings: one type 0
    w.bits(0, 6)
    w.bits(0, 16)
    w.bits(0, 1) // one submap
    w.bits(0, 1) // no coupling
    w.bits(0, 2) // reserved
    w.bits(0, 8) // time config (unused)
    w.bits(0, 8) // floor 0
    w.bits(0, 8) // residue 0
    // ---- modes: one
    w.bits(0, 6)
    w.bits(0, 1) // blockflag
    w.bits(0, 16) // window
    w.bits(0, 16) // transform
    w.bits(0, 8) // mapping
    w.bits(1, 1) // framing
    w.result()
  }

  /** Inverse of the decoder's predict/room Y coding: the `val` to emit
    * so the decoder reconstructs exactly `target` from `pred`.
    */
  private def encodeVal(pred: Int, target: Int, range: Int): Int = {
    val hr = range - pred
    val lr = pred
    val room = 2 * math.min(hr, lr)
    val diff = target - pred
    if (diff == 0) 0
    else if (diff > 0) {
      val v = 2 * diff
      if (v < room) v else diff + lr
    } else {
      val v = -2 * diff - 1
      if (v < room) v else pred - target - 1 + hr
    }
  }

  /** The decoder's floor curve (sorted polyline through the final Y
    * values + flat tail), replicated so quantization divides by exactly
    * what the decoder will multiply by.
    */
  private def floorCurve(xs: Array[Int], fy: Array[Int], n2: Int): Array[Double] = {
    val out = new Array[Double](n2)
    val order = xs.indices.sortBy(xs(_))
    var lx = 0
    var ly = fy(order.head)
    var k = 1
    while (k < order.length) {
      val idx = order(k)
      if (lx < n2) Vorbis.renderLine(lx, ly, xs(idx), fy(idx), n2, out, 1)
      lx = xs(idx)
      ly = fy(idx)
      k += 1
    }
    var x = math.min(lx, n2)
    while (x < n2) { out(x) = Vorbis.inverseDb(math.min(255, ly)); x += 1 }
    out
  }

  /** Encode mono 16-bit samples as Ogg/Vorbis at `rate`. */
  def encode(samples: Array[Int], rate: Int = 44100,
      flatFloor: Boolean = false): Array[Byte] = {
    val nPackets = samples.length / N2 + 3 // lead-in + flush
    val out = new java.io.ByteArrayOutputStream()
    var seq = 0L
    def page(flag: Int, granule: Long, pkt: Array[Byte]): Unit = {
      out.write(Ogg.page(flag, granule, 0x67726674L, seq, pkt))
      seq += 1
    }
    page(2, 0, ident(rate))
    page(0, 0, comment())
    page(0, 0, setup(flatFloor))
    var p = 0
    while (p < nPackets) {
      // packet p covers input samples [N2*(p-1), N2*(p+1)): 50% overlap
      val x = new Array[Double](N)
      var j = 0
      while (j < N) {
        val idx = N2 * (p - 1) + j
        x(j) =
          if (idx >= 0 && idx < samples.length) samples(idx) / 32767.0 else 0.0
        j += 1
      }
      // forward MDCT with the 4/N factor that makes the decoder's plain
      // IMDCT + OLA reconstruct
      val spec = new Array[Double](N2)
      var k = 0
      while (k < N2) {
        var acc = 0.0
        j = 0
        while (j < N) { acc += win(j) * x(j) * fwdCos(k)(j); j += 1 }
        spec(k) = acc * (4.0 / N)
        k += 1
      }
      // envelope fit: per floor point, the local spectral max (window
      // +-2 bins) sets a log-domain gain so the linear residue lattice
      // only covers the REMAINING dynamic range
      def envAt(bin: Int): Double = {
        var m = 1e-9
        var b = math.max(0, bin - 2)
        while (b <= math.min(N2 - 1, bin + 2)) {
          m = math.max(m, math.abs(spec(b)))
          b += 1
        }
        m
      }
      def yFor(amp: Double): Int = {
        var y = 0
        while (y < 255 && Vorbis.inverseDb(y) * 5.0 < amp) y += 1
        y
      }
      var maxAbs = 1e-9
      k = 0
      while (k < N2) { maxAbs = math.max(maxAbs, math.abs(spec(k))); k += 1 }
      val gainIdx = yFor(maxAbs)
      val xs: Array[Int] =
        if (flatFloor) Array(0, 256)
        else Array(0, 256) ++ FitBins ++ TailBins
      // desired final Y per point (original list order)
      val desired: Array[Int] = xs.zipWithIndex.map { case (x, i) =>
        if (flatFloor) gainIdx
        else if (i == 0) yFor(envAt(0))
        else if (i == 1) 0
        else yFor(envAt(x))
      }
      // invert the predict/room coding point-by-point so the decoder
      // reconstructs these exact Y values; a val of 0 would clear the
      // step-2 flag (point dropped from the render), so bump by one
      // amplitude index to keep every point live
      val fy = new Array[Int](xs.length)
      val vals = new Array[Int](xs.length)
      fy(0) = desired(0); fy(1) = desired(1)
      var pi = 2
      while (pi < xs.length) {
        var lo = 0
        var hi = 1
        var j = 0
        while (j < pi) {
          if (xs(j) < xs(pi) && xs(j) >= xs(lo)) lo = j
          if (xs(j) > xs(pi) && xs(j) <= xs(hi)) hi = j
          j += 1
        }
        val pred = Vorbis.renderPoint(xs(lo), fy(lo), xs(hi), fy(hi), xs(pi))
        var target = math.min(255, math.max(0, desired(pi)))
        if (target == pred) target = if (pred < 255) pred + 1 else pred - 1
        vals(pi) = encodeVal(pred, target, 256)
        fy(pi) = target
        pi += 1
      }
      val curve = floorCurve(xs, fy, N2)
      val q = new Array[Int](N2)
      var anyNz = false
      k = 0
      while (k < N2) {
        val v = math.round(spec(k) / curve(k)).toInt
        q(k) = math.max(-7, math.min(8, v))
        if (q(k) != 0) anyNz = true
        k += 1
      }
      val w = new LsbWriter
      w.bits(0, 1) // audio packet
      // mode number: zero bits (single mode)
      if (!anyNz) {
        w.bits(0, 1) // floor nonzero = 0: the whole packet is silent
      } else {
        w.bits(1, 1) // floor nonzero
        w.bits(fy(0).toLong, 8) // y0
        w.bits(fy(1).toLong, 8) // y1
        if (!flatFloor) {
          var vi = 2
          while (vi < xs.length) {
            w.code(vals(vi), 8) // scalar book 2: sequential 8-bit codes
            vi += 1
          }
        }
        // residue type 2, one channel live: classwords + partitions
        val cls = new Array[Int](16)
        var part = 0
        while (part < 16) {
          var nz = false
          var i = 0
          while (i < 8) { if (q(part * 8 + i) != 0) nz = true; i += 1 }
          cls(part) = if (nz) 1 else 0
          part += 1
        }
        part = 0
        while (part < 16) {
          // classword covers 2 partitions: first is the high radix digit
          w.code(cls(part) * 2 + cls(part + 1), 2)
          var cw = 0
          while (cw < 2) {
            if (cls(part) == 1) {
              var i = 0
              while (i < 8) {
                val a = q(part * 8 + i) + 7
                val b = q(part * 8 + i + 1) + 7
                w.code(a + 16 * b, 8) // lattice entry, length-8 code
                i += 2
              }
            }
            part += 1
            cw += 1
          }
        }
      }
      page(if (p == nPackets - 1) 4 else 0, (p + 1).toLong * N2, w.result())
      p += 1
    }
    out.toByteArray
  }
}
