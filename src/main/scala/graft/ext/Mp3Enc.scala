package graft.ext

/** Fixture MP3 encoder — the certificate counterpart of [[Mp3]], the
  * same builder-feeds-parser discipline as PNG/FLAC/VP8L: a minimal but
  * conformant MPEG-1 Layer III mono encoder (44.1 kHz, 320 kbps CBR, no
  * bit reservoir, no psychoacoustics) that exercises every decoder stage
  * the roundtrip can reach:
  *   - analysis polyphase (shared [[Mp3.prototype]]) + frequency
  *     inversion + forward MDCT (long windows; optional short-block
  *     granules for the reorder / 12-point IMDCT path) + forward alias
  *     butterflies (the exact rotation inverse of the decoder's);
  *   - per-band scalefactor quantization (scalefac_scale 0, preflag 0,
  *     values clamped to the ht10 pair range |is| <= 7) with
  *     scalefac_compress 15 (slen 4/3);
  *   - Huffman emission through table 10 (all three regions) and
  *     count1 stays empty (part2_3_length ends at the big-value
  *     boundary, the trailing run decodes as the rzero region);
  *   - frame packing: header + 17-byte side info + granule bits +
  *     stuffing, main_data_begin 0 throughout.
  * The encoder prepends priming input so the decode chain's measured
  * [[Mp3.CodecDelay]] cancels: decode(encode(x)) aligns with x from
  * sample 0 (pinned by Mp3Spec at the sample level and consumed by the
  * cross-codec anchor in q_dedup_audio_anchor).
  */
object Mp3Enc {

  private val fwdLongCos = Array.tabulate(18, 36)((k, n) =>
    math.cos(math.Pi / 72.0 * (2 * n + 1 + 18) * (2 * k + 1)))
  private val fwdShortCos = Array.tabulate(6, 12)((k, n) =>
    math.cos(math.Pi / 24.0 * (2 * n + 1 + 6) * (2 * k + 1)))

  // forward alias butterflies: the rotation inverse of Mp3's decoder pass
  private val cs = new Array[Double](8)
  private val ca = new Array[Double](8)
  locally {
    val c = Array(-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142, -0.0037)
    var i = 0
    while (i < 8) {
      val d = math.sqrt(1.0 + c(i) * c(i))
      cs(i) = 1.0 / d
      ca(i) = c(i) / d
      i += 1
    }
  }

  private def aliasForward(xr: Array[Double]): Unit = {
    var b = 0
    while (b < 31) {
      var j = 0
      while (j < 8) {
        val u = xr(18 * b + 17 - j)
        val d = xr(18 * b + 18 + j)
        xr(18 * b + 17 - j) = u * cs(j) + d * ca(j)
        xr(18 * b + 18 + j) = d * cs(j) - u * ca(j)
        j += 1
      }
      b += 1
    }
  }

  private val ht10 = Mp3.Tables.ht10
  require(ht10.valid, "mp3 fixture encoder requires a valid table 10")

  /** Encode mono 16-bit samples as an MPEG-1 Layer III 44.1 kHz 320 kbps
    * stream. `shortBlocks` switches every granule to block_type 2
    * (window switching) so the reorder / short-IMDCT arms are roundtrip-
    * certified too.
    */
  def encode(samples: Array[Int], shortBlocks: Boolean = false): Array[Byte] =
    encodeImpl(samples, shortBlocks, intensityPos = -1)

  /** Encode as a JOINT-STEREO (mode_extension = intensity) MPEG-1 Layer
    * III stream: the LEFT channel carries the mono pipeline's coded
    * spectrum, the RIGHT channel is an all-zero-spectrum granule whose
    * scalefactor slots hold `isPos` (0..6) for every band — the ISO
    * intensity position layout, so the decoder's §2.4.3.4.9.3 projection
    * must split every band as L·ir/(1+ir) / L·1/(1+ir),
    * ir = tan(isPos·π/12). At isPos 3 both output channels carry L/2
    * (gain-invariant for the fingerprint contract); 0 and 6 swing the
    * image fully right / fully left, which Mp3Spec pins directionally.
    */
  def encodeIntensity(samples: Array[Int], isPos: Int = 3): Array[Byte] = {
    require(isPos >= 0 && isPos <= 6, s"is_pos must be 0..6, got $isPos")
    encodeImpl(samples, shortBlocks = false, intensityPos = isPos)
  }

  private def encodeImpl(samples: Array[Int], shortBlocks: Boolean,
      intensityPos: Int): Array[Byte] = {
    val rate = 44100
    val kbps = 320
    val frameLen = 144 * kbps * 1000 / rate // 1044, padding 0
    // tail flush: one extra frame so the chain delay does not cut the
    // signal's end (the decode side trims Mp3.CodecDelay at the start)
    val frames = (samples.length + 1151) / 1152 + 2
    val x = new Array[Double](frames * 1152)
    var i = 0
    while (i < samples.length) { x(i) = samples(i).toDouble; i += 1 }
    val an = new Mp3.Analysis
    // subband time samples: one 32-vector per 32 inputs
    val nBlocks = x.length / 32
    val sub = Array.ofDim[Double](nBlocks, 32)
    val blk = new Array[Double](32)
    var b = 0
    while (b < nBlocks) {
      var j = 0
      while (j < 32) { blk(j) = x(b * 32 + j); j += 1 }
      an.push(blk, sub(b))
      b += 1
    }
    // frequency inversion happens granule-locally below (mirrors the
    // decoder's odd-subband / odd-time rule exactly)
    val out = new java.io.ByteArrayOutputStream()
    val prevBlock = Array.ofDim[Double](32, 18) // MDCT lookback
    var granuleBase = 0 // block index of the granule's first 32-vector
    var f = 0
    while (f < frames) {
      val granBits = new Array[Array[Byte]](2)
      val granMeta = new Array[GranuleMeta](2)
      var g = 0
      while (g < 2) {
        // gather 18 subband time vectors; apply frequency inversion in
        // GRANULE-LOCAL time (mirrors the decoder's inversion exactly)
        val cur = Array.ofDim[Double](32, 18)
        var t = 0
        while (t < 18) {
          val bi = granuleBase + t
          var k = 0
          while (k < 32) {
            val v = if (bi < nBlocks) sub(bi)(k) else 0.0
            cur(k)(t) = if (k % 2 == 1 && t % 2 == 1) -v else v
            k += 1
          }
          t += 1
        }
        val xr = new Array[Double](576)
        var k = 0
        while (k < 32) {
          if (shortBlocks) {
            // three 12-sample short transforms at offsets 6, 12, 18 of
            // the 36-window [prev18 | cur18]
            val seg = new Array[Double](36)
            System.arraycopy(prevBlock(k), 0, seg, 0, 18)
            var n = 0
            while (n < 18) { seg(18 + n) = cur(k)(n); n += 1 }
            var w = 0
            while (w < 3) {
              var kk = 0
              while (kk < 6) {
                var acc = 0.0
                var n2 = 0
                while (n2 < 12) {
                  acc += seg(6 + 6 * w + n2) * Mp3.winShort(n2) * fwdShortCos(kk)(n2)
                  n2 += 1
                }
                xr(k * 18 + 3 * kk + w) = acc
                kk += 1
              }
              w += 1
            }
          } else {
            val seg = new Array[Double](36)
            System.arraycopy(prevBlock(k), 0, seg, 0, 18)
            var n = 0
            while (n < 18) { seg(18 + n) = cur(k)(n); n += 1 }
            var kk = 0
            while (kk < 18) {
              var acc = 0.0
              var n2 = 0
              while (n2 < 36) {
                acc += seg(n2) * Mp3.winLong(n2) * fwdLongCos(kk)(n2)
                n2 += 1
              }
              xr(k * 18 + kk) = acc
              kk += 1
            }
          }
          System.arraycopy(cur(k), 0, prevBlock(k), 0, 18)
          k += 1
        }
        if (!shortBlocks) aliasForward(xr)
        val (bytes, meta) = quantizeAndCode(xr, rate, shortBlocks)
        granBits(g) = bytes
        granMeta(g) = meta
        granuleBase += 18
        g += 1
      }
      if (intensityPos < 0)
        out.write(packFrame(rate, kbps, frameLen, granBits, granMeta))
      else
        out.write(packFrameIntensity(rate, kbps, frameLen, granBits, granMeta,
          intensityPos))
      f += 1
    }
    out.toByteArray
  }

  private final case class GranuleMeta(
      part23: Int, bigValues: Int, globalGain: Int,
      sfBits: Int, shortBlocks: Boolean, sfLong: Array[Int],
      sfShort: Array[Array[Int]])

  /** Quantize one granule (bitstream order) and Huffman-code it; returns
    * the granule's main-data bytes (bit-packed, MSB-first, byte-padded
    * only at caller level) plus the side-info fields.
    */
  private def quantizeAndCode(xr0: Array[Double], rate: Int,
      shortBlocks: Boolean): (Array[Byte], GranuleMeta) = {
    // reorder FORWARD for short blocks: decoder maps bitstream order to
    // dest=3f+w, so the encoder writes bitstream position from dest
    val long = Mp3.sfbLong(rate)
    val short = Mp3.sfbShort(rate)
    val xr = if (!shortBlocks) xr0
    else {
      val o = new Array[Double](576)
      var sb = 0
      var dst = 0
      while (sb < 13) {
        val start = short(sb)
        val width = short(sb + 1) - short(sb)
        var w = 0
        while (w < 3) {
          var k2 = 0
          while (k2 < width) {
            o(dst) = xr0(3 * (start + k2) + w)
            dst += 1
            k2 += 1
          }
          w += 1
        }
        sb += 1
      }
      o
    }
    var gmax = 1e-9
    var i = 0
    while (i < 576) { if (math.abs(xr(i)) > gmax) gmax = math.abs(xr(i)); i += 1 }
    // recon for is=7 with sf=0 should cover gmax: 7^(4/3)=13.39
    val gg = math.max(0, math.min(255,
      math.round(210 + 4 * (math.log(gmax / 13.39) / math.log(2.0))).toInt))
    val base = math.pow(2.0, (gg - 210) * 0.25)
    // per-band scalefactors (bitstream-band space)
    val sfLong = new Array[Int](22)
    val sfShort = Array.fill(12, 3)(0)
    val bandSf = new Array[Int](576) // resolved sf per bitstream position
    if (!shortBlocks) {
      var sb = 0
      while (sb < 22) {
        var m = 1e-12
        var j = long(sb)
        while (j < long(sb + 1)) { m = math.max(m, math.abs(xr(j))); j += 1 }
        val cap = if (sb < 11) 15 else if (sb < 21) 7 else 0
        val sf = math.max(0, math.min(cap,
          math.floor(2.0 * math.log(13.39 * base / m) / math.log(2.0)).toInt))
        if (sb < 21) sfLong(sb) = sf
        val eff = if (sb < 21) sf else 0
        j = long(sb)
        while (j < long(sb + 1)) { bandSf(j) = eff; j += 1 }
        sb += 1
      }
    } else {
      var pos = 0
      var sb = 0
      while (sb < 13) {
        val width = short(sb + 1) - short(sb)
        var w = 0
        while (w < 3) {
          var m = 1e-12
          var k2 = 0
          while (k2 < width) { m = math.max(m, math.abs(xr(pos + k2))); k2 += 1 }
          val cap = if (sb < 6) 15 else if (sb < 12) 7 else 0
          val sf = math.max(0, math.min(cap,
            math.floor(2.0 * math.log(13.39 * base / m) / math.log(2.0)).toInt))
          if (sb < 12) sfShort(sb)(w) = sf
          val eff = if (sb < 12) sf else 0
          k2 = 0
          while (k2 < width) { bandSf(pos + k2) = eff; k2 += 1 }
          pos += width
          w += 1
        }
        sb += 1
      }
    }
    // quantize: is = round((|xr| / (base * 2^{-0.5 sf}))^{3/4}), <= 7
    val is = new Array[Int](576)
    i = 0
    while (i < 576) {
      val step = base * math.pow(2.0, -0.5 * bandSf(i))
      val q = math.round(math.pow(math.abs(xr(i)) / step, 0.75)).toInt
      val qc = math.min(7, q)
      is(i) = if (xr(i) < 0) -qc else qc
      i += 1
    }
    var lastNz = -1
    i = 0
    while (i < 576) { if (is(i) != 0) lastNz = i; i += 1 }
    val bv2 = math.min(576, ((lastNz + 2) / 2) * 2)
    val bigValues = bv2 / 2
    // emit: scalefactors then huffman
    val w = new MsbWriter
    var sfBits = 0
    if (!shortBlocks) {
      var sb = 0
      while (sb < 21) {
        val bitsN = if (sb < 11) 4 else 3
        w.bits(sfLong(sb), bitsN)
        sfBits += bitsN
        sb += 1
      }
    } else {
      var sb = 0
      while (sb < 12) {
        val bitsN = if (sb < 6) 4 else 3
        var wi = 0
        while (wi < 3) {
          w.bits(sfShort(sb)(wi), bitsN)
          sfBits += bitsN
          wi += 1
        }
        sb += 1
      }
    }
    i = 0
    while (i < bv2) {
      val xv = is(i)
      val yv = is(i + 1)
      val ax = math.abs(xv)
      val ay = math.abs(yv)
      val sym = ax * ht10.ylen + ay
      w.bits(ht10.hcod(sym), ht10.hlen(sym))
      if (ax != 0) w.bits(if (xv < 0) 1 else 0, 1)
      if (ay != 0) w.bits(if (yv < 0) 1 else 0, 1)
      i += 2
    }
    val part23 = w.bitLength.toInt
    (w.result(), GranuleMeta(part23, bigValues, gg, sfBits, shortBlocks,
      sfLong, sfShort))
  }

  /** Header + mono side info + both granules' main data + stuffing. */
  private def packFrame(rate: Int, kbps: Int, frameLen: Int,
      granBits: Array[Array[Byte]], meta: Array[GranuleMeta]): Array[Byte] = {
    val w = new MsbWriter
    // header: sync, MPEG-1, Layer III, no CRC, 320 kbps, 44.1 kHz, no
    // padding, mono, no emphasis
    w.bits(0x7FF, 11)
    w.bits(3, 2) // version 1
    w.bits(1, 2) // layer III
    w.bits(1, 1) // protection: none
    w.bits(14, 4) // 320 kbps (V1 Layer III bitrate index 14)
    w.bits(0, 2) // 44100
    w.bits(0, 1) // padding
    w.bits(0, 1) // private
    w.bits(3, 2) // mono
    w.bits(0, 2) // mode ext
    w.bits(0, 1); w.bits(0, 1) // copyright / original
    w.bits(0, 2) // emphasis
    // side info (mono, 17 bytes)
    w.bits(0, 9) // main_data_begin
    w.bits(0, 5) // private
    w.bits(0, 4) // scfsi: none
    var g = 0
    while (g < 2) {
      val m = meta(g)
      w.bits(m.part23, 12)
      w.bits(m.bigValues, 9)
      w.bits(m.globalGain, 8)
      w.bits(15, 4) // scalefac_compress 15: slen1=4, slen2=3
      if (m.shortBlocks) {
        w.bits(1, 1) // window switching
        w.bits(2, 2) // block type 2
        w.bits(0, 1) // not mixed
        w.bits(10, 5); w.bits(10, 5) // table select x2
        w.bits(0, 3); w.bits(0, 3); w.bits(0, 3) // subblock gain
      } else {
        w.bits(0, 1) // no window switching
        w.bits(10, 5); w.bits(10, 5); w.bits(10, 5) // table select x3
        w.bits(7, 4) // region0_count
        w.bits(13, 3) // region1_count
      }
      w.bits(0, 1) // preflag
      w.bits(0, 1) // scalefac_scale
      w.bits(1, 1) // count1 table B (unused: part2_3 ends at big values)
      g += 1
    }
    // main data: the two granules' bit-packed payloads, then stuffing
    val bytes0 = granBits(0)
    val bytes1 = granBits(1)
    appendBits(w, bytes0, meta(0).part23)
    appendBits(w, bytes1, meta(1).part23)
    val head = w.result()
    val frame = java.util.Arrays.copyOf(head, frameLen)
    frame
  }

  /** Header + STEREO side info + per-granule (left main data, right
    * intensity-position scalefactors) — the joint-stereo intensity frame
    * layout [[encodeIntensity]] documents.
    */
  private def packFrameIntensity(rate: Int, kbps: Int, frameLen: Int,
      granBits: Array[Array[Byte]], meta: Array[GranuleMeta],
      isPos: Int): Array[Byte] = {
    val w = new MsbWriter
    w.bits(0x7FF, 11)
    w.bits(3, 2) // version 1
    w.bits(1, 2) // layer III
    w.bits(1, 1) // no CRC
    w.bits(14, 4) // 320 kbps
    w.bits(0, 2) // 44100
    w.bits(0, 1); w.bits(0, 1) // padding / private
    w.bits(1, 2) // joint stereo
    w.bits(1, 2) // mode ext: intensity on, M/S off
    w.bits(0, 1); w.bits(0, 1); w.bits(0, 2) // copyright/original/emphasis
    // side info (stereo, 32 bytes)
    w.bits(0, 9) // main_data_begin
    w.bits(0, 3) // private (stereo)
    w.bits(0, 8) // scfsi both channels: none
    // right-channel intensity granule: zero spectrum, scalefactors only
    // (sfCompress 15 -> slen1=4 over 11 bands + slen2=3 over 10 = 74 bits)
    val isPart23 = 74
    var g = 0
    while (g < 2) {
      var ch = 0
      while (ch < 2) {
        if (ch == 0) {
          val m = meta(g)
          w.bits(m.part23, 12)
          w.bits(m.bigValues, 9)
          w.bits(m.globalGain, 8)
          w.bits(15, 4)
          w.bits(0, 1) // no window switching (intensity arm is long-only)
          w.bits(10, 5); w.bits(10, 5); w.bits(10, 5)
          w.bits(7, 4); w.bits(13, 3)
          w.bits(0, 1); w.bits(0, 1); w.bits(1, 1)
        } else {
          w.bits(isPart23, 12)
          w.bits(0, 9) // big_values 0
          w.bits(210, 8) // global gain (unused: zero spectrum)
          w.bits(15, 4)
          w.bits(0, 1)
          w.bits(0, 5); w.bits(0, 5); w.bits(0, 5)
          w.bits(0, 4); w.bits(0, 3)
          w.bits(0, 1); w.bits(0, 1); w.bits(0, 1)
        }
        ch += 1
      }
      g += 1
    }
    // main data: per granule, left channel bits then right is_pos scalefacs
    g = 0
    while (g < 2) {
      appendBits(w, granBits(g), meta(g).part23)
      var sfb = 0
      while (sfb < 11) { w.bits(isPos, 4); sfb += 1 }
      while (sfb < 21) { w.bits(isPos, 3); sfb += 1 }
      g += 1
    }
    val head = w.result()
    require(head.length <= frameLen,
      s"intensity frame overflow: ${head.length} > $frameLen")
    java.util.Arrays.copyOf(head, frameLen)
  }

  /** The first `nBits` bits of `bytes`, MSB-first, onto `w`. */
  private def appendBits(w: MsbWriter, bytes: Array[Byte], nBits: Int): Unit = {
    val r = new MsbReader(bytes)
    var left = nBits
    while (left > 0) {
      val n = math.min(left, 32)
      w.bits(r.bits(n), n)
      left -= n
    }
  }
}
