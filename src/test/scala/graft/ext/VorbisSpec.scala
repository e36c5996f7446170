package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** Vorbis decode certificates: codeword assignment, float32 unpack,
  * packet reassembly, end-to-end roundtrip SNR + alignment, floor
  * variants, and the fingerprint budget.
  */
class VorbisSpec extends AnyFunSuite {

  test("float32_unpack and lookup1_values follow the spec closed forms") {
    // 1.0 = mantissa 1, exponent 788
    assert(Vorbis.float32Unpack((788L << 21) | 1L) == 1.0)
    assert(Vorbis.float32Unpack((1L << 31) | (788L << 21) | 7L) == -7.0)
    assert(Vorbis.float32Unpack((789L << 21) | 3L) == 6.0)
    assert(Vorbis.lookup1Values(256, 2) == 16)
    assert(Vorbis.lookup1Values(225, 2) == 15)
    assert(Vorbis.lookup1Values(26, 3) == 2)
  }

  test("inverse-dB amplitude map matches the published endpoints") {
    assert(Vorbis.inverseDb(255) == 1.0)
    assert(math.abs(Vorbis.inverseDb(0) - 1.0649863e-07) / 1.0649863e-07 < 1e-6)
    // geometric: constant ratio between adjacent entries
    val r0 = Vorbis.inverseDb(100) / Vorbis.inverseDb(99)
    val r1 = Vorbis.inverseDb(200) / Vorbis.inverseDb(199)
    assert(math.abs(r0 - r1) < 1e-12)
  }

  test("Ogg packet reassembly: multi-packet pages and page-spanning packets") {
    val pkts = Seq(
      Array.tabulate(100)(_.toByte),
      Array.tabulate(300)(i => (i * 7).toByte), // spans lacing boundaries
      Array.tabulate(3)(i => (i + 1).toByte))
    val stream = new java.io.ByteArrayOutputStream()
    stream.write(Ogg.page(2, 0, 5, 0, pkts(0)))
    stream.write(Ogg.page(0, 1, 5, 1, pkts(1)))
    stream.write(Ogg.page(4, 2, 5, 2, pkts(2)))
    val got = Ogg.packets(stream.toByteArray)
    assert(got.length == 3)
    assert(got(0).sameElements(pkts(0)))
    assert(got(1).sameElements(pkts(1)))
    assert(got(2).sameElements(pkts(2)))
  }

  test("encode->decode roundtrip: aligned at sample 0, fingerprint-grade SNR") {
    val n = 4096
    val src = Array.tabulate(n)(t =>
      (6000 * math.sin(2 * math.Pi * 440.0 / 44100 * t) +
        3000 * math.sin(2 * math.Pi * 1230.0 / 44100 * t + 0.7)).toInt)
    val ogg = VorbisEnc.encode(src)
    assert(Ogg.meta(ogg).exists(m => m.codec == "vorbis" && m.channels == 1),
      "fixture stream must triage as Ogg/Vorbis")
    val dec = Vorbis.decode(ogg)
    assert(dec.isDefined, "fixture stream failed to decode")
    assert(dec.get.sampleRate == 44100 && dec.get.channels == 1)
    val got = dec.get.samples
    assert(got.length >= n, s"decoded too short: ${got.length}")
    def snrAt(shift: Int): Double = {
      var se = 0.0
      var ss = 0.0
      var i = 256
      while (i < n - 256) {
        val g = if (i + shift >= 0 && i + shift < got.length) got(i + shift) else 0
        val e = src(i).toDouble - g
        se += e * e
        ss += src(i).toDouble * src(i)
        i += 1
      }
      10.0 * math.log10(ss / math.max(se, 1e-30))
    }
    val best = (-300 to 300).maxBy(snrAt)
    assert(best == 0, s"decode alignment off by $best samples")
    val snr = snrAt(0)
    assert(snr > 14.0, s"roundtrip SNR too low for fingerprinting: $snr dB")
  }

  test("flat-floor variant (2-point X list) roundtrips too") {
    val n = 2304
    val src = Array.tabulate(n)(t =>
      (5000 * math.sin(2 * math.Pi * 700.0 / 44100 * t)).toInt)
    val ogg = VorbisEnc.encode(src, flatFloor = true)
    val dec = Vorbis.decode(ogg)
    assert(dec.isDefined, "flat-floor stream failed to decode")
    val got = dec.get.samples
    var se = 0.0
    var ss = 0.0
    var i = 256
    while (i < n - 256) {
      val e = src(i).toDouble - (if (i < got.length) got(i) else 0)
      se += e * e
      ss += src(i).toDouble * src(i)
      i += 1
    }
    val snr = 10.0 * math.log10(ss / math.max(se, 1e-30))
    assert(snr > 12.0, s"flat-floor roundtrip SNR too low: $snr dB")
  }

  test("silence encodes through the do-not-decode channel path") {
    val ogg = VorbisEnc.encode(new Array[Int](2048))
    val dec = Vorbis.decode(ogg)
    assert(dec.isDefined)
    assert(dec.get.samples.forall(v => math.abs(v) <= 1),
      "silent stream must decode to (near-)silence")
  }

  test("fingerprint survives the Vorbis roundtrip within a bounded Hamming budget") {
    val target = 0x5AA5F00F3CC3A55AL
    val samples = AudioFp.synthSamples(target)
    assert(AudioFp.fingerprint(AudioFp.wavPcm16(samples)).contains(target))
    val ogg = VorbisEnc.encode(samples)
    val mono = Vorbis.decodeMono(ogg)
    assert(mono.isDefined)
    val fp = AudioFp.fingerprint(mono.get)
    val dist = java.lang.Long.bitCount(fp ^ target)
    assert(dist <= 4, s"Vorbis roundtrip fingerprint drifted too far: Hamming $dist")
    // and the AudioFp seam routes raw Ogg payloads through this arm
    assert(AudioFp.fingerprint(ogg).exists(f =>
      java.lang.Long.bitCount(f ^ target) <= 4))
  }

  test("crafted huge lookup-type-2 codebook gates (IAE) before allocating") {
    // entries (2^22) * dims (16) would be a 64 M-element mults array and a
    // 512 MB vq table — an OutOfMemoryError is NOT caught by the NonFatal
    // gate in decode(), so the allocation cap must throw
    // IllegalArgumentException first. Build the codebook bits directly
    // (LSB-first, as Reader consumes them).
    val bits = scala.collection.mutable.ArrayBuffer[Int]()
    def put(v: Long, n: Int): Unit = (0 until n).foreach(i => bits += ((v >> i) & 1L).toInt)
    put(0x564342L, 24) // "BCV" sync
    put(16, 16)        // dims
    put(1 << 22, 24)   // entries (max the size check allows)
    put(1, 1)          // ordered lengths
    put(0, 5)          // initial length 1
    put(1 << 22, 23)   // ilog(2^22) = 23 bits: fill ALL entries at length 1
    put(2, 4)          // lookup type 2 (mults = entries * dims)
    put(0, 32); put(0, 32) // minVal, delta
    put(0, 4)          // valueBits - 1
    put(0, 1)          // seqP
    put(0, 64)         // slack the reader may touch before the cap fires
    val payload = new Array[Byte]((bits.length + 7) / 8)
    bits.zipWithIndex.foreach { case (b, i) =>
      if (b != 0) payload(i >> 3) = (payload(i >> 3) | (1 << (i & 7))).toByte
    }
    // IllegalArgumentException (NonFatal -> decode() gates None), not
    // OutOfMemoryError / NegativeArraySizeException from the allocation
    intercept[IllegalArgumentException] {
      Vorbis.readCodebook(new LsbReader(payload))
    }
  }

  test("hostile bytes: garbage, truncation, bit flips never throw") {
    val rng = new scala.util.Random(13)
    for (len <- Seq(0, 5, 64, 1024)) {
      val junk = Array.fill(len)(rng.nextInt(256).toByte)
      Vorbis.decode(junk)
      Ogg.packets(junk)
    }
    val good = VorbisEnc.encode(Array.tabulate(1200)(t => (800 * math.sin(t * 0.1)).toInt))
    for (cut <- Seq(1, good.length / 4, good.length / 2, good.length - 3)) {
      Vorbis.decode(java.util.Arrays.copyOf(good, cut))
    }
    for (flip <- Seq(40, good.length / 2, good.length - 10)) {
      val bad = good.clone()
      bad(flip) = (bad(flip) ^ 0xA5).toByte
      Vorbis.decode(bad)
    }
  }
}
