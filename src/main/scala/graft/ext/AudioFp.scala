package graft.ext

import graft.ext.Bytes.{putLe16, putLe32}

/** Perceptual audio fingerprint: the missing cell of the dedup modality
  * matrix (text → MinHash/SimHash, images → aHash, embeddings →
  * hyperplane LSH; audio previously deduped on exact bytes only).
  *
  * Model (Haitsma–Kalker-style band-energy signs, computed on the same
  * decode the stats arms use — reference analog: the byte-stream stage
  * contract, /root/reference/index.js:14-27):
  *   - decode to mono 16-bit-equivalent samples ([[AudioHeaders
  *     .foreachSample]] for the WAV PCM/float/G.711/ADPCM family,
  *     [[Flac.decode]] for FLAC — lossless, so a FLAC re-encode of the
  *     same capture fingerprints IDENTICALLY to its WAV: cross-codec
  *     dedup for free, certified by q_dedup_audio_anchor — and
  *     [[Mp3.decodeMono]] for MPEG Layer III, lossy, so an MP3
  *     re-encode pairs within a small bounded Hamming distance);
  *   - 9 non-overlapping 256-sample frames (2304 samples ≈ 0.3 s at
  *     8 kHz; shorter audio zero-pads, a silent frame has zero energy);
  *   - per frame, Goertzel spectral power at 8 fixed DFT bins
  *     (k = 4, 8, …, 32 of the 256-point frame);
  *   - bit t·8+b = 1 iff band b's energy FELL from frame t to t+1.
  * Differential signs make the fingerprint invariant to uniform gain
  * (scaling every sample scales every energy by the same factor) and
  * robust to additive noise well below the band energies — the
  * perturbations a re-encoded/re-mastered near-duplicate actually has.
  *
  * Near-dup serving reuses the Hamming pigeonhole blocking verbatim
  * ([[Dedup.hammingPairs64]] — bands-not-pairs, never all-pairs), so the
  * 100 TB shape is identical to image/simhash dedup: map-only
  * fingerprinting, then block-local candidate generation.
  *
  * [[synthSamples]] is the inverse used by the anchor certificate: for
  * any 64-bit target it builds audio whose fingerprint is EXACTLY the
  * target (per band, a ×1.5 amplitude walk descending where the target
  * bit demands falling energy; exact-bin cosines are orthogonal under
  * the rectangular 256-sample window, so band energies are controlled
  * independently and int16 rounding noise is ~2 orders of magnitude
  * below the smallest level gap).
  */
object AudioFp {

  val FrameLen = 256
  val Frames = 9
  val Bands = 8

  private def bin(b: Int): Int = 4 * (b + 1)

  /** Mono 16-bit-equivalent samples for any decodable WAV-family, FLAC
    * or MPEG Layer III payload; None (never a throw) otherwise.
    * Multi-channel audio is mixed down by truncated integer mean —
    * deterministic, and identical for WAV and FLAC encodings of the same
    * capture; MP3 decodes through [[Mp3]] (lossy, so an MP3 re-encode
    * fingerprints within a small Hamming budget rather than exactly —
    * the bound the gain-invariance argument above gives at high
    * bitrate, certified by q_dedup_audio_anchor's MP3 plant).
    */
  def monoSamples(payload: Array[Byte]): Option[Array[Int]] = {
    if (payload == null || payload.length < 4) return None
    try {
      if (Mp3.isMp3(payload)) {
        Mp3.decodeMono(payload)
      } else if (Vorbis.isVorbis(payload)) {
        Vorbis.decodeMono(payload)
      } else if (payload(0) == 'f' && payload(1) == 'L' && payload(2) == 'a' &&
          payload(3) == 'C') {
        Flac.decode(payload).map { a =>
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
      } else {
        val buf = new scala.collection.mutable.ArrayBuilder.ofInt
        AudioHeaders.foreachSample(payload)(buf += _).map { case (_, channels, _, _) =>
          val inter = buf.result()
          if (channels == 1) inter
          else {
            val n = inter.length / channels
            Array.tabulate(n) { i =>
              var acc = 0L
              var c = 0
              while (c < channels) { acc += inter(i * channels + c); c += 1 }
              (acc / channels).toInt
            }
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Goertzel spectral power at DFT bin `k` of the 256-sample frame at
    * `off` (zero-padded past the end of `samples`).
    */
  private def bandEnergy(samples: Array[Int], off: Int, k: Int): Double = {
    val coeff = 2.0 * math.cos(2.0 * math.Pi * k / FrameLen)
    var s1 = 0.0
    var s2 = 0.0
    var n = 0
    while (n < FrameLen) {
      val x = if (off + n < samples.length) samples(off + n).toDouble else 0.0
      val s0 = x + coeff * s1 - s2
      s2 = s1; s1 = s0
      n += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** The 64-bit band-energy-sign fingerprint of decoded mono samples. */
  def fingerprint(samples: Array[Int]): Long = {
    val e = Array.ofDim[Double](Frames, Bands)
    var t = 0
    while (t < Frames) {
      var b = 0
      while (b < Bands) {
        e(t)(b) = bandEnergy(samples, t * FrameLen, bin(b))
        b += 1
      }
      t += 1
    }
    var fp = 0L
    t = 0
    while (t < Frames - 1) {
      var b = 0
      while (b < Bands) {
        if (e(t)(b) > e(t + 1)(b)) fp |= 1L << (t * Bands + b)
        b += 1
      }
      t += 1
    }
    fp
  }

  /** Fingerprint of a raw payload; None when no decode arm accepts it. */
  def fingerprint(payload: Array[Byte]): Option[Long] =
    monoSamples(payload).map(fingerprint)

  /** TIME-OFFSET CONTRACT (round-15 ask): [[fingerprint]] frames from
    * sample 0, so it is alignment-SENSITIVE by design — a copy of the
    * same capture shifted by e.g. 128 samples frames different windows
    * and generally lands far outside the pairing budget (Mp3Spec pins
    * this). [[fingerprintOnset]] is the alignment-robust variant: it
    * anchors the 9-frame window at the first ONSET (the first sample
    * with |x| ≥ max(64, peak/16)), so leading-silence shifts of ANY
    * length — trims, DAW exports, padded captures — fingerprint
    * IDENTICALLY (the frames cover the same samples), certified by
    * q_dedup_audio_offset_anchor with oracle-exact counts. Mid-signal
    * crops remain outside both contracts (no landmark indexing here).
    */
  def fingerprintOnset(samples: Array[Int]): Long =
    fingerprint(java.util.Arrays.copyOfRange(samples, onset(samples),
      samples.length))

  /** Onset-anchored fingerprint of a raw payload. */
  def fingerprintOnset(payload: Array[Byte]): Option[Long] =
    monoSamples(payload).map(fingerprintOnset)

  /** First sample index whose magnitude reaches max(64, peak/16); 0 for
    * silence (the plain framing, so silent payloads agree across both
    * variants). */
  private[ext] def onset(samples: Array[Int]): Int = {
    var peak = 0
    var i = 0
    while (i < samples.length) {
      val a = math.abs(samples(i)); if (a > peak) peak = a; i += 1
    }
    val thresh = math.max(64, peak / 16)
    i = 0
    while (i < samples.length && math.abs(samples(i)) < thresh) i += 1
    if (i >= samples.length) 0 else i
  }

  /** Audio whose fingerprint is EXACTLY `target` — the anchor-certificate
    * inverse. Per band b, an amplitude walk over the 9 frames: level
    * steps DOWN across transition t when target bit t·8+b is set (energy
    * must fall), UP otherwise; amp = 150 · 1.5^level keeps the worst-case
    * frame sum (all 8 bands at level +8, cosine peaks aligned at n=0)
    * ≈ 30 760 < 32 767, and the smallest level's DFT magnitude (≈ 750)
    * ~160× the int16 rounding-noise magnitude (≈ 4.6 RMS).
    */
  /** cos(2π·bin(b)·n/FrameLen) for every (band, in-frame sample) — the
    * synth inner loop evaluated this 8×256 grid with a live math.cos per
    * sample (18 432 calls per synthesized document; the dedup-audio
    * queries synthesize thousands of documents per run). The table holds
    * the SAME expression evaluated once per cell, so every emitted
    * sample is bit-identical to the call-per-sample form (round-16
    * optimization; per-task-work class, guide §1.2 step 2).
    */
  private lazy val synthCos: Array[Array[Double]] =
    Array.tabulate(Bands, FrameLen)((b, n) =>
      math.cos(2.0 * math.Pi * bin(b) * n / FrameLen))

  private[graft] def synthSamples(target: Long): Array[Int] = {
    val level = Array.ofDim[Int](Bands, Frames)
    var b = 0
    while (b < Bands) {
      var t = 0
      while (t < Frames - 1) {
        val falling = ((target >>> (t * Bands + b)) & 1L) == 1L
        level(b)(t + 1) = level(b)(t) + (if (falling) -1 else 1)
        t += 1
      }
      b += 1
    }
    val out = new Array[Int](Frames * FrameLen)
    var t = 0
    while (t < Frames) {
      val amps = Array.tabulate(Bands)(b2 => 150.0 * math.pow(1.5, level(b2)(t)))
      var n = 0
      while (n < FrameLen) {
        var x = 0.0
        var b2 = 0
        while (b2 < Bands) {
          x += amps(b2) * synthCos(b2)(n)
          b2 += 1
        }
        out(t * FrameLen + n) = math.round(x).toInt
        n += 1
      }
      t += 1
    }
    out
  }

  /** Minimal RIFF/fmt/data 16-bit mono PCM container around `samples` —
    * fixture writer for specs and the anchor certificate.
    */
  private[graft] def wavPcm16(samples: Array[Int], rate: Int = 8000): Array[Byte] = {
    val n = samples.length
    val bytes = wavFile(formatTag = 1, channels = 1, rate = rate, bits = 16,
      blockAlign = 2, dataLen = n * 2)
    var i = 0
    while (i < n) {
      putLe16(bytes, 44 + i * 2, samples(i))
      i += 1
    }
    bytes
  }

  /** A WAVE file of `dataLen` zero data bytes behind its RIFF, `fmt ` and
    * `data` headers — the one WAVE header writer; callers fill the data
    * from offset `length - dataLen`. The byte rate is rate × blockAlign.
    * A block-coded format (IMA ADPCM) passes `samplesPerBlock` > 0: the
    * `fmt ` chunk then carries the two-byte extension holding it, and the
    * byte rate is divided by it.
    */
  private[graft] def wavFile(formatTag: Int, channels: Int, rate: Int, bits: Int,
      blockAlign: Int, dataLen: Int, samplesPerBlock: Int = 0): Array[Byte] = {
    val fmtLen = if (samplesPerBlock > 0) 20 else 16
    val bytes = new Array[Byte](28 + fmtLen + dataLen)
    def ascii(off: Int, v: String): Unit =
      System.arraycopy(v.getBytes("US-ASCII"), 0, bytes, off, 4)
    ascii(0, "RIFF"); putLe32(bytes, 4, bytes.length - 8); ascii(8, "WAVE")
    ascii(12, "fmt "); putLe32(bytes, 16, fmtLen)
    putLe16(bytes, 20, formatTag); putLe16(bytes, 22, channels)
    putLe32(bytes, 24, rate)
    putLe32(bytes, 28, rate * blockAlign / math.max(samplesPerBlock, 1))
    putLe16(bytes, 32, blockAlign); putLe16(bytes, 34, bits)
    if (samplesPerBlock > 0) { putLe16(bytes, 36, 2); putLe16(bytes, 38, samplesPerBlock) }
    ascii(20 + fmtLen, "data"); putLe32(bytes, 24 + fmtLen, dataLen)
    bytes
  }
}
