package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** The fingerprint's MP3 roundtrip drift over many planted signals: the
  * per-signal budget of [[Mp3Spec]]'s roundtrip test (Hamming ≤ 4) must
  * hold for each of 60 SplitMix64-planted targets, not just the one that
  * test pins.
  */
class Mp3DriftSpec extends AnyFunSuite {
  test("MP3 roundtrip drift stays within Hamming 4 over 60 planted signals") {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val dists = (0 until 60).map { i =>
      val target = mix(i * 25L + 7)
      val samples = AudioFp.synthSamples(target)
      val mono = Mp3.decodeMono(Mp3Enc.encode(samples))
      assert(mono.isDefined, s"signal $i: the encoded stream did not decode")
      java.lang.Long.bitCount(AudioFp.fingerprint(mono.get) ^ target)
    }
    val hist = dists.groupBy(identity).map { case (d, n) => d -> n.size }.toSeq.sorted
    info(s"max=${dists.max} histogram=$hist")
    assert(dists.max <= 4, s"MP3 roundtrip fingerprint drifted too far: histogram $hist")
  }
}
