package graft.ext

import graft.ext.Bytes.be16
import graft.ext.Png.Image

/** Pure-JVM baseline JPEG decoder, written against the public ITU-T T.81
  * spec (the same discipline as [[Png]]: no ImageIO, no external codec —
  * `java.util.zip` isn't even needed here since JPEG's entropy layer is
  * Huffman, implemented below from the spec's canonical-code algorithm).
  *
  * Envelope: baseline, extended-sequential, and PROGRESSIVE DCT
  * (SOF0/SOF1/SOF2 — spectral selection + successive approximation per
  * T.81 Annex G), 8-bit precision, grayscale or 3-component YCbCr
  * (JFIF), any H/V sampling factors 1-4, restart markers, 8- and 16-bit
  * quantization tables. Arithmetic coding, hierarchical, 12-bit,
  * CMYK/Adobe-transformed payloads return None and flow to the ImageIO
  * arm of [[Png.decodeAny]] — never a wrong decode. Structurally corrupt
  * payloads (bad markers, bad lengths, bad Huffman tables, out-of-range
  * coefficients, out-of-sequence restarts) are rejected (None), and any
  * exception the guards miss is caught at the top; a stream truncated
  * inside the entropy segment completes with T.81's zero-bit fill (the
  * same convention every mainstream decoder uses), it does not crash.
  *
  * Reference behavior mirrored (gasket delegates decode to external
  * stages; see /root/reference/index.js:30-69 for the stage contract):
  * this codec exists so image dedup/stats operators run on real pixels
  * inside the JVM task with no process hop.
  *
  * Determinism: IDCT and YCbCr→RGB are the de-facto reference INTEGER
  * arithmetic (libjpeg's islow factorization and 16-bit fixed-point
  * conversion, constants derived from their closed forms) — same every
  * run, every JVM, and BIT-EXACT to the on-disk public libjpeg
  * (JpegInteropSpec pins equality on libjpeg-encoded fixtures,
  * baseline + progressive, gray/4:4:4/4:2:0). DC-only blocks (solid
  * rasters) reconstruct EXACTLY, which is what the certificate query
  * relies on; the ImageIO cross-validation in JpegSpec stays as a
  * second, JVM-internal comparator.
  */
object Jpeg {

  def isJpeg(b: Array[Byte]): Boolean =
    b.length > 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8

  def decode(bytes: Array[Byte]): Option[Image] =
    try decodeImpl(bytes)
    catch { case scala.util.control.NonFatal(_) => None }

  // ---------------------------------------------------------- tables

  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical Huffman table in the spec's mincode/maxcode/valptr form
    * (T.81 F.2.2.3): decode walks code lengths 1..16, comparing the
    * accumulated code against maxcode(len).
    */
  private final class Huff(counts: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    // fast path: first-8-bits LUT → (value << 8) | codeLen; 0 = code is
    // longer than 8 bits (or invalid), take the canonical walk instead
    val lut = new Array[Int](256)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        var c = 0
        while (c < counts(l - 1)) {
          if (l <= 8) {
            val base = (code + c) << (8 - l)
            var f = 0
            while (f < (1 << (8 - l))) {
              lut(base + f) = ((vals(k + c) & 0xFF) << 8) | l
              f += 1
            }
          }
          c += 1
        }
        code += counts(l - 1); k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
    }
    def value(len: Int, code: Int): Int =
      vals(valPtr(len) + (code - minCode(len))) & 0xFF
  }

  // ---------------------------------------------------------- bit reader

  /** MSB-first reader over the entropy-coded segment. 0xFF00 is a
    * stuffed 0xFF data byte; a bare marker ends the segment (the reader
    * then feeds zero bits, per F.2.2.5's left-over-bits handling —
    * decode fails structurally later if the stream was truly short).
    * The one bit reader outside [[MsbReader]]: the unstuffing and the
    * marker stop are JPEG's byte format, not bit order, so it stays here.
    */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nBits = 0
    var markerHit = 0 // the marker byte that terminated the segment, if any

    def align(): Unit = { acc = 0; nBits = 0 }

    private def fill(): Unit = {
      if (markerHit != 0 || pos >= b.length) { acc = (acc << 8); nBits += 8; return }
      var v = b(pos) & 0xFF
      if (v == 0xFF) {
        val nxt = if (pos + 1 < b.length) b(pos + 1) & 0xFF else 0xD9
        if (nxt == 0x00) pos += 2            // stuffed data byte
        else { markerHit = nxt; v = 0 }      // marker: stop consuming
      } else pos += 1
      acc = (acc << 8) | v
      nBits += 8
    }

    def bit(): Int = {
      if (nBits == 0) fill()
      nBits -= 1
      (acc >>> nBits) & 1
    }

    def bits(n: Int): Int = {
      if (n == 0) return 0
      while (nBits < n) fill()
      nBits -= n
      (acc >>> nBits) & ((1 << n) - 1)
    }

    def huff(h: Huff): Int = {
      while (nBits < 8) fill()
      val e = h.lut((acc >>> (nBits - 8)) & 0xFF)
      if (e != 0) { nBits -= e & 0xFF; return e >>> 8 }
      // canonical walk for the rare >8-bit codes (T.81 F.16)
      var code = bit()
      var l = 1
      while (l <= 16) {
        if (h.maxCode(l) >= 0 && code <= h.maxCode(l)) return h.value(l, code)
        code = (code << 1) | bit()
        l += 1
      }
      throw new IllegalStateException("bad huffman code")
    }
  }

  /** T.81 F.2.2.1 EXTEND: map a magnitude-category value to its signed
    * coefficient.
    */
  @inline private def extend(v: Int, t: Int): Int =
    if (t == 0) 0
    else if (v < (1 << (t - 1))) v - (1 << t) + 1
    else v

  // ---------------------------------------------------------- decode

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int) {
    var dcTab = 0; var acTab = 0
    var pred = 0
    // padded plane at this component's sampling resolution
    var planeW = 0; var planeH = 0
    var plane: Array[Byte] = null
    // progressive: quantized coefficients for every block of the padded
    // MCU grid (blocksPerRow × blocksRows blocks, 64 ints each),
    // accumulated across scans and IDCT'd at EOI
    var coefs: Array[Int] = null
    var blocksPerRow = 0; var blocksRows = 0
    var nbw = 0; var nbh = 0 // actual data-unit grid (non-interleaved scans)
  }

  private def decodeImpl(b: Array[Byte]): Option[Image] = {
    if (!isJpeg(b)) return None
    val quant = Array.ofDim[Int](4, 64) // natural order
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var comps: Array[Comp] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var adobeTransform = -1 // APP14; -1 = absent (JFIF convention applies)
    var progressive = false
    var scansSeen = 0
    var resumeAt = -1
    var i = 2

    while (i + 2 <= b.length) {
      if ((b(i) & 0xFF) != 0xFF) return None
      val marker = b(i + 1) & 0xFF
      if (marker == 0xFF) { i += 1 } // optional fill byte before a marker
      else if (marker == 0xD8 || marker == 0x01 ||
        (marker >= 0xD0 && marker <= 0xD7)) { i += 2 }
      else if (marker == 0xD9) { // EOI
        return if (progressive && scansSeen > 0)
          finishProgressive(comps, quant, width, height, adobeTransform)
        else None // EOI before any scan
      }
      else {
        if (i + 4 > b.length) return None
        val len = be16(b, i + 2)
        if (len < 2 || i + 2 + len > b.length) return None
        val seg = i + 4
        val segEnd = i + 2 + len
        marker match {
          case 0xDB => // DQT: one or more (precision|id, 64 entries)
            var p = seg
            while (p < segEnd) {
              val pq = (b(p) & 0xF0) >> 4
              val tq = b(p) & 0x0F
              if (tq > 3 || pq > 1) return None
              p += 1
              var k = 0
              while (k < 64) {
                quant(tq)(Zigzag(k)) =
                  if (pq == 0) b(p + k) & 0xFF else be16(b, p + 2 * k)
                k += 1
              }
              p += (if (pq == 0) 64 else 128)
            }
          case 0xC4 => // DHT
            var p = seg
            while (p + 17 <= segEnd) {
              val tc = (b(p) & 0xF0) >> 4
              val th = b(p) & 0x0F
              if (tc > 1 || th > 3) return None
              val counts = Array.tabulate(16)(k => b(p + 1 + k) & 0xFF)
              val total = counts.sum
              if (p + 17 + total > segEnd) return None
              val vals = java.util.Arrays.copyOfRange(b, p + 17, p + 17 + total)
              val h = new Huff(counts, vals)
              if (tc == 0) dcTabs(th) = h else acTabs(th) = h
              p += 17 + total
            }
          case 0xC0 | 0xC1 | 0xC2 => // SOF0/1 sequential, SOF2 progressive
            if ((b(seg) & 0xFF) != 8) return None // 8-bit precision only
            progressive = marker == 0xC2
            height = be16(b, seg + 1)
            width = be16(b, seg + 3)
            val nf = b(seg + 5) & 0xFF
            if (width <= 0 || height <= 0) return None
            if (nf != 1 && nf != 3) return None // gray or YCbCr
            // decompression-bomb guard (same cap discipline as PNG);
            // progressive holds full coefficient arrays (4 B per sample),
            // so its cap is tighter
            if (width.toLong * height * nf >
              (if (progressive) 96L * 1024 * 1024 else 512L * 1024 * 1024))
              return None
            comps = Array.tabulate(nf) { c =>
              val o = seg + 6 + 3 * c
              val comp = Comp(b(o) & 0xFF, (b(o + 1) & 0xF0) >> 4,
                b(o + 1) & 0x0F, b(o + 2) & 0x0F)
              if (comp.h < 1 || comp.h > 4 || comp.v < 1 || comp.v > 4 ||
                comp.tq > 3) return None
              comp
            }
          case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
               0xCD | 0xCE | 0xCF =>
            return None // arithmetic / lossless / hierarchical
          case 0xDD => restartInterval = be16(b, seg)
          case 0xEE => // APP14 "Adobe": transform byte governs color model
            if (len >= 14 && b(seg) == 'A' && b(seg + 1) == 'd' &&
              b(seg + 2) == 'o' && b(seg + 3) == 'b' && b(seg + 4) == 'e')
              adobeTransform = b(seg + 11) & 0xFF
          case 0xDA => // SOS
            if (comps == null) return None
            val ns = b(seg) & 0xFF
            if (ns < 1 || ns > comps.length) return None
            val scanComps = new Array[Comp](ns)
            var p = seg + 1
            var c = 0
            while (c < ns) {
              val cs = b(p) & 0xFF
              val comp = comps.find(_.id == cs).getOrElse(return None)
              comp.dcTab = (b(p + 1) & 0xF0) >> 4
              comp.acTab = b(p + 1) & 0x0F
              if (comp.dcTab > 3 || comp.acTab > 3) return None
              scanComps(c) = comp
              p += 2; c += 1
            }
            val ss = b(p) & 0xFF
            val se = b(p + 1) & 0xFF
            val ah = (b(p + 2) & 0xF0) >> 4
            val al = b(p + 2) & 0x0F
            if (!progressive) {
              if (ns != comps.length) return None // sequential = one interleaved scan
              return decodeScan(b, segEnd, comps, quant, dcTabs, acTabs,
                width, height, restartInterval, adobeTransform)
            }
            if (scansSeen >= 256) return None // adversarial scan-count cap
            val next = decodeProgScan(b, segEnd, comps, scanComps,
              dcTabs, acTabs, width, height, restartInterval,
              ss, se, ah, al)
            if (next < 0) return None
            scansSeen += 1
            resumeAt = next
          case _ => // APPn / COM / DNL etc.: skip
        }
        i = if (resumeAt >= 0) { val r = resumeAt; resumeAt = -1; r } else segEnd
      }
    }
    None
  }

  private def decodeScan(b: Array[Byte], scanStart: Int, comps: Array[Comp],
      quant: Array[Array[Int]], dcTabs: Array[Huff], acTabs: Array[Huff],
      width: Int, height: Int, restartInterval: Int,
      adobeTransform: Int): Option[Image] = {
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    comps.foreach { c =>
      c.planeW = mcusX * c.h * 8
      c.planeH = mcusY * c.v * 8
      val cells = c.planeW.toLong * c.planeH
      if (cells > 768L * 1024 * 1024) return None
      c.plane = new Array[Byte](cells.toInt)
      c.pred = 0
      if (dcTabs(c.dcTab) == null || acTabs(c.acTab) == null) return None
      if (quant(c.tq) == null) return None
    }
    val r = new BitReader(b, scanStart)
    val coef = new Array[Int](64)
    val tmp = new Array[Int](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    var restartCount = 0
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        // RSTn: discard pad bits; pos then sits at the byte-aligned marker
        // (fill() never advances past a 0xFF marker byte). Optional 0xFF
        // fill bytes may precede the code.
        r.align()
        r.markerHit = 0
        while (r.pos + 1 < b.length && (b(r.pos) & 0xFF) == 0xFF &&
          (b(r.pos + 1) & 0xFF) == 0xFF) r.pos += 1
        val expected = 0xD0 + (restartCount % 8)
        if (r.pos + 1 >= b.length || (b(r.pos) & 0xFF) != 0xFF ||
          (b(r.pos + 1) & 0xFF) != expected) return None
        r.pos += 2
        restartCount += 1
        comps.foreach(_.pred = 0)
      }
      val my = mcu / mcusX
      val mx = mcu % mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val qt = quant(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            java.util.Arrays.fill(coef, 0)
            // DC
            val t = r.huff(dcTabs(c.dcTab))
            if (t > 15) return None
            c.pred += extend(r.bits(t), t)
            coef(0) = c.pred * qt(0)
            // AC
            var k = 1
            var lastK = 0
            var done = false
            while (!done && k < 64) {
              val rs = r.huff(acTabs(c.acTab))
              val run = (rs >> 4) & 0xF
              val size = rs & 0xF
              if (size == 0) {
                if (run == 15) k += 16 // ZRL
                else done = true       // EOB
              } else {
                k += run
                if (k > 63) return None
                val z = Zigzag(k)
                coef(z) = extend(r.bits(size), size) * qt(z)
                lastK = k
                k += 1
              }
            }
            idctBlock(coef, tmp, c.plane, c.planeW,
              (my * c.v + by) * 8, (mx * c.h + bx) * 8, lastK)
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    Some(assemble(comps, width, height, hMax, vMax, adobeTransform))
  }

  /** One progressive scan (T.81 Annex G): DC first/refine (interleaved or
    * not), AC first/refine (single-component, spectral band Ss..Se,
    * successive-approximation bit Al). Coefficients accumulate in each
    * component's `coefs` array in the quantized domain; IDCT happens once
    * at EOI in [[finishProgressive]]. Returns the byte offset of the next
    * marker after the scan, or -1 on a malformed scan.
    */
  private def decodeProgScan(b: Array[Byte], scanStart: Int,
      comps: Array[Comp], scanComps: Array[Comp],
      dcTabs: Array[Huff], acTabs: Array[Huff],
      width: Int, height: Int, restartInterval: Int,
      ss: Int, se: Int, ah: Int, al: Int): Int = {
    val isDc = ss == 0
    if (se > 63 || ss > se || al > 13 || ah > 13) return -1
    if (isDc && se != 0) return -1
    if (!isDc && scanComps.length != 1) return -1 // AC scans: one component
    if (ah != 0 && ah != al + 1) return -1 // successive approx. steps by 1
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    comps.foreach { c =>
      if (c.coefs == null) {
        c.blocksPerRow = mcusX * c.h
        c.blocksRows = mcusY * c.v
        c.coefs = new Array[Int](c.blocksPerRow * c.blocksRows * 64)
        val compW = (width * c.h + hMax - 1) / hMax
        val compH = (height * c.v + vMax - 1) / vMax
        c.nbw = (compW + 7) / 8
        c.nbh = (compH + 7) / 8
      }
    }
    scanComps.foreach { c =>
      c.pred = 0
      if (isDc && ah == 0 && dcTabs(c.dcTab) == null) return -1
      if (!isDc && ah == 0 && acTabs(c.acTab) == null) return -1
      if (!isDc && ah != 0 && acTabs(c.acTab) == null) return -1
    }
    val r = new BitReader(b, scanStart)
    var eobrun = 0

    def dcFirst(c: Comp, off: Int): Boolean = {
      val t = r.huff(dcTabs(c.dcTab))
      if (t > 15) return false
      c.pred += extend(r.bits(t), t)
      c.coefs(off) = c.pred << al
      true
    }
    def dcRefine(c: Comp, off: Int): Boolean = {
      if (r.bit() == 1) c.coefs(off) |= (1 << al)
      true
    }
    def acFirst(c: Comp, off: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      var k = ss
      while (k <= se) {
        val rs = r.huff(acTabs(c.acTab))
        val run = (rs >> 4) & 0xF
        val size = rs & 0xF
        if (size == 0) {
          if (run == 15) k += 16 // ZRL
          else {
            eobrun = (1 << run) - 1 + (if (run > 0) r.bits(run) else 0)
            return true
          }
        } else {
          k += run
          if (k > se) return false
          c.coefs(off + Zigzag(k)) = extend(r.bits(size), size) << al
          k += 1
        }
      }
      true
    }
    def acRefine(c: Comp, off: Int): Boolean = {
      val p1 = 1 << al
      val m1 = -1 << al
      var k = ss
      if (eobrun == 0) {
        var loop = true
        while (loop && k <= se) {
          val rs = r.huff(acTabs(c.acTab))
          var run = (rs >> 4) & 0xF
          val size = rs & 0xF
          var newVal = 0
          if (size == 0) {
            if (run != 15) {
              // EOBn covers this block too; decremented after the band tail
              eobrun = (1 << run) + (if (run > 0) r.bits(run) else 0)
              loop = false
            } // run == 15 → ZRL: pass 16 zero-history coefficients
          } else {
            if (size != 1) return false // refine appends single-bit values
            newVal = if (r.bit() == 1) p1 else m1
          }
          if (loop) {
            var placed = false
            while (!placed && k <= se) {
              val z = off + Zigzag(k)
              if (c.coefs(z) != 0) {
                // correction bit for every nonzero-history coefficient
                if (r.bit() == 1 && (c.coefs(z) & p1) == 0)
                  c.coefs(z) += (if (c.coefs(z) > 0) p1 else m1)
              } else {
                if (run == 0) {
                  if (newVal != 0) c.coefs(z) = newVal
                  placed = true
                }
                run -= 1
              }
              k += 1
            }
            if (!placed && newVal != 0) return false // band ended mid-run
          }
        }
      }
      if (eobrun > 0) {
        // EOB region still refines the band's existing nonzero coefficients
        while (k <= se) {
          val z = off + Zigzag(k)
          if (c.coefs(z) != 0) {
            if (r.bit() == 1 && (c.coefs(z) & p1) == 0)
              c.coefs(z) += (if (c.coefs(z) > 0) p1 else m1)
          }
          k += 1
        }
        eobrun -= 1
      }
      true
    }
    def decodeUnit(c: Comp, off: Int): Boolean =
      if (isDc) { if (ah == 0) dcFirst(c, off) else dcRefine(c, off) }
      else { if (ah == 0) acFirst(c, off) else acRefine(c, off) }

    var restartCount = 0
    def restart(unitIdx: Int): Boolean = {
      if (restartInterval == 0 || unitIdx == 0 ||
        unitIdx % restartInterval != 0) return true
      r.align(); r.markerHit = 0
      while (r.pos + 1 < b.length && (b(r.pos) & 0xFF) == 0xFF &&
        (b(r.pos + 1) & 0xFF) == 0xFF) r.pos += 1
      val expected = 0xD0 + (restartCount % 8)
      if (r.pos + 1 >= b.length || (b(r.pos) & 0xFF) != 0xFF ||
        (b(r.pos + 1) & 0xFF) != expected) return false
      r.pos += 2
      restartCount += 1
      scanComps.foreach(_.pred = 0)
      eobrun = 0
      true
    }

    if (scanComps.length > 1) {
      // interleaved (DC scans only, enforced above): full MCU grid
      var mcu = 0
      val nMcus = mcusX * mcusY
      while (mcu < nMcus) {
        if (!restart(mcu)) return -1
        val my = mcu / mcusX
        val mx = mcu % mcusX
        var ci = 0
        while (ci < scanComps.length) {
          val c = scanComps(ci)
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              val blk = (my * c.v + by) * c.blocksPerRow + (mx * c.h + bx)
              if (!decodeUnit(c, blk * 64)) return -1
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcu += 1
      }
    } else {
      // non-interleaved: data units traverse the component's OWN block
      // grid (ceil of its scaled dimensions), not the padded MCU grid
      val c = scanComps(0)
      val nUnits = c.nbw * c.nbh
      var u = 0
      while (u < nUnits) {
        if (!restart(u)) return -1
        val blk = (u / c.nbw) * c.blocksPerRow + (u % c.nbw)
        if (!decodeUnit(c, blk * 64)) return -1
        u += 1
      }
    }
    // locate the next marker after the scan's entropy data
    r.align()
    var p = r.pos
    while (p + 1 < b.length &&
      !((b(p) & 0xFF) == 0xFF && (b(p + 1) & 0xFF) != 0x00)) p += 1
    if (p + 1 >= b.length) -1 else p
  }

  /** Dequantize + IDCT every accumulated progressive block into the
    * component planes, then color-assemble — the single reconstruction
    * pass at EOI.
    */
  private def finishProgressive(comps: Array[Comp],
      quant: Array[Array[Int]], width: Int, height: Int,
      adobeTransform: Int): Option[Image] = {
    if (comps == null || comps.exists(_.coefs == null)) return None
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val coefBuf = new Array[Int](64)
    val tmp = new Array[Int](64)
    comps.foreach { c =>
      val qt = quant(c.tq)
      c.planeW = c.blocksPerRow * 8
      c.planeH = c.blocksRows * 8
      c.plane = new Array[Byte](c.planeW * c.planeH)
      val nBlk = c.blocksPerRow * c.blocksRows
      var blk = 0
      while (blk < nBlk) {
        val off = blk * 64
        var lastNz = 0
        var j = 0
        while (j < 64) {
          val v = c.coefs(off + j)
          coefBuf(j) = v * qt(j)
          if (v != 0 && j > 0) lastNz = 1
          j += 1
        }
        idctBlock(coefBuf, tmp, c.plane, c.planeW,
          (blk / c.blocksPerRow) * 8, (blk % c.blocksPerRow) * 8, lastNz)
        blk += 1
      }
      c.coefs = null // release before assembly
    }
    Some(assemble(comps, width, height, hMax, vMax, adobeTransform))
  }

  /** Integer 2-D IDCT, BIT-EXACT to libjpeg's `jpeg_idct_islow`
    * (Loeffler-Ligtenberg-Moshovitz factorization, 13-bit fixed point,
    * 2-bit pass-1 scaling): columns → workspace → rows, then level
    * shift +128 and clamp into the component plane. Matching the
    * de-facto reference arithmetic exactly is what lets
    * JpegInteropSpec assert EQUALITY (not ±1) against libjpeg's own
    * decode — a single wrong constant or descale fails those rows. The
    * DC-only shortcut is the same collapse libjpeg performs (both
    * descales of a lone DC term, exact by linearity).
    */
  private def idctBlock(coef: Array[Int], tmp: Array[Int],
      plane: Array[Byte], planeW: Int, y0: Int, x0: Int, lastK: Int): Unit = {
    if (lastK == 0) {
      // DC-only: both islow passes collapse to one descale of the DC
      val iv = ((coef(0) << P1) + (1 << (P1 + 2))) >> (P1 + 3)
      val i2 = iv + 128
      val flat = (if (i2 < 0) 0 else if (i2 > 255) 255 else i2).toByte
      var yy = 0
      while (yy < 8) {
        java.util.Arrays.fill(plane, (y0 + yy) * planeW + x0,
          (y0 + yy) * planeW + x0 + 8, flat)
        yy += 1
      }
      return
    }
    // pass 1: columns → workspace (scaled by 2^P1)
    var ctr = 0
    while (ctr < 8) {
      var z2 = coef(ctr + 8 * 2)
      var z3 = coef(ctr + 8 * 6)
      var z1 = (z2 + z3) * F_0_541196100
      val etmp2 = z1 - z3 * F_1_847759065
      val etmp3 = z1 + z2 * F_0_765366865
      z2 = coef(ctr)
      z3 = coef(ctr + 8 * 4)
      val etmp0 = (z2 + z3) << CB
      val etmp1 = (z2 - z3) << CB
      val tmp10 = etmp0 + etmp3
      val tmp13 = etmp0 - etmp3
      val tmp11 = etmp1 + etmp2
      val tmp12 = etmp1 - etmp2
      var t0 = coef(ctr + 8 * 7)
      var t1 = coef(ctr + 8 * 5)
      var t2 = coef(ctr + 8 * 3)
      var t3 = coef(ctr + 8 * 1)
      z1 = t0 + t3
      z2 = t1 + t2
      z3 = t0 + t2
      var z4 = t1 + t3
      val z5 = (z3 + z4) * F_1_175875602
      t0 *= F_0_298631336
      t1 *= F_2_053119869
      t2 *= F_3_072711026
      t3 *= F_1_501321110
      z1 *= -F_0_899976223
      z2 *= -F_2_562915447
      z3 = z3 * -F_1_961570560 + z5
      z4 = z4 * -F_0_390180644 + z5
      t0 += z1 + z3
      t1 += z2 + z4
      t2 += z2 + z3
      t3 += z1 + z4
      def ds1(v: Int): Int = (v + (1 << (CB - P1 - 1))) >> (CB - P1)
      tmp(8 * 0 + ctr) = ds1(tmp10 + t3)
      tmp(8 * 7 + ctr) = ds1(tmp10 - t3)
      tmp(8 * 1 + ctr) = ds1(tmp11 + t2)
      tmp(8 * 6 + ctr) = ds1(tmp11 - t2)
      tmp(8 * 2 + ctr) = ds1(tmp12 + t1)
      tmp(8 * 5 + ctr) = ds1(tmp12 - t1)
      tmp(8 * 3 + ctr) = ds1(tmp13 + t0)
      tmp(8 * 4 + ctr) = ds1(tmp13 - t0)
      ctr += 1
    }
    // pass 2: workspace rows → samples
    var row = 0
    while (row < 8) {
      val b = row * 8
      var z2 = tmp(b + 2)
      var z3 = tmp(b + 6)
      var z1 = (z2 + z3) * F_0_541196100
      val etmp2 = z1 - z3 * F_1_847759065
      val etmp3 = z1 + z2 * F_0_765366865
      z2 = tmp(b)
      z3 = tmp(b + 4)
      val etmp0 = (z2 + z3) << CB
      val etmp1 = (z2 - z3) << CB
      val tmp10 = etmp0 + etmp3
      val tmp13 = etmp0 - etmp3
      val tmp11 = etmp1 + etmp2
      val tmp12 = etmp1 - etmp2
      var t0 = tmp(b + 7)
      var t1 = tmp(b + 5)
      var t2 = tmp(b + 3)
      var t3 = tmp(b + 1)
      z1 = t0 + t3
      z2 = t1 + t2
      z3 = t0 + t2
      var z4 = t1 + t3
      val z5 = (z3 + z4) * F_1_175875602
      t0 *= F_0_298631336
      t1 *= F_2_053119869
      t2 *= F_3_072711026
      t3 *= F_1_501321110
      z1 *= -F_0_899976223
      z2 *= -F_2_562915447
      z3 = z3 * -F_1_961570560 + z5
      z4 = z4 * -F_0_390180644 + z5
      t0 += z1 + z3
      t1 += z2 + z4
      t2 += z2 + z3
      t3 += z1 + z4
      val o = (y0 + row) * planeW + x0
      def st(x: Int, v: Int): Unit = {
        val s = ((v + (1 << (CB + P1 + 2))) >> (CB + P1 + 3)) + 128
        plane(o + x) = (if (s < 0) 0 else if (s > 255) 255 else s).toByte
      }
      st(0, tmp10 + t3); st(7, tmp10 - t3)
      st(1, tmp11 + t2); st(6, tmp11 - t2)
      st(2, tmp12 + t1); st(5, tmp12 - t1)
      st(3, tmp13 + t0); st(4, tmp13 - t0)
      row += 1
    }
  }

  // islow fixed-point constants, DERIVED from their trig closed forms
  // (c(k) = cos(kπ/16), √2-scaled sums per the published
  // Loeffler-Ligtenberg-Moshovitz factorization) — bit-exactness vs
  // libjpeg is certified by JpegInteropSpec's exact-match fixtures
  private val CB = 13 // CONST_BITS
  private val P1 = 2 // PASS1_BITS
  private def fixc(x: Double): Int = math.round(x * (1 << CB)).toInt
  private def cn(k: Int): Double = math.cos(k * math.Pi / 16)
  private val Rt2 = math.sqrt(2.0)
  private val F_0_541196100 = fixc(Rt2 * cn(6))
  private val F_0_765366865 = fixc(Rt2 * (cn(2) - cn(6)))
  private val F_1_847759065 = fixc(Rt2 * (cn(2) + cn(6)))
  private val F_1_175875602 = fixc(Rt2 * cn(3))
  private val F_0_298631336 = fixc(Rt2 * (-cn(1) + cn(3) + cn(5) - cn(7)))
  private val F_2_053119869 = fixc(Rt2 * (cn(1) + cn(3) - cn(5) + cn(7)))
  private val F_3_072711026 = fixc(Rt2 * (cn(1) + cn(3) + cn(5) - cn(7)))
  private val F_1_501321110 = fixc(Rt2 * (cn(1) + cn(3) - cn(5) - cn(7)))
  private val F_0_899976223 = fixc(Rt2 * (cn(3) - cn(7)))
  private val F_2_562915447 = fixc(Rt2 * (cn(1) + cn(3)))
  private val F_1_961570560 = fixc(Rt2 * (cn(3) + cn(5)))
  private val F_0_390180644 = fixc(Rt2 * (cn(3) - cn(5)))

  /** Upsample each component to full resolution by sample replication
    * (box) and color-convert. The JFIF YCbCr→RGB formula with
    * round-half-up matches any compliant decoder within ±1.
    */
  private def assemble(comps: Array[Comp], width: Int, height: Int,
      hMax: Int, vMax: Int, adobeTransform: Int): Image = {
    if (comps.length == 1) {
      val c = comps(0)
      val out = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(c.plane, y * c.planeW, out, y * width, width)
        y += 1
      }
      Image(width, height, 1, out)
    } else {
      // Adobe transform 0 = RGB stored directly; JFIF / transform 1 = YCbCr
      val isRgb = adobeTransform == 0
      val out = new Array[Byte](width * height * 3)
      val cY = comps(0); val cCb = comps(1); val cCr = comps(2)
      // hoist the replication maps: per-component x-index table (once) and
      // per-row plane base — removes all per-pixel division
      def xMap(c: Comp): Array[Int] =
        Array.tabulate(width)(x => x * c.h / hMax)
      val xY = xMap(cY); val xCb = xMap(cCb); val xCr = xMap(cCr)
      var y = 0
      while (y < height) {
        val rowY = (y * cY.v / vMax) * cY.planeW
        val rowCb = (y * cCb.v / vMax) * cCb.planeW
        val rowCr = (y * cCr.v / vMax) * cCr.planeW
        var x = 0
        var o = y * width * 3
        while (x < width) {
          val lum = cY.plane(rowY + xY(x)) & 0xFF
          val cb = cCb.plane(rowCb + xCb(x)) & 0xFF
          val cr = cCr.plane(rowCr + xCr(x)) & 0xFF
          if (isRgb) {
            out(o) = lum.toByte; out(o + 1) = cb.toByte; out(o + 2) = cr.toByte
          } else {
            // libjpeg's 16-bit fixed-point JFIF conversion, bit-exact
            // (constants derived by FIX(), the half lives where libjpeg
            // puts it) — so the external differential (JpegInteropSpec)
            // isolates entropy+dequant+IDCT instead of stacking a
            // second rounding seam
            val cbd = cb - 128
            val crd = cr - 128
            out(o) = clampI(lum + ((FixR * crd + Half) >> Scale))
            out(o + 1) = clampI(lum + ((-FixGb * cbd - FixGr * crd + Half) >> Scale))
            out(o + 2) = clampI(lum + ((FixB * cbd + Half) >> Scale))
          }
          x += 1
          o += 3
        }
        y += 1
      }
      Image(width, height, 3, out)
    }
  }

  // JFIF/BT.601 coefficients in libjpeg's FIX() fixed point (round of
  // coeff·2^16) — DERIVED from the published constants, not transcribed
  private val Scale = 16
  private val Half = 1 << (Scale - 1)
  private val FixR = math.round(1.40200 * (1 << Scale)).toInt
  private val FixGb = math.round(0.34414 * (1 << Scale)).toInt
  private val FixGr = math.round(0.71414 * (1 << Scale)).toInt
  private val FixB = math.round(1.77200 * (1 << Scale)).toInt

  @inline private def clampI(v: Int): Byte =
    (if (v < 0) 0 else if (v > 255) 255 else v).toByte
}
