package graft.ext

/** CCITT fax codecs for bilevel TIFF strips — Modified Huffman
  * (compression 2), Group 3 / ITU-T T.4 in 1D and 2D modes with
  * optional fill bits (compression 3), and Group 4 / ITU-T T.6
  * (compression 4). Scanned-document corpora are overwhelmingly
  * G3/G4-coded, so a curation pipeline without this arm routes fax-class
  * TIFFs to defaults; with it they join perceptual dedup and stats
  * through [[TiffImg.decode]] → [[Png.decodeAny]].
  *
  * Data model: rows as CHANGING ELEMENTS (transition positions, even
  * index = white→black), the T.4/T.6 native representation — 1D rows
  * alternate white/black run codes; 2D rows code vertical (±3) / pass /
  * horizontal modes against the reference line's transitions. The
  * white/black run-length tables are machine-extracted from the public
  * on-disk libtiff ([[CcittTables]]); the seven 2D mode codes, EOL, and
  * the byte-align/fill rules are structural constants of the public
  * T.4/T.6 bit grammar declared here. The whole grammar — tables and
  * constants — is certified DIFFERENTIALLY against libtiff's own codec:
  * libtiff-encoded fixtures must decode bit-exact, and this encoder's
  * streams were decoded bit-exact by libtiff at fixture-generation time
  * (tools/ccitt_gen_fixtures.py → CcittInteropSpec).
  *
  * Decode is total: corrupt/truncated streams gate to None, never a
  * throw or garbage raster. Runs that overrun the row, non-monotone 2D
  * transitions, and zero-progress modes are rejected.
  */
object Ccitt {

  /** Coding scheme of one TIFF strip. */
  sealed trait Scheme
  /** Compression 2: per-row Modified Huffman, rows byte-aligned. */
  case object Mh extends Scheme
  /** Compression 3: T.4 — EOL-prefixed rows; `twoD` per T4Options bit 0
    * (rows carry a 1D/2D tag bit after EOL), `fill` per bit 2 (zero
    * fill so each EOL ends on a byte boundary — consumed, not checked).
    */
  final case class G3(twoD: Boolean, fill: Boolean) extends Scheme
  /** Compression 4: T.6 — all rows 2D, no EOLs, EOFB terminator. */
  case object G4 extends Scheme

  // ----------------------------------------------------- code tables

  private val MaxCodeLen = 13

  /** Per-color decode LUT: peek 13 bits → (run << 4 | codeLen), 0 = no
    * code with that prefix. Built once from the extracted tables.
    */
  private def buildLut(flat: Array[Int]): Array[Char] = {
    val lut = new Array[Char](1 << MaxCodeLen)
    var i = 0
    while (i < flat.length) {
      val len = flat(i); val code = flat(i + 1); val run = flat(i + 2)
      val shift = MaxCodeLen - len
      val base = code << shift
      var k = 0
      while (k < (1 << shift)) {
        lut(base + k) = ((run << 4) | len).toChar
        k += 1
      }
      i += 3
    }
    lut
  }
  private val whiteLut = buildLut(CcittTables.whiteCodes)
  private val blackLut = buildLut(CcittTables.blackCodes)

  /** Per-color encode tables: run → (len, code) for terminals 0..63 and
    * makeups 64..2560 (index run/64 - 1).
    */
  private def buildEnc(flat: Array[Int]): (Array[Int], Array[Int]) = {
    val term = new Array[Int](64)
    val makeup = new Array[Int](40)
    var i = 0
    while (i < flat.length) {
      val len = flat(i); val code = flat(i + 1); val run = flat(i + 2)
      val packed = (len << 16) | code
      if (run < 64) term(run) = packed else makeup(run / 64 - 1) = packed
      i += 3
    }
    (term, makeup)
  }
  private val (whiteTerm, whiteMakeup) = buildEnc(CcittTables.whiteCodes)
  private val (blackTerm, blackMakeup) = buildEnc(CcittTables.blackCodes)

  /** One full run of `white` pixels: 0+ makeup codes then a terminal.
    * -1 on any non-code prefix (the caller decides if EOL is legal
    * there) or truncation.
    */
  private def readRun(r: MsbReader, white: Boolean): Int = {
    val lut = if (white) whiteLut else blackLut
    var total = 0
    var guard = 0
    while (guard < 64) { // bounded makeup chain
      if (r.exhausted) return -1
      val hit = lut(r.peek(MaxCodeLen))
      if (hit == 0) return -1
      val run = hit >> 4
      r.skip(hit & 15)
      total += run
      if (run < 64 || total > (1 << 24)) return total
      guard += 1
    }
    -1
  }

  /** Consume fill zeros + the 000000000001 EOL. Strict: a 1 bit before
    * 11 zeros have accumulated is corrupt (fill is zeros-only).
    */
  private def syncEol(r: MsbReader): Boolean = {
    var zeros = 0
    var guard = 0
    while (guard < (1 << 16)) {
      if (r.exhausted) return false
      if (r.bit() == 1) return zeros >= 11
      zeros += 1
      guard += 1
    }
    false
  }

  // ------------------------------------------------------- row decode

  /** 1D (MH) row → transitions; strict: runs must sum to exactly w. */
  private def row1D(r: MsbReader, w: Int, trans: Array[Int]): Int = {
    var n = 0
    var pos = 0
    var white = true
    while (pos < w) {
      val run = readRun(r, white)
      if (run < 0) return -1
      pos += run
      if (pos > w) return -1
      if (n >= trans.length) return -1
      trans(n) = pos; n += 1
      white = !white
    }
    n
  }

  /** 2D (T.4 §4.2.1.3 / T.6) row against reference transitions. */
  private def row2D(r: MsbReader, w: Int, refT: Array[Int], refN: Int,
      trans: Array[Int]): Int = {
    var n = 0
    var a0 = -1
    var white = true
    var ri = 0
    while (a0 < w) {
      // b1: first reference transition > a0 whose parity matches the
      // color opposite a0's (even index = white→black change)
      while (ri < refN && refT(ri) <= a0) ri += 1
      var bi = ri
      if ((bi & 1) != (if (white) 0 else 1)) bi += 1
      val b1 = if (bi < refN) refT(bi) else w
      val b2 = if (bi + 1 < refN) refT(bi + 1) else w
      // mode code
      if (r.exhausted) return -1
      if (r.bit() == 1) { // V0
        if (n >= trans.length) return -1
        trans(n) = b1; n += 1; a0 = b1; white = !white
      } else if (r.bit() == 1) { // 01x: VR1 / VL1
        val a1 = if (r.bit() == 1) b1 + 1 else b1 - 1
        if (a1 < 0 || a1 <= a0 && !(a0 == -1 && a1 == 0)) return -1
        if (n >= trans.length) return -1
        trans(n) = math.min(a1, w); n += 1; a0 = a1; white = !white
      } else if (r.bit() == 1) { // 001: horizontal
        val p0 = if (a0 < 0) 0 else a0
        val r1 = readRun(r, white)
        if (r1 < 0) return -1
        val r2 = readRun(r, !white)
        if (r2 < 0) return -1
        val a1 = p0 + r1
        val a2 = a1 + r2
        if (a2 <= a0 || a1 > w || a2 > w || n + 2 > trans.length) return -1
        trans(n) = a1; trans(n + 1) = a2; n += 2
        a0 = a2
      } else if (r.bit() == 1) { // 0001: pass
        if (b2 <= a0) return -1
        a0 = b2
      } else if (r.bit() == 1) { // 00001x: VR2 / VL2
        val a1 = if (r.bit() == 1) b1 + 2 else b1 - 2
        if (a1 < 0 || a1 <= a0) return -1
        if (n >= trans.length) return -1
        trans(n) = math.min(a1, w); n += 1; a0 = a1; white = !white
      } else if (r.bit() == 1) { // 000001x: VR3 / VL3
        val a1 = if (r.bit() == 1) b1 + 3 else b1 - 3
        if (a1 < 0 || a1 <= a0) return -1
        if (n >= trans.length) return -1
        trans(n) = math.min(a1, w); n += 1; a0 = a1; white = !white
      } else return -1 // 000000...: EOL territory mid-row = corrupt
    }
    // drop any transition coded past the row end (a1 may land at w)
    while (n > 0 && trans(n - 1) > w) n -= 1
    n
  }

  private def render(trans: Array[Int], n: Int, w: Int,
      out: Array[Byte], off: Int): Unit = {
    var i = 0
    var pos = 0
    while (i < n && pos < w) {
      val next = math.min(trans(i), w)
      if ((i & 1) == 1) { // odd spans are black
        var p = pos
        while (p < next) { out(off + p) = 1; p += 1 }
      }
      pos = next
      i += 1
    }
    if ((n & 1) == 1) { // trailing black to edge
      var p = pos
      while (p < w) { out(off + p) = 1; p += 1 }
    }
  }

  /** Decode one strip to a bitmap (1 byte/pixel, 0 = white, 1 = black;
    * `rows` × `w`). None on any grammar violation or truncation.
    */
  def decode(b: Array[Byte], from: Int, until: Int, w: Int, rows: Int,
      scheme: Scheme): Option[Array[Byte]] = {
    if (w <= 0 || rows <= 0 || from < 0 || until > b.length || from >= until)
      return None
    if (w.toLong * rows > (1L << 26)) return None
    try {
      val r = new MsbReader(b, from, until)
      val out = new Array[Byte](w * rows)
      val cap = w + 3
      var refT = new Array[Int](cap)
      var refN = 0
      var curT = new Array[Int](cap)
      var row = 0
      var oneD = true
      while (row < rows) {
        scheme match {
          case Mh =>
            if (row > 0) r.alignToByte()
          case G3(twoD, _) =>
            if (!syncEol(r)) return None
            if (twoD) oneD = r.bit() == 1
          case G4 => ()
        }
        val n = scheme match {
          case G4 => row2D(r, w, refT, refN, curT)
          case G3(true, _) if !oneD => row2D(r, w, refT, refN, curT)
          case _ => row1D(r, w, curT)
        }
        if (n < 0) return None
        render(curT, n, w, out, row * w)
        val t = refT; refT = curT; curT = t
        refN = n
        row += 1
      }
      Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ----------------------------------------------------------- encode

  private def putRun(wt: MsbWriter, run0: Int, white: Boolean): Unit = {
    val (term, makeup) =
      if (white) (whiteTerm, whiteMakeup) else (blackTerm, blackMakeup)
    var run = run0
    while (run >= 2624) { // chain max makeups for very long runs
      val p = makeup(39)
      wt.bits(p & 0xFFFF, p >>> 16)
      run -= 2560
    }
    if (run >= 64) {
      val p = makeup(run / 64 - 1)
      wt.bits(p & 0xFFFF, p >>> 16)
      run -= run / 64 * 64
    }
    val p = term(run)
    wt.bits(p & 0xFFFF, p >>> 16)
  }

  private def transitionsOf(bm: Array[Byte], off: Int, w: Int,
      trans: Array[Int]): Int = {
    var n = 0
    var last = 0 // white
    var x = 0
    while (x < w) {
      val v = if (bm(off + x) != 0) 1 else 0
      if (v != last) { trans(n) = x; n += 1; last = v }
      x += 1
    }
    if (last == 1) { trans(n) = w; n += 1 }
    n
  }

  private def put1D(wt: MsbWriter, trans: Array[Int], n: Int, w: Int): Unit = {
    var pos = 0
    var white = true
    var i = 0
    while (pos < w) {
      val next = if (i < n) math.min(trans(i), w) else w
      putRun(wt, next - pos, white)
      pos = next
      white = !white
      i += 1
    }
  }

  private def put2D(wt: MsbWriter, curT: Array[Int], curN: Int,
      refT: Array[Int], refN: Int, w: Int): Unit = {
    var a0 = -1
    var white = true
    var ri = 0
    var ci = 0
    while (a0 < w) {
      while (ri < refN && refT(ri) <= a0) ri += 1
      var bi = ri
      if ((bi & 1) != (if (white) 0 else 1)) bi += 1
      val b1 = if (bi < refN) refT(bi) else w
      val b2 = if (bi + 1 < refN) refT(bi + 1) else w
      while (ci < curN && curT(ci) <= a0) ci += 1
      val a1 = if (ci < curN) curT(ci) else w
      if (b2 < a1) { // pass
        wt.bits(1, 4) // 0001
        a0 = b2
      } else if (math.abs(a1 - b1) <= 3) { // vertical
        (a1 - b1) match {
          case 0 => wt.bits(1, 1)
          case 1 => wt.bits(3, 3) // 011
          case -1 => wt.bits(2, 3) // 010
          case 2 => wt.bits(3, 6) // 000011
          case -2 => wt.bits(2, 6) // 000010
          case 3 => wt.bits(3, 7) // 0000011
          case _ => wt.bits(2, 7) // 0000010
        }
        a0 = a1
        white = !white
      } else { // horizontal: two runs from max(a0,0)
        val a2 = if (ci + 1 < curN) curT(ci + 1) else w
        val p0 = if (a0 < 0) 0 else a0
        wt.bits(1, 3) // 001
        putRun(wt, a1 - p0, white)
        putRun(wt, a2 - a1, !white)
        a0 = a2
      }
    }
  }

  private val Eol = (1, 12) // 000000000001

  /** Encode a bitmap (1 byte/pixel, nonzero = black) as one strip. */
  def encode(bm: Array[Byte], w: Int, rows: Int, scheme: Scheme): Array[Byte] = {
    require(bm.length >= w * rows && w > 0 && rows > 0, "ccitt encode: dims")
    val wt = new MsbWriter
    val cap = w + 3
    var refT = new Array[Int](cap)
    var refN = 0
    var curT = new Array[Int](cap)
    var row = 0
    while (row < rows) {
      val n = transitionsOf(bm, row * w, w, curT)
      scheme match {
        case Mh =>
          if (row > 0) wt.alignToByte()
          put1D(wt, curT, n, w)
        case G3(twoD, fill) =>
          if (fill) { // zero fill so the 12-bit EOL itself ends a byte
            val tail = ((wt.bitLength + 12) & 7).toInt // (libtiff convention:
            if (tail != 0) wt.bits(0, 8 - tail) // the 2D tag bit follows)
          }
          wt.bits(Eol._1, Eol._2)
          if (twoD) {
            val oneD = row == 0 // first row 1D, rest 2D
            wt.bits(if (oneD) 1 else 0, 1)
            if (oneD) put1D(wt, curT, n, w)
            else put2D(wt, curT, n, refT, refN, w)
          } else put1D(wt, curT, n, w)
        case G4 =>
          put2D(wt, curT, n, refT, refN, w)
      }
      val t = refT; refT = curT; curT = t
      refN = n
      row += 1
    }
    scheme match {
      case G4 => // EOFB
        wt.bits(Eol._1, Eol._2); wt.bits(Eol._1, Eol._2)
      case G3(_, _) => // RTC-style trailing EOL keeps libtiff happy
        wt.bits(Eol._1, Eol._2)
      case Mh => ()
    }
    wt.result()
  }
}
