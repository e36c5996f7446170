package graft.ext

import scala.collection.mutable.ArrayBuffer

import graft.ext.Bytes.{le16, le32, le64, putLe32, writeLe16, writeLe32}

/** Legacy Excel (.xls, BIFF8 / Excel 97–2003) cell extraction over the
  * [[Cfb]] container — the other half of the legacy-Office pair with
  * [[MsDoc]]. Implements the open spec ([MS-XLS]) read path:
  *
  *   - the `Workbook` stream as a BIFF record walk (2-byte type,
  *     2-byte size), globals substream first;
  *   - the shared string table (SST, 0x00FC) of XLUnicodeRichExtended
  *     strings — compressed (8-bit) vs uncompressed (UTF-16LE) per
  *     string, rich-run and ext-block skips, and the CONTINUE (0x003C)
  *     splits where a string resumes under a FRESH grbit byte (the
  *     classic .xls parser trap: a string can switch 8/16-bit at the
  *     boundary);
  *   - BOUNDSHEET (0x0085) positions; the FIRST worksheet substream's
  *     cells: LABELSST (0x00FD), NUMBER (0x0203), RK (0x027E) with the
  *     fX100/fInt encodings, MULRK (0x00BD), BOOLERR (0x0205) and
  *     LABEL (0x0204 inline string). Formula caches are out of the
  *     envelope, matching the OOXML arm's value-layer contract.
  *
  * Scale shape: one workbook = one payload row decoded inside a task.
  */
object Xls {

  /** One decoded cell: 0-based row/col; value is String, Double,
    * Boolean, or null (error cells).
    */
  final case class Cell(row: Int, col: Int, value: Any)

  /** Cells of the first worksheet in record order. None when the
    * payload is not a CFB with a parseable Workbook stream.
    */
  def cells(b: Array[Byte]): Option[Vector[Cell]] = {
    val wb = Cfb.read(b, "Workbook").orElse(Cfb.read(b, "Book"))
      .getOrElse(return None)
    try {
      // ---- pass 1 over the globals substream: SST + first sheet pos
      var sst = Vector.empty[String]
      var firstSheet = -1
      var i = 0
      var stop = false
      while (!stop && i + 4 <= wb.length) {
        val typ = le16(wb, i)
        val len = le16(wb, i + 2)
        typ match {
          case 0x00FC => // SST: gather its bytes plus following CONTINUEs
            val blocks = ArrayBuffer((i + 4, len))
            var j = i + 4 + len
            while (j + 4 <= wb.length && le16(wb, j) == 0x003C) {
              blocks += ((j + 4, le16(wb, j + 2)))
              j += 4 + le16(wb, j + 2)
            }
            sst = parseSst(wb, blocks.toSeq)
          case 0x0085 => // BOUNDSHEET: stream position of the sheet BOF
            if (firstSheet < 0) firstSheet = le32(wb, i + 4)
          case 0x000A => stop = true // EOF of globals
          case _ =>
        }
        i += 4 + len
      }
      if (firstSheet < 0 || firstSheet >= wb.length) return None

      // ---- pass 2: the first worksheet substream
      val out = Vector.newBuilder[Cell]
      i = firstSheet
      stop = false
      while (!stop && i + 4 <= wb.length) {
        val typ = le16(wb, i)
        val len = le16(wb, i + 2)
        val at = i + 4
        typ match {
          case 0x00FD => // LABELSST
            val isst = le32(wb, at + 6)
            out += Cell(le16(wb, at), le16(wb, at + 2),
              if (isst >= 0 && isst < sst.length) sst(isst) else "")
          case 0x0203 => // NUMBER
            out += Cell(le16(wb, at), le16(wb, at + 2),
              java.lang.Double.longBitsToDouble(le64(wb, at + 6)))
          case 0x027E => // RK
            out += Cell(le16(wb, at), le16(wb, at + 2), rkValue(le32(wb, at + 6)))
          case 0x00BD => // MULRK: (xf, rk) pairs colFirst..colLast
            val row = le16(wb, at)
            val colFirst = le16(wb, at + 2)
            val nCells = (len - 6) / 6
            var k = 0
            while (k < nCells) {
              out += Cell(row, colFirst + k, rkValue(le32(wb, at + 4 + 6 * k + 2)))
              k += 1
            }
          case 0x0205 => // BOOLERR
            val isBool = (wb(at + 7) & 0xFF) == 0
            out += Cell(le16(wb, at), le16(wb, at + 2),
              if (isBool) (wb(at + 6) & 0xFF) == 1 else null)
          case 0x0204 => // LABEL: inline XLUnicodeString
            val cch = le16(wb, at + 6)
            val hi = (wb(at + 8) & 0x01) != 0
            val txt =
              if (hi) new String(wb, at + 9, cch * 2, "UTF-16LE")
              else new String(wb, at + 9, cch, "ISO-8859-1")
            out += Cell(le16(wb, at), le16(wb, at + 2), txt)
          case 0x000A => stop = true // sheet EOF
          case _ =>
        }
        i += 4 + len
      }
      Some(out.result())
    } catch { case _: Exception => None }
  }

  /** First worksheet as tab-separated lines (the [[Office.xlsxText]]
    * shape): numbers in minimal decimal form (integral values without
    * the trailing .0), booleans as TRUE/FALSE.
    */
  def text(b: Array[Byte]): Option[String] =
    cells(b).map { cs =>
      if (cs.isEmpty) ""
      else {
        val byRow = cs.groupBy(_.row)
        val sb = new java.lang.StringBuilder()
        for (r <- 0 to byRow.keys.max) {
          byRow.get(r).foreach { rowCells =>
            val byCol = rowCells.map(c => c.col -> c.value).toMap
            val maxCol = rowCells.map(_.col).max
            sb.append((0 to maxCol).map(c => fmt(byCol.get(c))).mkString("\t"))
          }
          sb.append('\n')
        }
        sb.toString
      }
    }

  private def fmt(v: Option[Any]): String = v match {
    case Some(s: String) => s
    case Some(d: Double) =>
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case Some(true) => "TRUE"
    case Some(false) => "FALSE"
    case _ => ""
  }

  /** RK number: bit0 = ×1/100, bit1 = 30-bit signed int vs high 30
    * bits of an IEEE double.
    */
  private def rkValue(rk: Int): Double = {
    val base =
      if ((rk & 0x02) != 0) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    if ((rk & 0x01) != 0) base / 100.0 else base
  }

  /** SST across its CONTINUE blocks. A cursor that knows block
    * boundaries: fixed-width reads never straddle in practice (writers
    * split only inside character data — where the spec REQUIRES a new
    * grbit), and character reads re-read the option byte at each
    * boundary crossed.
    */
  private def parseSst(wb: Array[Byte], blocks: Seq[(Int, Int)]): Vector[String] = {
    var bi = 0            // block index
    var off = blocks.head._1
    def blockEnd = blocks(bi)._1 + blocks(bi)._2
    def advance(): Unit =
      if (off >= blockEnd && bi + 1 < blocks.length) {
        bi += 1; off = blocks(bi)._1
      }
    def u8(): Int = { advance(); val v = wb(off) & 0xFF; off += 1; v }
    def nextU16(): Int = { val a = u8(); val b = u8(); a | (b << 8) }
    def nextU32(): Long = { val a = nextU16(); val b = nextU16(); (a | (b.toLong << 16)) & 0xFFFFFFFFL }
    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        advance()
        val take = math.min(left, (blockEnd - off).toLong)
        off += take.toInt
        left -= take
      }
    }

    skip(8) // cstTotal + cstUnique
    val total = le32(wb, blocks.head._1 + 4)
    val out = Vector.newBuilder[String]
    var s = 0
    while (s < total) {
      val cch = nextU16()
      var grbit = u8()
      val fRich = (grbit & 0x08) != 0
      val fExt = (grbit & 0x04) != 0
      val cRun = if (fRich) nextU16() else 0
      val cbExt = if (fExt) nextU32() else 0L
      val sb = new java.lang.StringBuilder(cch)
      var got = 0
      while (got < cch) {
        advance()
        if (got > 0 && off == blocks(bi)._1) {
          // crossed into a CONTINUE mid-string: fresh option byte
          grbit = u8()
        }
        val wide = (grbit & 0x01) != 0
        val avail = blockEnd - off
        val want = cch - got
        val take = math.min(want, if (wide) avail / 2 else avail)
        if (take <= 0) throw new IllegalArgumentException("SST underflow")
        if (wide) {
          sb.append(new String(wb, off, take * 2, "UTF-16LE"))
          off += take * 2
        } else {
          sb.append(new String(wb, off, take, "ISO-8859-1"))
          off += take
        }
        got += take
      }
      skip(cRun * 4L + cbExt)
      out += sb.toString
      s += 1
    }
    out.result()
  }

  // ----- deterministic builder (fixtures/certificates) ------------------

  /** Build a BIFF8 workbook: globals (BOF, SST, BOUNDSHEET, EOF) + one
    * worksheet of the given cells. `sstSplitAt` forces the SST to break
    * into a CONTINUE after that many payload bytes — mid-string when it
    * lands there, re-emitting the grbit exactly as Excel does.
    */
  private[graft] def build(cells: Seq[Cell], sstSplitAt: Int = -1): Array[Byte] = {
    val strings = cells.collect { case Cell(_, _, s: String) => s }.distinct
    val sstIdx = strings.zipWithIndex.toMap

    // ---- SST payload as (bytes, isStringStart) stream we can split
    def strBytes(s: String): Array[Byte] = {
      val wide = s.exists(_ > 0xFF)
      val head = new java.io.ByteArrayOutputStream()
      head.write(s.length & 0xFF); head.write((s.length >> 8) & 0xFF)
      head.write(if (wide) 1 else 0)
      head.write(if (wide) s.getBytes("UTF-16LE") else s.getBytes("ISO-8859-1"))
      head.toByteArray
    }
    // records assembled with explicit split support
    val recs = ArrayBuffer.empty[(Int, Array[Byte])]
    def rec(typ: Int, body: Array[Byte]): Unit = recs += ((typ, body))

    // globals BOF (workbook globals, BIFF8)
    rec(0x0809, bofBody(0x0005))
    // SST with optional CONTINUE split
    val sstHead = new java.io.ByteArrayOutputStream()
    writeLe32(sstHead, strings.length); writeLe32(sstHead, strings.length)
    val payload = strings.map(strBytes)
    if (sstSplitAt < 0) {
      val all = new java.io.ByteArrayOutputStream()
      all.write(sstHead.toByteArray); payload.foreach(all.write)
      rec(0x00FC, all.toByteArray)
    } else {
      // split the CHARACTER payload at sstSplitAt bytes into a CONTINUE
      val flat = payload.flatMap(_.toSeq).toArray
      val cut = math.min(sstSplitAt, flat.length)
      // find which string the cut lands in and whether it's mid-chars
      var acc = 0
      var k = 0
      var headerAdjustedCut = cut
      var continueBytes: Array[Byte] = null
      var firstBytes: Array[Byte] = null
      while (k < payload.length && acc + payload(k).length <= cut) {
        acc += payload(k).length; k += 1
      }
      if (k >= payload.length || acc == cut) {
        // clean split at a string boundary
        firstBytes = flat.take(cut)
        continueBytes = flat.drop(cut)
      } else {
        val inString = cut - acc // offset into payload(k)
        val s = strings(k)
        val wide = s.exists(_ > 0xFF)
        val headLen = 3
        if (inString < headLen) {
          // don't split inside the 3-byte header; move cut to boundary
          firstBytes = flat.take(acc)
          continueBytes = flat.drop(acc)
        } else {
          val charBytes = inString - headLen
          val alignedCharBytes =
            if (wide) charBytes - (charBytes % 2) else charBytes
          firstBytes = flat.take(acc + headLen + alignedCharBytes)
          // CONTINUE resumes with a fresh grbit byte
          val rest = flat.drop(acc + headLen + alignedCharBytes)
          continueBytes = Array[Byte](if (wide) 1 else 0) ++ rest
        }
      }
      val first = new java.io.ByteArrayOutputStream()
      first.write(sstHead.toByteArray); first.write(firstBytes)
      rec(0x00FC, first.toByteArray)
      rec(0x003C, continueBytes)
    }
    // BOUNDSHEET: patch position later (record index saved)
    val bsIdx = recs.length
    val bs = new java.io.ByteArrayOutputStream()
    writeLe32(bs, 0) // placeholder lbPlyPos
    bs.write(0); bs.write(0) // visible, worksheet
    bs.write(6) // cch
    bs.write(0) // compressed name
    bs.write("Sheet1".getBytes("ISO-8859-1"))
    rec(0x0085, bs.toByteArray)
    rec(0x000A, Array.emptyByteArray) // globals EOF

    // ---- worksheet substream
    val sheetRecs = ArrayBuffer.empty[(Int, Array[Byte])]
    sheetRecs += ((0x0809, bofBody(0x0010)))
    for (c <- cells) {
      val body = new java.io.ByteArrayOutputStream()
      def cellHead(): Unit = {
        writeLe16(body, c.row); writeLe16(body, c.col); writeLe16(body, 0)
      }
      c.value match {
        case s: String =>
          cellHead(); writeLe32(body, sstIdx(s))
          sheetRecs += ((0x00FD, body.toByteArray))
        case d: Double =>
          // integral small values as RK int form, x.5 via RK double
          // form when exact, else NUMBER — exercises all three
          if (d == math.rint(d) && math.abs(d) < (1 << 29)) {
            cellHead(); writeLe32(body, (d.toInt << 2) | 0x02)
            sheetRecs += ((0x027E, body.toByteArray))
          } else {
            val bits = java.lang.Double.doubleToLongBits(d)
            if ((bits & 0x3FFFFFFFFL) == 0) { // fits RK double form
              cellHead(); writeLe32(body, ((bits >>> 32) & 0xFFFFFFFCL).toInt)
              sheetRecs += ((0x027E, body.toByteArray))
            } else {
              cellHead()
              var k = 0
              while (k < 8) { body.write(((bits >> (8 * k)) & 0xFF).toInt); k += 1 }
              sheetRecs += ((0x0203, body.toByteArray))
            }
          }
        case bl: Boolean =>
          cellHead(); body.write(if (bl) 1 else 0); body.write(0)
          sheetRecs += ((0x0205, body.toByteArray))
        case _ =>
      }
    }
    sheetRecs += ((0x000A, Array.emptyByteArray))

    // ---- assemble; patch BOUNDSHEET position
    def size(rs: Seq[(Int, Array[Byte])]) = rs.map(4 + _._2.length).sum
    val sheetPos = size(recs.toSeq)
    val bsBody = recs(bsIdx)._2
    putLe32(bsBody, 0, sheetPos)
    val out = new java.io.ByteArrayOutputStream()
    for ((typ, body) <- recs ++ sheetRecs) {
      writeLe16(out, typ); writeLe16(out, body.length); out.write(body)
    }
    Cfb.build(Seq(("Workbook", out.toByteArray)))
  }

  private def bofBody(dt: Int): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    writeLe16(o, 0x0600) // BIFF8
    writeLe16(o, dt)
    writeLe16(o, 0x0DBB); writeLe16(o, 0x07CC) // build/year stamps
    writeLe32(o, 0); writeLe32(o, 0)
    o.toByteArray
  }
}
