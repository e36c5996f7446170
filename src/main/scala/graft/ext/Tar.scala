package graft.ext

/** TAR (POSIX ustar) archive walk — crawl datasets and software
  * artifacts ship as `.tar`/`.tar.gz` blobs; the walk lists and extracts
  * members from in-row byte arrays the way [[Zip]] does for PKWARE
  * archives.
  *
  * Memory contract: the walk is a SINGLE forward pass over an
  * `InputStream` — a `.tar.gz`/`.tar.zst`/`.tar.xz`/`.tar.bz2`
  * inflates through the matching [[Codecs]] decompressor in bounded
  * windows and unwanted member data is SKIPPED, not buffered, so
  * per-row heap is O(one wanted member), independent of how large the
  * archive inflates in total (a ~1 GB-per-row crawl artifact that
  * inflates past the ≤2 GiB single-array JVM cap still walks). [[read]]
  * stops inflating at its match; [[entries]] never materializes member
  * data at all. The only inherent cap is per MEMBER on extraction: one
  * member's bytes are one `Array[Byte]`, so members past ~2 GiB list
  * fine but read as None.
  *
  * Envelope (POSIX.1-1988 ustar layout):
  *   - 512-byte headers: name(100) + octal size(12) + mtime(12) +
  *     checksum(8) + typeflag + ustar magic + prefix(155); data rounded
  *     up to 512-byte blocks; two zero blocks end the archive.
  *   - Header CHECKSUMS are verified (sum of header bytes with the
  *     checksum field read as spaces) — a corrupt header ends the walk
  *     at the last good member.
  *   - A leading gzip/zstd/xz/bzip2 magic transparently inflates first
  *     (`.tar.gz`, `.tar.zst`, `.tar.xz`, `.tar.bz2` — the compression
  *     wrappers software and corpus tarballs actually ship in).
  *   - GNU long-name ('L') members and pax extended headers ('x') ARE
  *     honored: the 'L' data names the next member; pax `path=` and
  *     `size=` records override the next member's name and data length
  *     (how archivers encode >8 GiB members past the 12-digit octal
  *     field). Global pax headers ('g') apply as DEFAULTS to every
  *     subsequent member (per-member 'x' records override them). Meta
  *     member data is capped at 1 MiB — a "name" past that is damage,
  *     and the walk cuts short rather than buffering it.
  *   - SPARSE members (VM images, pre-allocated logs) expand to their
  *     real size with zero-filled holes, across all the layouts GNU tar
  *     emits: old-GNU 'S' headers (4-entry map at 386, extended
  *     512-byte map blocks, realsize at 483 — old-GNU magic, so the
  *     345 prefix field is NOT applied there), pax 0.0
  *     (`GNU.sparse.numblocks` + repeated offset/numbytes records),
  *     pax 0.1 (`GNU.sparse.map` comma list), and pax 1.0
  *     (`GNU.sparse.major=1`, decimal map blocks at the FRONT of the
  *     member data, `GNU.sparse.realsize`/`GNU.sparse.name`). Entries
  *     list the REAL (expanded) size; extraction materializes it, so
  *     the ~2 GiB per-member cap applies to the expanded form.
  *   - Duplicate member names read LAST-occurrence-wins ([[read]]) —
  *     `tar -r`-updated archives resolve to the updated bytes.
  */
object Tar {

  final case class Entry(
      name: String,
      size: Long,
      typeflag: Char, // '0' file, '5' directory, '2' symlink, ...
      mtime: Long,
      data_offset: Long)

  private def isGzip(b: Array[Byte]): Boolean =
    b != null && b.length >= 2 &&
      (b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B

  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = off
    val end = off + len
    // leading spaces/NULs tolerated, digits until space/NUL
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = (v << 3) | (b(i) - '0')
      i += 1
    }
    v
  }

  private def str(b: Array[Byte], off: Int, len: Int): String = {
    var n = 0
    while (n < len && b(off + n) != 0) n += 1
    new String(b, off, n, "UTF-8")
  }

  private def checksumOk(h: Array[Byte]): Boolean = {
    val stored = octal(h, 148, 8)
    var sum = 0L
    var i = 0
    while (i < 512) {
      sum += (if (i >= 148 && i < 156) ' '.toInt else h(i) & 0xFF)
      i += 1
    }
    sum == stored
  }

  /** Read exactly `len` bytes into `buf`; false on EOF before that. */
  private def readFully(in: java.io.InputStream, buf: Array[Byte], len: Int): Boolean = {
    var got = 0
    while (got < len) {
      val n = in.read(buf, got, len - got)
      if (n < 0) return false
      got += n
    }
    true
  }

  /** Skip exactly `n` bytes (decompress-and-discard on a gzip stream);
    * false on EOF before that.
    */
  private def skipFully(in: java.io.InputStream, n: Long): Boolean = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else if (in.read() < 0) return false // skip() stalled: probe EOF
      else left -= 1
    }
    true
  }

  /** Single-pass streaming member walk. Yields every structurally-valid
    * member in order; `want` decides whether a member's bytes are
    * materialized (at most one wanted member is in memory at a time) or
    * skipped through the window. Unwanted / oversized (≥2 GiB) members
    * yield an empty array. All malformation — bad checksum, zero block,
    * truncation, corrupt gzip — cuts the walk short, never throws.
    */
  /** Expand sparse fragments over the stored (hole-less) data into the
    * real-size zero-filled form. Fragments are consumed from `stored`
    * in map order; anything out of bounds cuts that fragment short.
    */
  private def expandSparse(frags: Seq[(Long, Long)], stored: Array[Byte],
      realSize: Long): Array[Byte] = {
    val out = new Array[Byte](realSize.toInt)
    var p = 0
    frags.foreach { case (fo, fl) =>
      if (fo >= 0 && fl > 0 && fo + fl <= out.length && p + fl <= stored.length) {
        System.arraycopy(stored, p, out, fo.toInt, fl.toInt)
        p += fl.toInt
      }
    }
    out
  }

  private[graft] def walk(raw: Array[Byte],
      want: Entry => Boolean): Iterator[(Entry, Array[Byte])] =
    new Iterator[(Entry, Array[Byte])] {
      private val in: java.io.InputStream =
        try {
          // [[Codecs.stream]] routes by magic: gzip/zstd/xz/bzip2 inflate
          // in bounded windows; anything else passes through untouched
          if (raw == null) null else Codecs.stream(raw)
        } catch { case scala.util.control.NonFatal(_) => null }
      private val hdr = new Array[Byte](512)
      private var off = 0L // running offset in the (inflated) archive
      private var done = in == null
      private var pending: (Entry, Array[Byte]) = null
      // overrides declared by a preceding 'L' / 'x' meta member
      private var nextName: String = null
      private var nextSize: Long = -1L
      // pax sparse declarations for the next member
      private var nextSparse: Seq[(Long, Long)] = null // 0.0 / 0.1 map
      private var nextReal: Long = -1L
      private var nextSparse10 = false // 1.0: map rides the data front
      // 'g' global records: defaults under per-member overrides
      private val globalPax = scala.collection.mutable.Map.empty[String, String]

      private def paxLong(v: String): Long =
        try v.trim.toLong catch { case _: NumberFormatException => -1L }

      /** Apply one pax member's records ('x' per-member, 'g' global). */
      private def applyPax(d: Array[Byte], global: Boolean): Boolean = {
        val recs = parsePaxRecords(d)
        if (global) { recs.foreach { case (k, v) => globalPax(k) = v }; return true }
        val m = recs.toMap // duplicate keys: last record wins, per POSIX
        m.get("path").foreach(nextName = _)
        m.get("size").foreach { v =>
          val x = paxLong(v); if (x < 0) return false; nextSize = x
        }
        // GNU sparse dialects (0.0 / 0.1 / 1.0)
        m.get("GNU.sparse.name").foreach(nextName = _)
        if (m.get("GNU.sparse.major").exists(_.trim == "1")) {
          nextSparse10 = true
          m.get("GNU.sparse.realsize").foreach(v => nextReal = paxLong(v))
        } else if (m.contains("GNU.sparse.map")) { // 0.1: comma list
          val nums = m("GNU.sparse.map").split(",").map(paxLong)
          if (nums.exists(_ < 0) || nums.length % 2 != 0) return false
          nextSparse = nums.grouped(2).map(a => (a(0), a(1))).toSeq
          m.get("GNU.sparse.size").foreach(v => nextReal = paxLong(v))
        } else if (m.contains("GNU.sparse.numblocks")) { // 0.0: pairs
          val fb = Seq.newBuilder[(Long, Long)]
          var curOff = -1L
          recs.foreach {
            case ("GNU.sparse.offset", v)   => curOff = paxLong(v)
            case ("GNU.sparse.numbytes", v) =>
              if (curOff >= 0) { fb += ((curOff, paxLong(v))); curOff = -1L }
            case _ =>
          }
          nextSparse = fb.result()
          m.get("GNU.sparse.size").foreach(v => nextReal = paxLong(v))
        }
        true
      }

      /** Old-GNU 'S' header map: 4 entries at 386, extended 512-byte
        * blocks (21 entries + isextended) while flagged. Returns the
        * fragments plus the count of extended blocks consumed.
        */
      private def oldGnuMap(): Option[(Seq[(Long, Long)], Int)] = {
        val fb = Seq.newBuilder[(Long, Long)]
        var stop = false
        var k = 0
        while (!stop && k < 4) {
          val fo = octal(hdr, 386 + k * 24, 12)
          val fl = octal(hdr, 386 + k * 24 + 12, 12)
          if (fo == 0 && fl == 0) stop = true else fb += ((fo, fl))
          k += 1
        }
        var ext = hdr(482) != 0
        var blocks = 0
        val sb = new Array[Byte](512)
        while (ext) {
          if (blocks > 512 || !readFully(in, sb, 512)) return None
          blocks += 1
          var j = 0
          var stop2 = false
          while (!stop2 && j < 21) {
            val fo = octal(sb, j * 24, 12)
            val fl = octal(sb, j * 24 + 12, 12)
            if (fo == 0 && fl == 0) stop2 = true else fb += ((fo, fl))
            j += 1
          }
          ext = sb(504) != 0
        }
        Some((fb.result(), blocks))
      }

      /** pax-1.0 map at the data front: NUL-padded 512 blocks of
        * newline-separated decimals — count, then offset/size pairs.
        * Returns the fragments and the number of map blocks consumed.
        */
      private def sparse10Map(): Option[(Seq[(Long, Long)], Int)] = {
        val sb = new StringBuilder
        val blk = new Array[Byte](512)
        var blocks = 0
        while (blocks < 64) { // a map past 32 KiB of text is damage
          if (!readFully(in, blk, 512)) return None
          blocks += 1
          var j = 0
          while (j < 512 && blk(j) != 0) { sb.append(blk(j).toChar); j += 1 }
          val parts = sb.toString.split("\n", -1)
          if (parts.isEmpty || !parts(0).forall(_.isDigit) || parts(0).isEmpty)
            return None
          val cnt = paxLong(parts(0))
          if (cnt < 0 || cnt > (1 << 16)) return None
          if (parts.length > 2 * cnt) { // all pair lines terminated
            val nums = (1 to 2 * cnt.toInt).map(i => paxLong(parts(i)))
            if (nums.exists(_ < 0)) return None
            return Some((nums.grouped(2).map(a => (a(0), a(1))).toSeq, blocks))
          }
        }
        None
      }

      private def advance(): Unit =
        try {
          while (pending == null && !done) {
            if (!readFully(in, hdr, 512)) { done = true; return }
            if (hdr(0) == 0) { done = true; return } // zero block: end
            if (!checksumOk(hdr)) { done = true; return }
            // the 345 prefix field is POSIX-ustar only — old-GNU magic
            // ("ustar  ") overlays atime/ctime there
            val posixMagic = hdr(262) == 0
            val prefix = if (posixMagic) str(hdr, 345, 155) else ""
            val name0 = str(hdr, 0, 100)
            val hdrName = if (prefix.nonEmpty) prefix + "/" + name0 else name0
            val hdrSize = octal(hdr, 124, 12)
            val tf = { val c = hdr(156).toChar; if (c == 0) '0' else c }
            if (hdrSize < 0) { done = true; return }
            if (tf == 'L' || tf == 'x' || tf == 'g') {
              // meta member: its data describes the NEXT member ('g':
              // every subsequent member, as overridable defaults)
              if (hdrSize > (1L << 20)) { done = true; return }
              val d = new Array[Byte](hdrSize.toInt)
              if (!readFully(in, d, d.length)) { done = true; return }
              if (tf == 'L') nextName = str(d, 0, d.length)
              else if (!applyPax(d, global = tf == 'g')) { done = true; return }
              val padded = ((hdrSize + 511) / 512) * 512
              off += 512 + padded
              if (!skipFully(in, padded - hdrSize)) { done = true; return }
            } else {
              val name =
                if (nextName != null) nextName
                else globalPax.get("path").getOrElse(hdrName)
              val storedSize =
                if (nextSize >= 0) nextSize
                else globalPax.get("size").map(paxLong).filter(_ >= 0)
                  .getOrElse(hdrSize)
              if (storedSize < 0) { done = true; return }
              // sparse resolution: fragments + real (expanded) size
              var frags: Seq[(Long, Long)] = null
              var realSize = -1L
              var extraHdr = 0L // old-GNU extended map blocks (not in size)
              var mapBytes = 0L // pax-1.0 map blocks (INSIDE storedSize)
              if (tf == 'S') {
                oldGnuMap() match {
                  case None => done = true; return
                  case Some((fs, blocks)) =>
                    frags = fs
                    extraHdr = blocks * 512L
                    realSize = octal(hdr, 483, 12)
                }
              } else if (nextSparse10) {
                sparse10Map() match {
                  case None => done = true; return
                  case Some((fs, blocks)) =>
                    frags = fs
                    mapBytes = blocks * 512L
                    realSize = nextReal
                }
              } else if (nextSparse != null) {
                frags = nextSparse
                realSize = nextReal
              }
              if (realSize < 0 && frags != null)
                realSize = frags.map { case (a, b2) => a + b2 }
                  .foldLeft(0L)(math.max)
              nextName = null; nextSize = -1L
              nextSparse = null; nextReal = -1L; nextSparse10 = false
              val dataStored = storedSize - mapBytes
              if (dataStored < 0) { done = true; return }
              val isSparse = frags != null
              val entrySize = if (isSparse) realSize else storedSize
              val e = Entry(name, entrySize, tf, octal(hdr, 136, 12),
                off + 512L + extraHdr + mapBytes)
              val wanted = want(e)
              val readable =
                if (isSparse)
                  entrySize >= 0 && entrySize <= Int.MaxValue - 16L &&
                    dataStored <= Int.MaxValue - 16L
                else entrySize > 0 && entrySize <= Int.MaxValue - 16L
              val data: Array[Byte] =
                if (wanted && readable && dataStored > 0) {
                  val d = new Array[Byte](dataStored.toInt)
                  if (!readFully(in, d, d.length)) { done = true; return }
                  if (isSparse) expandSparse(frags, d, realSize) else d
                } else if (wanted && readable && isSparse) {
                  // hole-only sparse member: no stored bytes at all
                  new Array[Byte](entrySize.toInt)
                } else {
                  if (!skipFully(in, dataStored)) { done = true; return }
                  Array.emptyByteArray
                }
              // the member is complete once its data is; short PADDING
              // still emits it and the next header read ends the walk
              val padded = ((storedSize + 511) / 512) * 512
              off += 512 + extraHdr + padded
              pending = (e, data)
              if (!skipFully(in, padded - storedSize)) done = true
            }
          }
        } catch { case scala.util.control.NonFatal(_) => done = true }

      def hasNext: Boolean = {
        if (pending == null && !done) advance()
        pending != null
      }
      def next(): (Entry, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException("tar member")
        val r = pending; pending = null; r
      }
    }

  /** pax extended-header records: `LEN key=value\n`, LEN the decimal
    * byte length of the WHOLE record including itself and the newline
    * (POSIX.1-2001). Malformed framing cuts short with the records
    * parsed so far.
    */
  private def parsePaxRecords(d: Array[Byte]): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    var ok = true
    while (ok && i < d.length) {
      var j = i
      while (j < d.length && d(j) != ' ') j += 1
      if (j >= d.length) ok = false
      else {
        val len =
          try new String(d, i, j - i, "US-ASCII").toInt
          catch { case _: NumberFormatException => ok = false; 0 }
        if (!ok || len <= 0 || i + len > d.length || d(i + len - 1) != '\n')
          ok = false
        else {
          val rec = new String(d, j + 1, i + len - 1 - (j + 1), "UTF-8")
          val eq = rec.indexOf('=')
          if (eq > 0) out += ((rec.substring(0, eq), rec.substring(eq + 1)))
          i += len
        }
      }
    }
    out.result()
  }

  /** Member listing over a `.tar` or `.tar.gz` payload — one streaming
    * pass, no member data materialized. Offsets refer to the (inflated)
    * archive bytes.
    */
  def entries(raw: Array[Byte]): Seq[Entry] =
    walk(raw, _ => false).map(_._1).toSeq

  /** One member's bytes by name (any compression wrapper) — a streaming
    * pass buffering at most the current match and the best-so-far.
    * LAST complete occurrence wins: tar extraction semantics for
    * `tar -r`-updated archives, where a member appended later shadows
    * the stale earlier copy. Sparse members ('S' and pax dialects)
    * return their expanded form.
    */
  def read(raw: Array[Byte], name: String): Option[Array[Byte]] = {
    def wantTf(tf: Char) = tf == '0' || tf == 'S'
    var last: Option[Array[Byte]] = None
    walk(raw, e => e.name == name && wantTf(e.typeflag)).foreach {
      case (e, d) if e.name == name && wantTf(e.typeflag) &&
        d.length.toLong == e.size => last = Some(d)
      case _ =>
    }
    last
  }

  /** Member listing PLUS the bytes of the named members, in ONE streaming
    * pass. Byte-for-byte the same results as [[entries]] followed by
    * [[read]] per name (same '0'/'S' typeflag filter, same last-complete-
    * occurrence-wins update semantics) — but a compressed archive is
    * inflated once instead of `1 + names.size` times. This is the
    * certificate-query access pattern (list + extract k members); the
    * per-name [[read]] stays the right call for single-member lookups.
    */
  def extract(raw: Array[Byte],
      names: Set[String]): (Seq[Entry], Map[String, Array[Byte]]) = {
    def wantTf(tf: Char) = tf == '0' || tf == 'S'
    val es = scala.collection.mutable.ArrayBuffer.empty[Entry]
    val got = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    walk(raw, e => names.contains(e.name) && wantTf(e.typeflag)).foreach {
      case (e, d) =>
        es += e
        if (names.contains(e.name) && wantTf(e.typeflag) &&
          d.length.toLong == e.size) got(e.name) = d
    }
    (es.toSeq, got.toMap)
  }

  /** One 512-byte ustar header with a valid checksum — shared by
    * [[build]] and the spec/soak fixture writers.
    */
  private[graft] def header(name: String, size: Long, tf: Char,
      mtime: Long = 1755000000L): Array[Byte] = {
    val h = new Array[Byte](512)
    val nameB = name.getBytes("UTF-8")
    require(nameB.length <= 100, s"long names out of builder envelope: $name")
    System.arraycopy(nameB, 0, h, 0, nameB.length)
    def oct(off: Int, len: Int, v: Long): Unit = {
      val s = java.lang.Long.toOctalString(v)
      val pad = len - 1 - s.length
      var i = 0
      while (i < pad) { h(off + i) = '0'; i += 1 }
      System.arraycopy(s.getBytes("US-ASCII"), 0, h, off + pad, s.length)
    }
    oct(100, 8, 420) // mode 0644
    oct(108, 8, 0); oct(116, 8, 0)
    oct(124, 12, size)
    oct(136, 12, mtime)
    h(156) = tf.toByte
    System.arraycopy("ustar".getBytes, 0, h, 257, 5)
    h(263) = '0'; h(264) = '0'
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    h.foreach(c => sum += (c & 0xFF))
    val cs = java.lang.Long.toOctalString(sum)
    var i = 0
    while (i < 6 - cs.length) { h(148 + i) = '0'; i += 1 }
    System.arraycopy(cs.getBytes("US-ASCII"), 0, h, 148 + (6 - cs.length), cs.length)
    h(154) = 0; h(155) = ' '
    h
  }

  /** Recompute the header checksum in place (builders that patch fields
    * after [[header]] wrote it).
    */
  private def rechecksum(h: Array[Byte]): Unit = {
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    h.foreach(c => sum += (c & 0xFF))
    val cs = java.lang.Long.toOctalString(sum)
    var i = 0
    while (i < 6 - cs.length) { h(148 + i) = '0'; i += 1 }
    System.arraycopy(cs.getBytes("US-ASCII"), 0, h, 148 + (6 - cs.length),
      cs.length)
    h(154) = 0; h(155) = ' '
  }

  private def octField(h: Array[Byte], off: Int, len: Int, v: Long): Unit = {
    val s = java.lang.Long.toOctalString(v)
    val pad = len - 1 - s.length
    var i = 0
    while (i < pad) { h(off + i) = '0'; i += 1 }
    System.arraycopy(s.getBytes("US-ASCII"), 0, h, off + pad, s.length)
  }

  /** One pax record `LEN key=value\n` where LEN counts itself. */
  private def paxRecord(k: String, v: String): Array[Byte] = {
    val body = s" $k=$v\n".getBytes("UTF-8")
    var len = body.length + 1
    while (len.toString.length + body.length != len)
      len = len.toString.length + body.length
    len.toString.getBytes("US-ASCII") ++ body
  }

  private def pad512(out: java.io.ByteArrayOutputStream): Unit = {
    val r = out.size() % 512
    if (r != 0) out.write(new Array[Byte](512 - r))
  }

  /** Old-GNU 'S' sparse fixture: header map (≤4 fragments), old-GNU
    * magic ("ustar  "), realsize at 483, stored data = the fragments
    * concatenated — the spec/certificate builders' counterpart of the
    * sparse walk.
    */
  private[graft] def buildSparseOldGnu(name: String,
      frags: Seq[(Long, Array[Byte])], realSize: Long): Array[Byte] = {
    val stored = Array.concat(frags.map(_._2): _*)
    val h = header(name, stored.length, 'S')
    System.arraycopy("ustar  ".getBytes("US-ASCII"), 0, h, 257, 7)
    h(264) = 0
    frags.take(4).zipWithIndex.foreach { case ((fo, fd), k) =>
      octField(h, 386 + k * 24, 12, fo)
      octField(h, 386 + k * 24 + 12, 12, fd.length)
    }
    var rest = frags.drop(4)
    h(482) = if (rest.nonEmpty) 1 else 0
    octField(h, 483, 12, realSize)
    rechecksum(h)
    val out = new java.io.ByteArrayOutputStream()
    out.write(h)
    while (rest.nonEmpty) { // extended 21-entry map blocks
      val blk = new Array[Byte](512)
      rest.take(21).zipWithIndex.foreach { case ((fo, fd), j) =>
        octField(blk, j * 24, 12, fo)
        octField(blk, j * 24 + 12, 12, fd.length)
      }
      rest = rest.drop(21)
      if (rest.nonEmpty) blk(504) = 1
      out.write(blk)
    }
    out.write(stored); pad512(out)
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** pax sparse fixture in dialect "0.0", "0.1" or "1.0" — the layouts
    * `tar --sparse` emits under the three pax sparse versions.
    */
  private[graft] def buildSparsePax(name: String,
      frags: Seq[(Long, Array[Byte])], realSize: Long,
      dialect: String): Array[Byte] = {
    val stored = Array.concat(frags.map(_._2): _*)
    val out = new java.io.ByteArrayOutputStream()
    def member(h: Array[Byte], data: Array[Byte]): Unit = {
      out.write(h); out.write(data); pad512(out)
    }
    dialect match {
      case "0.1" =>
        val recs = Array.concat(
          paxRecord("GNU.sparse.size", realSize.toString),
          paxRecord("GNU.sparse.numblocks", frags.length.toString),
          paxRecord("GNU.sparse.name", name),
          paxRecord("GNU.sparse.map",
            frags.map(f => s"${f._1},${f._2.length}").mkString(",")))
        member(header("./PaxHeaders.0/sp", recs.length, 'x'), recs)
        member(header("sp.mangled", stored.length, '0'), stored)
      case "0.0" =>
        val recs = Array.concat(
          (Seq(paxRecord("GNU.sparse.size", realSize.toString),
            paxRecord("GNU.sparse.numblocks", frags.length.toString)) ++
            frags.flatMap(f => Seq(
              paxRecord("GNU.sparse.offset", f._1.toString),
              paxRecord("GNU.sparse.numbytes", f._2.length.toString))) ++
            Seq(paxRecord("GNU.sparse.name", name))): _*)
        member(header("./PaxHeaders.0/sp", recs.length, 'x'), recs)
        member(header("sp.mangled", stored.length, '0'), stored)
      case "1.0" =>
        val mapText = (Seq(frags.length.toLong) ++
          frags.flatMap(f => Seq(f._1, f._2.length.toLong))).mkString("\n") + "\n"
        val mapBuf = new java.io.ByteArrayOutputStream()
        mapBuf.write(mapText.getBytes("US-ASCII")); pad512(mapBuf)
        val data = mapBuf.toByteArray ++ stored
        val recs = Array.concat(
          paxRecord("GNU.sparse.major", "1"),
          paxRecord("GNU.sparse.minor", "0"),
          paxRecord("GNU.sparse.name", name),
          paxRecord("GNU.sparse.realsize", realSize.toString))
        member(header("./PaxHeaders.0/sp", recs.length, 'x'), recs)
        member(header("GNUSparseFile.0/sp", data.length, '0'), data)
      case other => require(false, s"unknown sparse dialect: $other")
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** Assemble a tar (optionally gzipped) from (name, bytes, typeflag)
    * members — the spec/certificate builders' counterpart.
    */
  private[graft] def build(members: Seq[(String, Array[Byte], Char)],
      gzip: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for ((name, data, tf) <- members) {
      out.write(header(name, data.length, tf))
      out.write(data)
      val pad = (512 - (data.length % 512)) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024))
    val tar = out.toByteArray
    if (gzip) Codecs.gzip(tar) else tar
  }
}
