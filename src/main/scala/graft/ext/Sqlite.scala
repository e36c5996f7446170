package graft.ext

import scala.collection.mutable.ArrayBuffer

import graft.ext.Bytes.{be16, be32, putBe16, putBe32}

/** SQLite database-file reader — the app-data format of a device/app
  * crawl (browser histories, chat exports, telemetry dumps, and a fair
  * number of published datasets ship `.sqlite`/`.db`). Implements the
  * public file format (sqlite.org/fileformat2.html): the 100-byte
  * header, table b-tree walk (0x0D leaves, 0x05 interiors), the record
  * serial-type codec, payload overflow chains, and INTEGER PRIMARY KEY
  * rowid aliasing. Index b-trees (0x02/0x0A) are recognized in the
  * schema and skipped — the reader serves table scans; SQLite's own
  * query planner is out of scope (the engine IS the query planner).
  *
  * Envelope: UTF-8 text encoding (header field 56 — the overwhelming
  * default), rowid tables (WITHOUT ROWID tables live in index-format
  * b-trees and return None), no pointer-map/vacuum awareness needed
  * (ptrmap pages are never reachable from a b-tree walk). Freelist
  * pages are likewise unreachable by construction.
  *
  * Scale shape: one database = one payload row decoded inside a task;
  * the walk is depth-first over the page tree with only the current
  * page and one assembled record resident — allocation is bounded by
  * the largest row (overflow chain), not the database.
  */
object Sqlite {

  /** Decoded column value: null, Long, Double, String, or Array[Byte]. */
  type Value = Any

  final case class Table(name: String, rootPage: Int, sql: String)

  /** One table's decoded content: declared column names (parsed from
    * the CREATE TABLE sql) and rows of (rowid, values). Values align
    * with `columns`; a row shorter than the declaration (older schema
    * version) is padded with nulls.
    */
  final case class TableData(columns: Vector[String],
      rows: Vector[(Long, Vector[Value])])

  private val Magic = ("SQLite format 3" + "\u0000").getBytes("ISO-8859-1")

  def isSqlite(b: Array[Byte]): Boolean =
    b != null && b.length >= 100 &&
      java.util.Arrays.equals(java.util.Arrays.copyOf(b, 16), Magic)

  /** Schema listing: `sqlite_master` rows of type 'table' (name,
    * rootpage, sql). None when the payload is not a SQLite file or the
    * master tree is unreadable.
    */
  def tables(b: Array[Byte]): Option[Vector[Table]] = {
    if (!isSqlite(b)) return None
    try {
      val g = Geometry(b)
      val out = Vector.newBuilder[Table]
      walkTable(b, g, 1) { (_, values) =>
        values match {
          case Vector(t: String, name: String, _, root: Long, sql) if t == "table" =>
            out += Table(name, root.toInt,
              sql match { case s: String => s; case _ => "" })
          case _ => // index / view / trigger rows
        }
      }
      Some(out.result())
    } catch { case _: Exception => None }
  }

  /** Full decode of one named table. None when the file is invalid,
    * the table is absent, or it is a WITHOUT ROWID table (index-format
    * root page).
    */
  def readTable(b: Array[Byte], name: String): Option[TableData] =
    tables(b).flatMap(_.find(_.name == name)).flatMap { t =>
      try {
        val g = Geometry(b)
        val first = pageType(b, g, t.rootPage)
        if (first != 0x0D && first != 0x05) return None // WITHOUT ROWID
        val cols = parseColumns(t.sql)
        val ipk = ipkOrdinal(t.sql, cols)
        val real = realAffinity(t.sql, cols)
        val rows = Vector.newBuilder[(Long, Vector[Value])]
        walkTable(b, g, t.rootPage) { (rowid, values) =>
          var padded =
            if (values.length >= cols.length) values
            else values ++ Vector.fill(cols.length - values.length)(null)
          // INTEGER PRIMARY KEY columns are stored NULL; the rowid IS
          // the value (fileformat2.html §2.1, "rowid aliases")
          if (ipk >= 0 && ipk < padded.length && padded(ipk) == null)
            padded = padded.updated(ipk, rowid)
          // REAL-affinity columns store exactly-integral values as
          // INTEGER serials and convert back on read (§2.1, "the value
          // is converted back to floating point as it is read out")
          var c = 0
          while (c < padded.length && c < real.length) {
            if (real(c)) padded(c) match {
              case v: Long => padded = padded.updated(c, v.toDouble)
              case _ =>
            }
            c += 1
          }
          rows += ((rowid, padded))
        }
        Some(TableData(cols, rows.result()))
      } catch { case _: Exception => None }
    }

  // ----- geometry ----------------------------------------------------

  private final case class Geometry(pageSize: Int, usable: Int) {
    val maxLeafLocal: Int = usable - 35                      // X for table leaves
    val minLocal: Int = (usable - 12) * 32 / 255 - 23        // M
  }

  private object Geometry {
    def apply(b: Array[Byte]): Geometry = {
      val raw = be16(b, 16)
      val pageSize = if (raw == 1) 65536 else raw
      val reserved = b(20) & 0xFF
      Geometry(pageSize, pageSize - reserved)
    }
  }

  private def pageStart(g: Geometry, page: Int): Int = (page - 1) * g.pageSize

  /** b-tree page type byte (page 1's header sits after the 100-byte
    * file header).
    */
  private def pageType(b: Array[Byte], g: Geometry, page: Int): Int =
    b(pageStart(g, page) + (if (page == 1) 100 else 0)) & 0xFF

  // ----- b-tree walk --------------------------------------------------

  /** Depth-first walk of a table b-tree rooted at `page`, invoking `f`
    * with each leaf cell's (rowid, decoded record values) in rowid
    * order. `depth` bounds recursion: a well-formed b-tree over a file
    * this reader can even hold (<2 GiB of 512-byte pages) is <40 levels
    * deep, so a crafted file whose interior page points at itself or an
    * ancestor throws (caught by the Option entry points) instead of
    * recursing to StackOverflowError, which is an Error and would escape
    * them and kill the executor task.
    */
  private def walkTable(b: Array[Byte], g: Geometry, page: Int, depth: Int = 0)
      (f: (Long, Vector[Value]) => Unit): Unit = {
    if (depth > 64)
      throw new IllegalArgumentException("b-tree deeper than 64 levels (cycle?)")
    val base = pageStart(g, page)
    val hdr = base + (if (page == 1) 100 else 0)
    val typ = b(hdr) & 0xFF
    val nCells = be16(b, hdr + 3)
    typ match {
      case 0x05 => // interior: left children then right-most pointer
        val ptrs = hdr + 12
        var k = 0
        while (k < nCells) {
          val off = base + be16(b, ptrs + 2 * k)
          walkTable(b, g, be32(b, off), depth + 1)(f)
          k += 1
        }
        walkTable(b, g, be32(b, hdr + 8), depth + 1)(f)
      case 0x0D => // leaf
        val ptrs = hdr + 8
        var k = 0
        while (k < nCells) {
          var p = base + be16(b, ptrs + 2 * k)
          val (payloadLen, p1) = varint(b, p); p = p1
          val (rowid, p2) = varint(b, p); p = p2
          val payload = assemblePayload(b, g, p, payloadLen.toInt)
          f(rowid, decodeRecord(payload))
          k += 1
        }
      case t =>
        throw new IllegalArgumentException(s"not a table b-tree page: $t")
    }
  }

  /** Local bytes + overflow chain → full payload (fileformat2.html
    * §1.6: K = M + ((P-M) mod (U-4)); local = P if P<=X else K if K<=X
    * else M; a trailing 4-byte page number chains overflow pages each
    * holding U-4 content bytes).
    */
  private def assemblePayload(b: Array[Byte], g: Geometry, at: Int,
      total: Int): Array[Byte] = {
    val local =
      if (total <= g.maxLeafLocal) total
      else {
        val k = g.minLocal + (total - g.minLocal) % (g.usable - 4)
        if (k <= g.maxLeafLocal) k else g.minLocal
      }
    if (local == total) java.util.Arrays.copyOfRange(b, at, at + total)
    else {
      val out = new Array[Byte](total)
      System.arraycopy(b, at, out, 0, local)
      var done = local
      var page = be32(b, at + local)
      while (page != 0 && done < total) {
        val ps = pageStart(g, page)
        val n = math.min(g.usable - 4, total - done)
        System.arraycopy(b, ps + 4, out, done, n)
        done += n
        page = be32(b, ps)
      }
      if (done != total)
        throw new IllegalArgumentException("truncated overflow chain")
      out
    }
  }

  // ----- record codec ---------------------------------------------------

  /** Record format (§2.1): varint header size, serial-type varints,
    * then values.
    */
  private[ext] def decodeRecord(p: Array[Byte]): Vector[Value] = {
    val (hdrLen, afterLen) = varint(p, 0)
    var i = afterLen
    val types = ArrayBuffer.empty[Long]
    while (i < hdrLen) {
      val (t, ni) = varint(p, i); types += t; i = ni
    }
    var at = hdrLen.toInt
    types.iterator.map { t =>
      val (v, n) = decodeValue(p, at, t)
      at += n
      v
    }.toVector
  }

  private def decodeValue(p: Array[Byte], at: Int, t: Long): (Value, Int) =
    t match {
      case 0 => (null, 0)
      case 1 => (p(at).toLong, 1)
      case 2 => (beInt(p, at, 2), 2)
      case 3 => (beInt(p, at, 3), 3)
      case 4 => (beInt(p, at, 4), 4)
      case 5 => (beInt(p, at, 6), 6)
      case 6 => (beInt(p, at, 8), 8)
      case 7 => (java.lang.Double.longBitsToDouble(beInt(p, at, 8)), 8)
      case 8 => (0L, 0)
      case 9 => (1L, 0)
      case n if n >= 13 && n % 2 == 1 =>
        val len = ((n - 13) / 2).toInt
        (new String(p, at, len, java.nio.charset.StandardCharsets.UTF_8), len)
      case n if n >= 12 =>
        val len = ((n - 12) / 2).toInt
        (java.util.Arrays.copyOfRange(p, at, at + len), len)
      case n =>
        throw new IllegalArgumentException(s"reserved serial type $n")
    }

  /** Big-endian signed integer of `n` bytes (sign-extended). */
  private def beInt(p: Array[Byte], at: Int, n: Int): Long = {
    var v: Long = p(at).toLong // sign-extend the first byte
    var k = 1
    while (k < n) { v = (v << 8) | (p(at + k) & 0xFFL); k += 1 }
    v
  }

  /** SQLite varint: 1-8 bytes of 7 bits high-bit-continued; a 9th byte
    * contributes all 8 bits. Returns (value, next offset).
    */
  private[ext] def varint(b: Array[Byte], at: Int): (Long, Int) = {
    var v = 0L
    var i = at
    var k = 0
    while (k < 8) {
      val c = b(i) & 0xFF
      i += 1
      if (c < 0x80) return ((v << 7) | c, i)
      v = (v << 7) | (c & 0x7F)
      k += 1
    }
    (((v << 8) | (b(i) & 0xFF)), i + 1)
  }

  // ----- schema parse ---------------------------------------------------

  /** Column names out of a CREATE TABLE statement — the first
    * identifier of each top-level comma segment inside the outer
    * parens, with quotes/brackets stripped and table-constraint
    * keywords (PRIMARY/UNIQUE/CHECK/FOREIGN/CONSTRAINT) ending the
    * list.
    */
  private[ext] def parseColumns(sql: String): Vector[String] =
    columnSegments(sql).map { seg =>
      val t = seg.trim
      if (t.startsWith("\"")) t.substring(1, t.indexOf('"', 1))
      else if (t.startsWith("[")) t.substring(1, t.indexOf(']', 1))
      else if (t.startsWith("`")) t.substring(1, t.indexOf('`', 1))
      else t.takeWhile(c => !c.isWhitespace && c != '(')
    }

  /** Top-level comma segments of the CREATE TABLE paren group, cut at
    * the first table-constraint keyword.
    */
  private def columnSegments(sql: String): Vector[String] = {
    val open = sql.indexOf('(')
    if (open < 0) return Vector.empty
    // outer paren group
    var depth = 0
    var i = open
    var close = sql.length
    var found = false
    while (i < sql.length && !found) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) { close = i; found = true }
        case _ =>
      }
      i += 1
    }
    val inner = sql.substring(open + 1, close)
    // split on top-level commas
    val segs = ArrayBuffer.empty[String]
    depth = 0
    var st = 0
    i = 0
    while (i < inner.length) {
      inner.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => segs += inner.substring(st, i); st = i + 1
        case _ =>
      }
      i += 1
    }
    segs += inner.substring(st)
    val stop = Set("PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT")
    segs.iterator.map(_.trim).filter(_.nonEmpty).takeWhile { seg =>
      val first =
        if (seg.startsWith("\"")) seg.substring(1, seg.indexOf('"', 1))
        else if (seg.startsWith("[")) seg.substring(1, seg.indexOf(']', 1))
        else if (seg.startsWith("`")) seg.substring(1, seg.indexOf('`', 1))
        else seg.takeWhile(c => !c.isWhitespace && c != '(')
      !stop.contains(first.toUpperCase)
    }.toVector
  }

  /** REAL-affinity flags per column (datatype3.html §3.1: declared type
    * containing REAL/FLOA/DOUB) — the single affinity with a storage-
    * level read consequence (integral doubles round-trip as INTEGER
    * serials).
    */
  private[ext] def realAffinity(sql: String, cols: Vector[String]): Array[Boolean] = {
    val segs = columnSegments(sql)
    cols.indices.map { k =>
      segs.lift(k).exists { seg =>
        val declared = seg.trim.drop(colNameLen(seg.trim)).toUpperCase
        declared.contains("REAL") || declared.contains("FLOA") ||
          declared.contains("DOUB")
      }
    }.toArray
  }

  private def colNameLen(seg: String): Int =
    if (seg.startsWith("\"")) seg.indexOf('"', 1) + 1
    else if (seg.startsWith("[")) seg.indexOf(']', 1) + 1
    else if (seg.startsWith("`")) seg.indexOf('`', 1) + 1
    else seg.takeWhile(c => !c.isWhitespace && c != '(').length

  /** Ordinal of the INTEGER PRIMARY KEY column (rowid alias), -1 when
    * none. Matches the spec's aliasing rule: the declared type must be
    * exactly INTEGER (any case) with PRIMARY KEY on the column.
    */
  private[ext] def ipkOrdinal(sql: String, cols: Vector[String]): Int = {
    val open = sql.indexOf('(')
    if (open < 0) return -1
    val norm = sql.substring(open + 1).toUpperCase
    cols.indexWhere { c =>
      val pat = ("(?s).*\\b" + java.util.regex.Pattern.quote(c.toUpperCase) +
        "\\s+INTEGER\\s+PRIMARY\\s+KEY.*").r
      pat.pattern.matcher(norm).matches()
    }
  }

  // ----- deterministic builder (fixtures/certificates) ------------------

  /** Minimal single-file SQLite writer for self-built fixtures: rowid
    * tables only, UTF-8, no indices/freelist. Handles multi-leaf trees
    * under one interior page and payload overflow chains — enough to
    * exercise every read path above. Values: null, Long, Double,
    * String, Array[Byte].
    */
  private[graft] def build(pageSize: Int,
      tbls: Seq[(String, Seq[String], Seq[Seq[Value]])]): Array[Byte] = {
    val g = Geometry(pageSize, pageSize)
    val pages = ArrayBuffer.empty[Array[Byte]] // index 0 = page 1
    def alloc(): Int = { pages += new Array[Byte](pageSize); pages.length }

    alloc() // page 1 (master)

    // ---- build each table's tree, collecting master records
    val masterRows = ArrayBuffer.empty[Array[Byte]]
    for ((name, cols, rows) <- tbls) {
      val cells = rows.zipWithIndex.map { case (r, k) =>
        leafCell(g, k + 1L, encodeRecord(r), alloc, pages, pageSize)
      }
      val root = placeTree(g, cells, alloc, pages, pageSize, firstPage = false)
      val sql = s"CREATE TABLE $name (${cols.mkString(", ")})"
      masterRows += encodeRecord(Seq("table", name, name, root.toLong, sql))
    }

    // ---- master leaf on page 1 (fixtures keep it single-page)
    val masterCells = masterRows.zipWithIndex.map { case (rec, k) =>
      leafCell(g, k + 1L, rec, alloc, pages, pageSize)
    }.toSeq
    writeLeaf(pages(0), 100, masterCells, pageSize)

    // ---- file header on page 1
    val h = pages(0)
    System.arraycopy(Magic, 0, h, 0, 16)
    putBe16(h, 16, pageSize)
    h(18) = 1; h(19) = 1         // file format versions
    h(21) = 64; h(22) = 32; h(23) = 32
    putBe32(h, 28, pages.length) // size in pages
    putBe32(h, 44, 1)            // schema format 1
    putBe32(h, 56, 1)            // UTF-8
    putBe32(h, 96, 3049000)      // library version stamp

    val out = new Array[Byte](pageSize * pages.length)
    pages.zipWithIndex.foreach { case (p, k) =>
      System.arraycopy(p, 0, out, k * pageSize, pageSize)
    }
    out
  }

  /** Encoded leaf cell bytes (with overflow pages allocated as needed)
    * plus its rowid.
    */
  private def leafCell(g: Geometry, rowid: Long, rec: Array[Byte],
      alloc: () => Int, pages: ArrayBuffer[Array[Byte]],
      pageSize: Int): (Long, Array[Byte]) = {
    val total = rec.length
    val local =
      if (total <= g.maxLeafLocal) total
      else {
        val k = g.minLocal + (total - g.minLocal) % (g.usable - 4)
        if (k <= g.maxLeafLocal) k else g.minLocal
      }
    val head = putVarint(total) ++ putVarint(rowid)
    if (local == total) (rowid, head ++ rec)
    else {
      // overflow chain
      var done = local
      var firstPage = 0
      var prev: Array[Byte] = null
      while (done < total) {
        val pg = alloc()
        if (prev == null) firstPage = pg else putBe32(prev, 0, pg)
        prev = pages(pg - 1)
        val n = math.min(g.usable - 4, total - done)
        System.arraycopy(rec, done, prev, 4, n)
        done += n
      }
      val cell = new Array[Byte](head.length + local + 4)
      System.arraycopy(head, 0, cell, 0, head.length)
      System.arraycopy(rec, 0, cell, head.length, local)
      putBe32(cell, head.length + local, firstPage)
      (rowid, cell)
    }
  }

  /** Pack cells into leaves, then stack interior levels until one root
    * remains — real SQLite shape for large tables (depth grows with
    * log_fanout(n)). Returns the root page number.
    */
  private def placeTree(g: Geometry, cells: Seq[(Long, Array[Byte])],
      alloc: () => Int, pages: ArrayBuffer[Array[Byte]], pageSize: Int,
      firstPage: Boolean): Int = {
    // greedy fill: leaf capacity = usable - 8 header; 2-byte pointer +
    // cell bytes each
    val groups = ArrayBuffer.empty[Seq[(Long, Array[Byte])]]
    var cur = ArrayBuffer.empty[(Long, Array[Byte])]
    var used = 8
    for (c <- cells) {
      val need = 2 + c._2.length
      if (used + need > g.usable && cur.nonEmpty) {
        groups += cur.toSeq; cur = ArrayBuffer.empty; used = 8
      }
      cur += c; used += need
    }
    if (cur.nonEmpty) groups += cur.toSeq
    if (groups.isEmpty) groups += Seq.empty
    var level: Seq[(Int, Long)] = groups.map { grp =>
      val pg = alloc()
      writeLeaf(pages(pg - 1), 0, grp, pageSize)
      (pg, grp.lastOption.map(_._1).getOrElse(0L))
    }.toSeq
    // stack interiors: each holds at most `fanout` children
    // (2-byte pointer + 4-byte child + ≤9-byte rowid varint per cell,
    // 12-byte header, one right-most child free)
    val fanout = math.max(2, (g.usable - 12) / 15)
    while (level.length > 1) {
      level = level.grouped(fanout).map { kids =>
        val pg = alloc()
        val p = pages(pg - 1)
        p(0) = 0x05
        val n = kids.length - 1
        putBe16(p, 3, n)
        putBe32(p, 8, kids.last._1) // right-most pointer
        var contentEnd = pageSize
        var k = 0
        while (k < n) {
          val (child, maxRowid) = kids(k)
          val cell = new Array[Byte](4) ++ putVarint(maxRowid)
          contentEnd -= cell.length
          putBe32(cell, 0, child)
          System.arraycopy(cell, 0, p, contentEnd, cell.length)
          putBe16(p, 12 + 2 * k, contentEnd)
          k += 1
        }
        putBe16(p, 5, contentEnd)
        (pg, kids.last._2)
      }.toSeq
    }
    level.head._1
  }

  private def writeLeaf(p: Array[Byte], hdrAt: Int,
      cells: Seq[(Long, Array[Byte])], pageSize: Int): Unit = {
    p(hdrAt) = 0x0D
    putBe16(p, hdrAt + 3, cells.length)
    var contentEnd = pageSize
    cells.zipWithIndex.foreach { case ((_, cell), k) =>
      contentEnd -= cell.length
      System.arraycopy(cell, 0, p, contentEnd, cell.length)
      putBe16(p, hdrAt + 8 + 2 * k, contentEnd)
    }
    putBe16(p, hdrAt + 5, contentEnd)
  }

  private[ext] def encodeRecord(raw: Seq[Value]): Array[Byte] = {
    val values = raw.map { case x: Int => x.toLong; case x => x }
    val bodies = values.map {
      case null => (0L, Array.emptyByteArray)
      case v: Long => encodeLong(v)
      case v: Double if v == math.rint(v) && math.abs(v) < (1L << 51).toDouble =>
        // mirror real SQLite: integral REAL values ship as INTEGER
        // serials (the reader's affinity pass floats them back)
        encodeLong(v.toLong)
      case v: Double =>
        val bits = java.lang.Double.doubleToLongBits(v)
        val a = new Array[Byte](8)
        var k = 0
        while (k < 8) { a(7 - k) = ((bits >> (8 * k)) & 0xFF).toByte; k += 1 }
        (7L, a)
      case v: String =>
        val a = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (13L + 2 * a.length, a)
      case v: Array[Byte] => (12L + 2 * v.length, v)
      case other =>
        throw new IllegalArgumentException(s"unsupported: ${other.getClass}")
    }
    val serials = bodies.flatMap(b => putVarint(b._1)).toArray
    // header length varint includes itself; sizes 1..2 cover fixtures
    val hl1 = 1 + serials.length
    val hdrLenBytes = putVarint(if (putVarint(hl1.toLong).length == 1) hl1.toLong
      else (putVarint(hl1.toLong).length + serials.length).toLong)
    hdrLenBytes ++ serials ++ bodies.flatMap(_._2)
  }

  /** (serial type, big-endian body) for an integer value. */
  private def encodeLong(v: Long): (Long, Array[Byte]) =
    if (v == 0) (8L, Array.emptyByteArray)
    else if (v == 1) (9L, Array.emptyByteArray)
    else {
      val n =
        if (v >= Byte.MinValue && v <= Byte.MaxValue) 1
        else if (v >= Short.MinValue && v <= Short.MaxValue) 2
        else if (v >= -8388608L && v <= 8388607L) 3
        else if (v >= Int.MinValue && v <= Int.MaxValue) 4
        else if (v >= -140737488355328L && v <= 140737488355327L) 6
        else 8
      val serial = n match {
        case 1 => 1L; case 2 => 2L; case 3 => 3L
        case 4 => 4L; case 6 => 5L; case _ => 6L
      }
      val a = new Array[Byte](n)
      var k = 0
      while (k < n) { a(n - 1 - k) = ((v >> (8 * k)) & 0xFF).toByte; k += 1 }
      (serial, a)
    }

  private def putVarint(v: Long): Array[Byte] = {
    if (v >= 0 && v < 0x80) Array(v.toByte)
    else {
      val groups = ArrayBuffer.empty[Byte]
      var x = v
      if ((x >>> 56) != 0) {
        // full 9-byte form: 8 continuation bytes + raw low byte
        val out = new Array[Byte](9)
        out(8) = (x & 0xFF).toByte
        x = x >>> 8
        var k = 7
        while (k >= 0) { out(k) = (0x80 | ((x >> (7 * (7 - k))) & 0x7F)).toByte; k -= 1 }
        return out
      }
      while (x != 0) { groups += (x & 0x7F).toByte; x = x >>> 7 }
      val out = groups.reverse.toArray
      var k = 0
      while (k < out.length - 1) { out(k) = (out(k) | 0x80).toByte; k += 1 }
      out
    }
  }
}
