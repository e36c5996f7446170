package graft.ext

import scala.collection.mutable.ArrayBuffer

import graft.ext.Bytes.{le16, le32, le64, putLe16, putLe32, putLe64}

/** Compound File Binary (MS-CFB) — the OLE2 container every legacy
  * Office document (.doc/.xls/.ppt), MSI installer and Outlook .msg is
  * wrapped in; a scraped document dump is full of them. Implements the
  * open spec ([MS-CFB]): the 512-byte header, FAT with the DIFAT
  * extension chain, the directory tree of 128-byte entries, and the
  * mini-stream/miniFAT layer for streams under the 4096-byte cutoff.
  *
  * The reader hands back named streams; format arms on top ([[MsDoc]]
  * for WordDocument text) own the stream payloads. Version 3 (512-byte
  * sectors) and version 4 (4096) both decode — the sector shift comes
  * from the header.
  *
  * Scale shape: one document = one payload row decoded inside a task;
  * FAT/miniFAT are materialized as int arrays (4 bytes per sector of
  * file — 1/128th of the payload), streams assembled chain-at-a-time.
  */
object Cfb {

  /** One directory entry: full path (storages joined by '/'), object
    * type (1 storage, 2 stream, 5 root), and size.
    */
  final case class Entry(path: String, objType: Int, size: Long, startSector: Int)

  private val Magic = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
    .map(_.toByte)

  def isCfb(b: Array[Byte]): Boolean =
    b != null && b.length >= 512 &&
      java.util.Arrays.equals(java.util.Arrays.copyOf(b, 8), Magic)

  private val EndOfChain = 0xFFFFFFFE
  private val FreeSect = 0xFFFFFFFF

  private final class Layout(val b: Array[Byte]) {
    val sectorSize: Int = 1 << le16(b, 30) // 9 -> 512, 12 -> 4096
    val miniSize: Int = 1 << le16(b, 32)   // 64
    val miniCutoff: Int = le32(b, 56)      // 4096
    val fat: Array[Int] = {
      val nFat = le32(b, 44)
      val difat = ArrayBuffer.empty[Int]
      var k = 0
      while (k < 109) { difat += le32(b, 76 + 4 * k); k += 1 }
      // DIFAT extension sectors: each holds sectorSize/4 - 1 FAT sector
      // numbers plus a next pointer
      var ds = le32(b, 68)
      val nDifat = le32(b, 72)
      var guard = 0
      while (ds != EndOfChain && ds != FreeSect && guard < nDifat) {
        val at = sectorAt(ds)
        val per = sectorSize / 4 - 1
        var j = 0
        while (j < per) { difat += le32(b, at + 4 * j); j += 1 }
        ds = le32(b, at + 4 * per)
        guard += 1
      }
      val fatSectors = difat.take(nFat).filter(_ != FreeSect)
      val out = new Array[Int](fatSectors.length * (sectorSize / 4))
      var o = 0
      for (fs <- fatSectors) {
        val at = sectorAt(fs)
        var j = 0
        while (j < sectorSize / 4) { out(o) = le32(b, at + 4 * j); o += 1; j += 1 }
      }
      out
    }
    def sectorAt(sector: Int): Int = 512 + sector * sectorSize

    /** Assemble a FAT chain starting at `start`, clipped to `size`. */
    def chain(start: Int, size: Long): Array[Byte] = {
      val out = new Array[Byte](size.toInt)
      var s = start
      var done = 0
      while (s != EndOfChain && s >= 0 && done < size) {
        val n = math.min(sectorSize.toLong, size - done).toInt
        System.arraycopy(b, sectorAt(s), out, done, n)
        done += n
        s = fat(s)
      }
      if (done != size)
        throw new IllegalArgumentException("truncated FAT chain")
      out
    }

    // directory: FAT chain from header field 48
    val dir: Array[Byte] = {
      // size unknown up front: walk the chain counting sectors first
      var s = le32(b, 48)
      var n = 0
      while (s != EndOfChain && s >= 0 && n < 65536) { n += 1; s = fat(s) }
      chain(le32(b, 48), n.toLong * sectorSize)
    }

    val miniFat: Array[Int] = {
      val nMini = le32(b, 64)
      if (nMini == 0) Array.emptyIntArray
      else {
        val raw = chain(le32(b, 60), nMini.toLong * sectorSize)
        Array.tabulate(raw.length / 4)(k => le32(raw, 4 * k))
      }
    }

    // the mini stream is the root entry's chain
    lazy val miniStream: Array[Byte] = {
      val rootStart = le32(dir, 0x74)
      val rootSize = le64(dir, 0x78)
      chain(rootStart, rootSize)
    }

    def miniChain(start: Int, size: Long): Array[Byte] = {
      val out = new Array[Byte](size.toInt)
      var s = start
      var done = 0
      while (s != EndOfChain && s >= 0 && done < size) {
        val n = math.min(miniSize.toLong, size - done).toInt
        System.arraycopy(miniStream, s * miniSize, out, done, n)
        done += n
        s = miniFat(s)
      }
      if (done != size)
        throw new IllegalArgumentException("truncated mini chain")
      out
    }
  }

  /** Directory listing with storage paths flattened ('/'-joined). None
    * when the payload is not a CFB or the structures are unreadable.
    */
  def entries(b: Array[Byte]): Option[Vector[Entry]] = {
    if (!isCfb(b)) return None
    try {
      val l = new Layout(b)
      val n = l.dir.length / 128
      def entryName(k: Int): String = {
        val cb = le16(l.dir, 128 * k + 0x40)
        if (cb < 2) "" else new String(l.dir, 128 * k, cb - 2, "UTF-16LE")
      }
      val out = Vector.newBuilder[Entry]
      // depth-first over the red-black sibling trees, root's child
      // first; depth-bounded so a cyclic/corrupt tree degrades to the
      // catch below instead of blowing the stack
      def walk(id: Int, prefix: String, depth: Int): Unit = {
        if (id < 0 || id >= n) return
        if (depth > 4096)
          throw new IllegalArgumentException("directory tree too deep")
        val base = 128 * id
        val typ = l.dir(base + 0x42) & 0xFF
        if (typ == 0) return
        val left = le32(l.dir, base + 0x44)
        val right = le32(l.dir, base + 0x48)
        val child = le32(l.dir, base + 0x4C)
        walk(left, prefix, depth + 1)
        val name = entryName(id)
        val path = if (prefix.isEmpty) name else prefix + "/" + name
        out += Entry(path, typ, le64(l.dir, base + 0x78), le32(l.dir, base + 0x74))
        if (typ == 1 && child != -1) walk(child, path, depth + 1)
        walk(right, prefix, depth + 1)
      }
      val rootChild = le32(l.dir, 0x4C)
      walk(rootChild, "", 0)
      Some(out.result())
    } catch { case _: Exception => None }
  }

  /** Read a named stream (path as in [[entries]]). Streams under the
    * mini cutoff resolve through the mini stream.
    */
  def read(b: Array[Byte], path: String): Option[Array[Byte]] =
    entries(b).flatMap(_.find(e => e.path == path && e.objType == 2)).flatMap { e =>
      try {
        val l = new Layout(b)
        if (e.size < l.miniCutoff) Some(l.miniChain(e.startSector, e.size))
        else Some(l.chain(e.startSector, e.size))
      } catch { case _: Exception => None }
    }

  /** CFB sub-family by signature stream name — the same discriminator
    * role the ZIP `mimetype` member plays for EPUB/ODF.
    */
  def family(b: Array[Byte]): String =
    entries(b).map { es =>
      val names = es.filter(_.objType == 2).map(_.path).toSet
      if (names.contains("WordDocument")) "doc"
      else if (names.contains("Workbook") || names.contains("Book")) "xls"
      else if (names.contains("PowerPoint Document")) "ppt"
      else if (names.exists(_.startsWith("__substg1.0_")) ||
        names.contains("__properties_version1.0")) "msg"
      else "cfb"
    }.getOrElse("cfb")

  // ----- deterministic builder (fixtures/certificates) ------------------

  /** Minimal v3 CFB writer: FAT in header DIFAT slots (plenty for
    * fixtures), mini stream for payloads under the cutoff — exercising
    * both size classes of the reader. Stream names may contain '/' —
    * intermediate storages are created (the .msg attachment shape).
    */
  private final class BNode(val name: String) {
    val children = scala.collection.mutable.LinkedHashMap.empty[String, BNode]
    var data: Option[(String, Array[Byte])] = None // (full path, bytes)
    var id: Int = -1
  }

  private[graft] def build(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val S = 512
    // ---- namespace tree ('/' in names creates storages)
    val tree = new BNode("")
    for ((path, data) <- streams) {
      var node = tree
      val segs = path.split('/')
      for (seg <- segs.dropRight(1))
        node = node.children.getOrElseUpdate(seg, new BNode(seg))
      val leaf = node.children.getOrElseUpdate(segs.last, new BNode(segs.last))
      leaf.data = Some((path, data))
    }
    // preorder id assignment (root is 0)
    var nextId = 1
    def assign(n: BNode): Unit = {
      n.children.values.foreach { c => c.id = nextId; nextId += 1; assign(c) }
    }
    assign(tree)
    val nNodes = nextId // including root
    // ---- split payloads by size class
    val mini = streams.filter(_._2.length < 4096)
    val big = streams.filter(_._2.length >= 4096)

    // ---- mini stream bytes + miniFAT chains
    val miniData = new java.io.ByteArrayOutputStream()
    val miniFat = ArrayBuffer.empty[Int]
    val miniStart = scala.collection.mutable.Map.empty[String, Int]
    for ((name, data) <- mini) {
      val first = miniFat.length
      miniStart(name) = if (data.isEmpty) EndOfChain else first
      val nSec = (data.length + 63) / 64
      var k = 0
      while (k < nSec) {
        miniFat += (if (k == nSec - 1) EndOfChain else first + k + 1)
        k += 1
      }
      miniData.write(data)
      val pad = (64 - data.length % 64) % 64
      miniData.write(new Array[Byte](pad))
    }
    val miniBytes = miniData.toByteArray

    // ---- lay out the sector space:
    // [FAT sectors][dir sectors][miniFAT sectors][mini-stream sectors][big-stream sectors]
    val nDirEntries = nNodes
    val nDirSec = math.max(1, (nDirEntries * 128 + S - 1) / S)
    val nMiniFatSec = if (miniFat.isEmpty) 0 else (miniFat.length * 4 + S - 1) / S
    val nMiniSec = (miniBytes.length + S - 1) / S
    val bigSecs = big.map { case (_, d) => (d.length + S - 1) / S }
    val nBigSec = bigSecs.sum
    // FAT sector count: solve total sectors including FAT itself
    var nFatSec = 1
    var total = 0
    var settled = false
    while (!settled) {
      total = nFatSec + nDirSec + nMiniFatSec + nMiniSec + nBigSec
      val need = (total * 4 + S - 1) / S
      if (need <= nFatSec) settled = true else nFatSec = need
    }
    val fatAt = 0
    val dirAt = nFatSec
    val miniFatAt = dirAt + nDirSec
    val miniAt = miniFatAt + nMiniFatSec
    val bigAt = miniAt + nMiniSec

    val fat = Array.fill(nFatSec * (S / 4))(FreeSect)
    def chainRange(from: Int, n: Int): Unit = {
      var k = 0
      while (k < n) {
        fat(from + k) = if (k == n - 1) EndOfChain else from + k + 1
        k += 1
      }
    }
    var k = 0
    while (k < nFatSec) { fat(k) = 0xFFFFFFFD; k += 1 } // FATSECT
    chainRange(dirAt, nDirSec)
    if (nMiniFatSec > 0) chainRange(miniFatAt, nMiniFatSec)
    if (nMiniSec > 0) chainRange(miniAt, nMiniSec)
    var bigCursor = bigAt
    val bigStart = scala.collection.mutable.Map.empty[String, Int]
    for (((name, _), ns) <- big.zip(bigSecs)) {
      bigStart(name) = if (ns == 0) EndOfChain else bigCursor
      chainRange(bigCursor, ns)
      bigCursor += ns
    }

    // ---- directory entries: root (id 0) + one per stream, siblings as
    // a right-leaning chain off the root's child
    val dir = new Array[Byte](nDirSec * S)
    def putName(at: Int, name: String): Unit = {
      val u = name.getBytes("UTF-16LE")
      System.arraycopy(u, 0, dir, at, math.min(u.length, 62))
      putLe16(dir, at + 0x40, math.min(u.length, 62) + 2)
    }
    def putEntry(id: Int, name: String, typ: Int, left: Int, right: Int,
        child: Int, start: Int, size: Long): Unit = {
      val at = 128 * id
      putName(at, name)
      dir(at + 0x42) = typ.toByte
      dir(at + 0x43) = 1 // black
      putLe32(dir, at + 0x44, left)
      putLe32(dir, at + 0x48, right)
      putLe32(dir, at + 0x4C, child)
      putLe32(dir, at + 0x74, start)
      putLe64(dir, at + 0x78, size)
    }
    // free entries carry -1 siblings
    for (id <- 0 until nDirSec * S / 128)
      putEntry(id, "", 0, -1, -1, -1, EndOfChain, 0)
    putEntry(0, "Root Entry", 5, -1, -1, if (tree.children.isEmpty) -1 else 1,
      if (nMiniSec == 0) EndOfChain else miniAt, miniBytes.length.toLong)
    // preorder ids were assigned when the tree was built; write each
    // node with right-sibling chains and first-child pointers
    def writeNode(n: BNode, right: Int): Unit = {
      val (start, size) = n.data match {
        case Some((path, d)) =>
          (if (d.length < 4096) miniStart(path) else bigStart(path),
            d.length.toLong)
        case None => (EndOfChain, 0L)
      }
      val kids = n.children.values.toSeq
      putEntry(n.id, n.name, if (n.data.isEmpty) 1 else 2, -1, right,
        kids.headOption.map(_.id).getOrElse(-1), start, size)
      kids.zipWithIndex.foreach { case (k, i) =>
        writeNode(k, if (i == kids.length - 1) -1 else kids(i + 1).id)
      }
    }
    tree.children.values.toSeq match {
      case kids =>
        kids.zipWithIndex.foreach { case (k, i) =>
          writeNode(k, if (i == kids.length - 1) -1 else kids(i + 1).id)
        }
    }

    // ---- header
    val header = new Array[Byte](512)
    System.arraycopy(Magic, 0, header, 0, 8)
    putLe16(header, 24, 0x003E) // minor
    putLe16(header, 26, 0x0003) // major version 3
    putLe16(header, 28, 0xFFFE) // byte order (little-endian)
    putLe16(header, 30, 9)      // sector shift
    putLe16(header, 32, 6)      // mini shift
    putLe32(header, 44, nFatSec)
    putLe32(header, 48, dirAt)
    putLe32(header, 56, 4096)
    putLe32(header, 60, if (nMiniFatSec == 0) EndOfChain else miniFatAt)
    putLe32(header, 64, nMiniFatSec)
    putLe32(header, 68, EndOfChain) // no DIFAT extension
    putLe32(header, 72, 0)
    var d = 0
    while (d < 109) {
      putLe32(header, 76 + 4 * d, if (d < nFatSec) fatAt + d else FreeSect)
      d += 1
    }

    // ---- assemble
    val out = new java.io.ByteArrayOutputStream()
    out.write(header)
    val fatBytes = new Array[Byte](nFatSec * S)
    k = 0
    while (k < fat.length) { putLe32(fatBytes, 4 * k, fat(k)); k += 1 }
    out.write(fatBytes)
    out.write(dir)
    if (nMiniFatSec > 0) {
      val mf = new Array[Byte](nMiniFatSec * S)
      java.util.Arrays.fill(mf, 0xFF.toByte)
      k = 0
      while (k < miniFat.length) { putLe32(mf, 4 * k, miniFat(k)); k += 1 }
      out.write(mf)
    }
    if (nMiniSec > 0) {
      out.write(miniBytes)
      out.write(new Array[Byte](nMiniSec * S - miniBytes.length))
    }
    for ((name, data) <- big) {
      out.write(data)
      val pad = (S - data.length % S) % S
      out.write(new Array[Byte](pad))
    }
    out.toByteArray
  }
}
