package graft.ext

import scala.collection.mutable.ArrayBuffer

import graft.ext.Bytes.{le32, putBe32, putLe32}

/** ISO 9660 disc-image walk — OS installers, driver discs and software
  * archives crawl as `.iso`. Implements ECMA-119 plus the two naming
  * extensions that carry real filenames:
  *
  *   - volume descriptors from sector 16 (2048-byte logical sectors):
  *     type 1 primary, type 2 supplementary — JOLIET when its escape
  *     sequences are 25 2F 40/43/45 — type 255 terminator;
  *   - directory records with both-endian extent/size fields (the LE
  *     half read), children packed per sector (a zero length byte skips
  *     to the next sector boundary), `;1` version suffixes stripped,
  *     the leading '.'/'..' pseudo-entries dropped;
  *   - ROCK RIDGE `NM` entries in the system-use area override the
  *     8.3-ish primary names (SUSP walked entry-by-entry);
  *   - when a Joliet SVD is present its tree (UCS-2BE names) is
  *     preferred, matching what every OS mounts.
  *
  * Scale shape: one image = one payload row; the walk touches only
  * directory sectors plus requested file extents.
  */
object Iso {

  final case class Entry(path: String, isDir: Boolean, size: Long, lba: Int)

  private val Sector = 2048

  def isIso(b: Array[Byte]): Boolean =
    b != null && b.length >= 17 * Sector &&
      b(16 * Sector + 1) == 'C' && b(16 * Sector + 2) == 'D' &&
      b(16 * Sector + 3) == '0' && b(16 * Sector + 4) == '0' &&
      b(16 * Sector + 5) == '1'

  /** Flattened listing ('/'-joined paths), Joliet tree when present,
    * Rock Ridge NM names honored on the primary tree.
    */
  def entries(b: Array[Byte]): Option[Vector[Entry]] = {
    if (!isIso(b)) return None
    try {
      // ---- find the volume descriptors
      var pvdRoot = -1
      var svdRoot = -1
      var sector = 16
      var stop = false
      while (!stop && (sector + 1) * Sector <= b.length) {
        val at = sector * Sector
        val typ = b(at) & 0xFF
        if (typ == 255) stop = true
        else if (typ == 1 && pvdRoot < 0) pvdRoot = at + 156
        else if (typ == 2) {
          // Joliet escape sequences at offset 88: 25 2F (40|43|45)
          val esc = at + 88
          if ((b(esc) & 0xFF) == 0x25 && (b(esc + 1) & 0xFF) == 0x2F &&
            Set(0x40, 0x43, 0x45).contains(b(esc + 2) & 0xFF))
            svdRoot = at + 156
        }
        sector += 1
      }
      if (pvdRoot < 0 && svdRoot < 0) return None
      val joliet = svdRoot >= 0
      val rootRec = if (joliet) svdRoot else pvdRoot
      val out = Vector.newBuilder[Entry]
      walkDir(b, le32(b, rootRec + 2), le32(b, rootRec + 10), "", joliet,
        out, 0)
      Some(out.result())
    } catch { case _: Exception => None }
  }

  /** Bytes of a file by listed path. */
  def read(b: Array[Byte], path: String): Option[Array[Byte]] =
    entries(b).flatMap(_.find(e => e.path == path && !e.isDir)).map { e =>
      java.util.Arrays.copyOfRange(b, e.lba * Sector,
        e.lba * Sector + e.size.toInt)
    }

  private def walkDir(b: Array[Byte], lba: Int, size: Int, prefix: String,
      joliet: Boolean, out: scala.collection.mutable.Builder[Entry, Vector[Entry]],
      depth: Int): Unit = {
    if (depth > 64) return
    val start = lba * Sector
    var i = start
    val end = start + size
    while (i < end) {
      val len = b(i) & 0xFF
      if (len == 0) {
        // zero pad: advance to the next sector boundary
        i = ((i / Sector) + 1) * Sector
      } else {
        val extent = le32(b, i + 2)
        val fsize = le32(b, i + 10)
        val flags = b(i + 25) & 0xFF
        val nameLen = b(i + 32) & 0xFF
        val isDot = nameLen == 1 && (b(i + 33) == 0 || b(i + 33) == 1)
        if (!isDot) {
          val rawName =
            if (joliet) new String(b, i + 33, nameLen, "UTF-16BE")
            else new String(b, i + 33, nameLen, "ISO-8859-1")
          val base = {
            val semi = rawName.indexOf(';')
            if (semi >= 0) rawName.substring(0, semi) else rawName
          }
          // Rock Ridge NM in the system-use area (primary tree only)
          val suStart = i + 33 + nameLen + (if (nameLen % 2 == 0) 1 else 0)
          val name =
            if (joliet) base
            else rockRidgeName(b, suStart, i + len).getOrElse(base)
          val path = if (prefix.isEmpty) name else prefix + "/" + name
          val isDir = (flags & 0x02) != 0
          out += Entry(path, isDir, fsize.toLong, extent)
          if (isDir) walkDir(b, extent, fsize, path, joliet, out, depth + 1)
        }
        i += len
      }
    }
  }

  /** SUSP walk for the NM (alternate name) entry. */
  private def rockRidgeName(b: Array[Byte], from: Int, to: Int): Option[String] = {
    var i = from
    while (i + 4 <= to) {
      val len = b(i + 2) & 0xFF
      if (len < 4 || i + len > to) return None
      if (b(i) == 'N' && b(i + 1) == 'M' && len > 5)
        return Some(new String(b, i + 5, len - 5, "UTF-8"))
      i += len
    }
    None
  }

  // ----- deterministic builder (fixtures/certificates) ------------------

  /** Build a hybrid PVD+Joliet image: the primary tree carries 8.3-ish
    * names with Rock Ridge NM overrides, the Joliet tree the real
    * names in UCS-2BE; both trees point at the same file extents.
    * Files may sit at root or one directory deep ("dir/name").
    */
  private[graft] def build(files: Seq[(String, Array[Byte])]): Array[Byte] = {
    // sector plan: 16 system area | 16 PVD | 17 SVD | 18 terminator |
    // 19 primary root dir | 20 joliet root dir | then one sector per
    // subdirectory tree (primary + joliet), then file extents
    val dirs = files.map(_._1).filter(_.contains("/")).map(_.split("/")(0)).distinct
    var next = 21
    val priDirLba = dirs.map(d => { val v = (d, next); next += 1; v }).toMap
    val jolDirLba = dirs.map(d => { val v = (d, next); next += 1; v }).toMap
    val fileLba = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for ((path, data) <- files) {
      fileLba(path) = next
      next += math.max(1, (data.length + Sector - 1) / Sector)
    }
    val img = new Array[Byte](next * Sector)

    /** One directory record; returns its length. `nm` plants a Rock
      * Ridge NM entry.
      */
    def record(at: Int, name: Array[Byte], extent: Int, size: Int,
        dir: Boolean, nm: Option[String]): Int = {
      val su = nm.map(n => 5 + n.getBytes("UTF-8").length).getOrElse(0)
      val pad = if (name.length % 2 == 0) 1 else 0
      val len = 33 + name.length + pad + su
      img(at) = len.toByte
      putLe32(img, at + 2, extent); putBe32(img, at + 6, extent) // both-endian
      putLe32(img, at + 10, size); putBe32(img, at + 14, size)
      img(at + 25) = (if (dir) 0x02 else 0x00).toByte
      img(at + 28) = 1 // volume sequence number (both-endian low half)
      img(at + 31) = 1
      img(at + 32) = name.length.toByte
      System.arraycopy(name, 0, img, at + 33, name.length)
      nm.foreach { n =>
        val nb = n.getBytes("UTF-8")
        val suAt = at + 33 + name.length + pad
        img(suAt) = 'N'; img(suAt + 1) = 'M'
        img(suAt + 2) = (5 + nb.length).toByte
        img(suAt + 3) = 1 // version
        img(suAt + 4) = 0 // flags
        System.arraycopy(nb, 0, img, suAt + 5, nb.length)
      }
      len
    }

    def dotName(v: Int) = Array(v.toByte)
    def priName(path: String): String = {
      // 8.3-ish mangled primary name: uppercase, non-alnum -> '_'
      val base = path.split("/").last
      base.toUpperCase.map(c => if (c.isLetterOrDigit || c == '.') c else '_')
    }

    /** Fill a directory sector. `entries`: (nameBytes, extent, size,
      * isDir, nm).
      */
    def fillDir(lba: Int, selfLba: Int,
        es: Seq[(Array[Byte], Int, Int, Boolean, Option[String])]): Int = {
      var at = lba * Sector
      at += record(at, dotName(0), selfLba, Sector, dir = true, None)
      at += record(at, dotName(1), 19, Sector, dir = true, None)
      for ((nb, ext, sz, d, nm) <- es)
        at += record(at, nb, ext, sz, d, nm)
      at - lba * Sector
    }

    val rootFiles = files.filter(!_._1.contains("/"))
    val byDir = files.filter(_._1.contains("/"))
      .groupBy(_._1.split("/")(0))

    // primary root: files (mangled + NM) then dirs
    val priRootSize = fillDir(19, 19,
      rootFiles.map { case (p, d) =>
        (priName(p).getBytes("ISO-8859-1") ++ ";1".getBytes,
          fileLba(p), d.length, false, Some(p))
      } ++ dirs.map(dn =>
        (priName(dn).getBytes("ISO-8859-1"), priDirLba(dn), Sector, true,
          Some(dn))))
    dirs.foreach { dn =>
      fillDir(priDirLba(dn), priDirLba(dn),
        byDir(dn).map { case (p, d) =>
          (priName(p).getBytes("ISO-8859-1") ++ ";1".getBytes,
            fileLba(p), d.length, false, Some(p.split("/").last))
        })
    }
    // joliet root: real names in UCS-2BE
    val jolRootSize = fillDir(20, 20,
      rootFiles.map { case (p, d) =>
        ((p + ";1").getBytes("UTF-16BE"), fileLba(p), d.length, false, None)
      } ++ dirs.map(dn =>
        (dn.getBytes("UTF-16BE"), jolDirLba(dn), Sector, true, None)))
    dirs.foreach { dn =>
      fillDir(jolDirLba(dn), jolDirLba(dn),
        byDir(dn).map { case (p, d) =>
          ((p.split("/").last + ";1").getBytes("UTF-16BE"),
            fileLba(p), d.length, false, None)
        })
    }

    // file extents
    for ((p, d) <- files)
      System.arraycopy(d, 0, img, fileLba(p) * Sector, d.length)

    // ---- volume descriptors
    def vdHeader(sector: Int, typ: Int): Int = {
      val at = sector * Sector
      img(at) = typ.toByte
      "CD001".getBytes.copyToArray(img, at + 1)
      img(at + 6) = 1 // version
      at
    }
    val pvd = vdHeader(16, 1)
    // root directory record at +156
    record(pvd + 156, dotName(0), 19, priRootSize max Sector, dir = true, None)
    val svd = vdHeader(17, 2)
    img(svd + 88) = 0x25; img(svd + 89) = 0x2F; img(svd + 90) = 0x45 // UCS-2 l3
    record(svd + 156, dotName(0), 20, jolRootSize max Sector, dir = true, None)
    vdHeader(18, 255)
    img
  }
}
