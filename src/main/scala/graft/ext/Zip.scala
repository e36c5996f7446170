package graft.ext

import graft.ext.Bytes.{le16, le32u, le64, writeLe16, writeLe32, writeLe64}

/** ZIP container walk (PKWARE APPNOTE layout) — pure `java.util.zip`
  * primitives, no filesystem: crawled archives and, more importantly,
  * the OOXML/ODF office-document family (`.docx`/`.xlsx`/`.odt` are ZIP
  * containers) arrive as in-row binary payloads, so the walk must work
  * on byte arrays inside a map task, not on local files (the JDK's
  * `ZipFile` wants a `File`; `ZipInputStream` trusts local headers,
  * which real-world writers get wrong — the central directory is the
  * authority, and that is what this walk reads).
  *
  * Structure parsed:
  *   - End-of-central-directory (PK\x05\x06) found by backward scan
  *     over the trailing 64 KiB + 22 (archive comments are legal).
  *   - Central directory entries (PK\x01\x02): name, method, CRC,
  *     compressed/uncompressed sizes, local-header offset.
  *   - [[read]] seeks the LOCAL header (PK\x03\x04) and decodes by the
  *     directory's method id: 0 stored, 8 deflate (raw,
  *     [[Codecs.inflateExact]]), 9 Deflate64 (commons-compress —
  *     Windows' zipper switches to it past 2 GiB), 12 bzip2, 14
  *     zip-LZMA (props prelude, EOS-or-sized),
  *     93 zstd (zstd-jni), 95 xz (tukaani) — every decoder already on
  *     the Spark classpath. The result is CRC-verified against the
  *     central directory before it is returned — a corrupt member
  *     yields None, never silent garbage.
  *
  *   - ZIP64 (APPNOTE §4.3.14-15, routine at crawl scale and emitted by
  *     many writers regardless of size): the EOCD64 locator (PK\x06\x07)
  *     and record (PK\x06\x06) override masked EOCD fields (0xFFFF
  *     entry counts, 0xFFFFFFFF central-directory offset), and masked
  *     central-directory sizes/offsets resolve through the 0x0001 extra
  *     field in APPNOTE order (uncompressed, compressed, local offset).
  *
  *   - Traditional PKWARE encryption ("ZipCrypto", APPNOTE §6.1 — the
  *     12-byte header + three-register LCG/CRC keystream that password-
  *     protected archives in scraped document dumps overwhelmingly
  *     use): members flagged bit 0 decrypt through [[read]]'s password
  *     overload, with the header's check byte vetting the password
  *     BEFORE any inflate runs; without (or with a wrong) password the
  *     member gates out as None while the listing still works.
  *
  *   - WinZip AES (extra field 0x9901, AE-1/AE-2 — what password-
  *     protected archives from modern writers carry): PBKDF2-derived
  *     keys, 2-byte verifier vets the password, HMAC-SHA1 authenticates
  *     the ciphertext BEFORE decode, AES-CTR (WinZip's LE counter)
  *     decrypts, and the REAL method from the extra field routes the
  *     decode; AE-2's zeroed CRC is honored.
  *
  * Out of envelope, by documented intent: split/spanned archives; and
  * since a blob column lands one archive
  * per row as a single JVM array, the archive itself and any EXTRACTED
  * member cap at ~2 GiB — Zip64 structures beyond that parse correctly
  * (entries list with true 64-bit sizes) but such members read as None.
  * All reads bounds-checked; malformed payloads yield Nil/None, never
  * a throw.
  */
object Zip {

  /** WinZip AES extra field (0x9901): AE-1 keeps the real CRC, AE-2
    * zeroes it (the HMAC is the integrity check); strength 1/2/3 =
    * AES-128/192/256; `method` is the REAL compression method the
    * decrypted bytes carry.
    */
  final case class AesInfo(vendor: Int, strength: Int, method: Int)

  final case class Entry(
      name: String,
      method: Int,
      comp_size: Long,
      uncomp_size: Long,
      crc: Long,
      local_offset: Long,
      encrypted: Boolean = false,
      aes: Option[AesInfo] = None)

  /** PKWARE traditional cipher (APPNOTE §6.1): three 32-bit key
    * registers driven by a CRC32 table and the 134775813 LCG; one
    * keystream byte per data byte. Symmetric — [[Keys.decrypt]] and
    * [[Keys.encrypt]] share the register update on the PLAIN byte.
    */
  private object ZipCrypto {
    val crcTab: Array[Int] = Array.tabulate(256) { n =>
      var c = n
      var k = 0
      while (k < 8) {
        c = if ((c & 1) != 0) 0xEDB88320 ^ (c >>> 1) else c >>> 1
        k += 1
      }
      c
    }
    final class Keys(password: Array[Byte]) {
      private var k0 = 0x12345678
      private var k1 = 0x23456789
      private var k2 = 0x34567890
      password.foreach(update)
      private def crc1(c: Int, b: Byte): Int = (c >>> 8) ^ crcTab((c ^ b) & 0xFF)
      private def update(p: Byte): Unit = {
        k0 = crc1(k0, p)
        k1 = (k1 + (k0 & 0xFF)) * 134775813 + 1
        k2 = crc1(k2, (k1 >>> 24).toByte)
      }
      private def streamByte: Int = {
        val t = (k2 | 2) & 0xFFFF
        ((t * (t ^ 1)) >>> 8) & 0xFF
      }
      def decrypt(c: Byte): Byte = {
        val p = ((c & 0xFF) ^ streamByte).toByte
        update(p); p
      }
      def encrypt(p: Byte): Byte = {
        val c = ((p & 0xFF) ^ streamByte).toByte
        update(p); c
      }
    }
  }

  /** WinZip AES (AE-1/AE-2, extra field 0x9901): PBKDF2-HMAC-SHA1 at
    * 1000 iterations over the member's salt derives encryption key +
    * HMAC key + 2-byte password verifier; the payload is AES-CTR with
    * WinZip's little-endian counter starting at 1 (no nonce — the salt
    * is the per-member uniqueness); HMAC-SHA1 over the ENCRYPTED bytes,
    * first 10 bytes stored, authenticates before any decode runs. All
    * primitives are JDK-standard (PBKDF2WithHmacSHA1, AES/ECB, HmacSHA1).
    */
  private object WinZipAes {
    def keyLen(strength: Int): Int = 8 + 8 * strength // 16 / 24 / 32
    def saltLen(strength: Int): Int = 4 + 4 * strength // 8 / 12 / 16
    /** (aesKey, hmacKey, 2-byte verifier) */
    def derive(pw: String, salt: Array[Byte], strength: Int)
        : (Array[Byte], Array[Byte], Array[Byte]) = {
      val kl = keyLen(strength)
      val dk = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA1")
        .generateSecret(new javax.crypto.spec.PBEKeySpec(
          pw.toCharArray, salt, 1000, (2 * kl + 2) * 8))
        .getEncoded
      (java.util.Arrays.copyOfRange(dk, 0, kl),
        java.util.Arrays.copyOfRange(dk, kl, 2 * kl),
        java.util.Arrays.copyOfRange(dk, 2 * kl, 2 * kl + 2))
    }
    /** CTR keystream XOR — symmetric, WinZip's LE counter from 1. */
    def ctr(key: Array[Byte], data: Array[Byte], off: Int, len: Int): Array[Byte] = {
      val c = javax.crypto.Cipher.getInstance("AES/ECB/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"))
      val out = new Array[Byte](len)
      val ctrB = new Array[Byte](16)
      var block = 0L
      var i = 0
      while (i < len) {
        block += 1
        var v = block
        var k = 0
        while (k < 8) { ctrB(k) = (v & 0xFF).toByte; v >>>= 8; k += 1 }
        val ks = c.update(ctrB) // full ECB block: emitted immediately
        val n = math.min(16, len - i)
        var j = 0
        while (j < n) { out(i + j) = (data(off + i + j) ^ ks(j)).toByte; j += 1 }
        i += n
      }
      out
    }
    def hmac10(key: Array[Byte], data: Array[Byte], off: Int, len: Int): Array[Byte] = {
      val m = javax.crypto.Mac.getInstance("HmacSHA1")
      m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA1"))
      m.update(data, off, len)
      java.util.Arrays.copyOf(m.doFinal(), 10)
    }
  }

  /** Decrypt an AES member's payload (salt ‖ verifier ‖ data ‖ mac):
    * wrong password is caught by the 2-byte verifier, tampering by the
    * HMAC — both a cheap None BEFORE any decompressor touches bytes.
    */
  private def aesDecrypt(b: Array[Byte], data: Int, compLen: Int,
      ai: AesInfo, pw: String): Option[Array[Byte]] = {
    if (ai.strength < 1 || ai.strength > 3) return None
    val sl = WinZipAes.saltLen(ai.strength)
    if (compLen < sl + 2 + 10) return None
    val salt = java.util.Arrays.copyOfRange(b, data, data + sl)
    val (encKey, macKey, verifier) = WinZipAes.derive(pw, salt, ai.strength)
    if (verifier(0) != b(data + sl) || verifier(1) != b(data + sl + 1))
      return None // wrong password
    val encOff = data + sl + 2
    val encLen = compLen - sl - 2 - 10
    val mac = WinZipAes.hmac10(macKey, b, encOff, encLen)
    var i = 0
    while (i < 10) {
      if (mac(i) != b(data + compLen - 10 + i)) return None // tampered
      i += 1
    }
    Some(WinZipAes.ctr(encKey, b, encOff, encLen))
  }

  /** Read EXACTLY `len` decoded bytes and (where the decoder can
    * signal it) require EOF right after — a member whose stream
    * inflates long is corrupt (or mis-sized), and silently truncating
    * it would pass lengths while CRC luck decides detection. None on
    * short, long, or any decoder throw. `verifyEof = false` skips the
    * over-long probe for decoders with no reliable end-of-stream:
    * commons-compress's Deflate64 reader keeps parsing the final
    * byte's PADDING bits as a next block header after BFINAL, so the
    * probe returns garbage instead of -1 there — length + CRC are the
    * authority for that arm.
    */
  private def drainExactly(in: java.io.InputStream, len: Int,
      verifyEof: Boolean = true): Option[Array[Byte]] = {
    try {
      val out = new Array[Byte](len)
      var got = 0
      var eof = false
      while (got < len && !eof) {
        val m = in.read(out, got, len - got)
        if (m < 0) eof = true else got += m
      }
      if (got != len) None
      else if (verifyEof && in.read() != -1) None // over-long stream
      else Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
    finally { try in.close() catch { case scala.util.control.NonFatal(_) => () } }
  }

  /** Central-directory listing. Nil when no EOCD record is found. */
  def entries(b: Array[Byte]): Seq[Entry] = {
    if (b == null || b.length < 22) return Nil
    try {
      // EOCD: backward scan (trailing comment allowed, max 64 KiB)
      var eocd = -1
      var i = b.length - 22
      val stop = math.max(0, b.length - 22 - 65535)
      while (eocd < 0 && i >= stop) {
        if (b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == 5 && b(i + 3) == 6)
          eocd = i
        i -= 1
      }
      if (eocd < 0) return Nil
      var n = le16(b, eocd + 10).toLong
      var cdOff = le32u(b, eocd + 16)
      // ZIP64: masked EOCD fields resolve through the EOCD64 locator
      // (immediately before the EOCD) and the EOCD64 record it points at
      if (n == 0xFFFFL || cdOff == 0xFFFFFFFFL) {
        val loc = eocd - 20
        if (loc >= 0 && b(loc) == 'P' && b(loc + 1) == 'K' &&
            b(loc + 2) == 6 && b(loc + 3) == 7) {
          val e64 = le64(b, loc + 8)
          if (e64 >= 0 && e64 + 56 <= b.length && e64 <= Int.MaxValue.toLong &&
              b(e64.toInt) == 'P' && b(e64.toInt + 1) == 'K' &&
              b(e64.toInt + 2) == 6 && b(e64.toInt + 3) == 6) {
            val q = e64.toInt
            n = le64(b, q + 32) // total entries
            cdOff = le64(b, q + 48)
          }
        }
      }
      if (cdOff < 0 || cdOff >= b.length) return Nil
      val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
      var p = cdOff.toInt
      var k = 0L
      while (k < n && p + 46 <= b.length &&
          b(p) == 'P' && b(p + 1) == 'K' && b(p + 2) == 1 && b(p + 3) == 2) {
        val flags = le16(b, p + 8)
        val method = le16(b, p + 10)
        val crc = le32u(b, p + 16)
        var compSize = le32u(b, p + 20)
        var uncompSize = le32u(b, p + 24)
        val nameLen = le16(b, p + 28)
        val extraLen = le16(b, p + 30)
        val commentLen = le16(b, p + 32)
        var localOff = le32u(b, p + 42)
        if (p + 46 + nameLen > b.length) return out.toSeq
        val name = new String(b, p + 46, nameLen, "UTF-8")
        // extra-field walk: masked 32-bit fields resolve through the
        // 0x0001 (ZIP64) field, values in APPNOTE order for the fields
        // that are masked; 0x9901 carries the WinZip AES envelope
        // (vendor version, "AE", strength, real method)
        var aesInfo: Option[AesInfo] = None
        val masked = compSize == 0xFFFFFFFFL || uncompSize == 0xFFFFFFFFL ||
          localOff == 0xFFFFFFFFL
        if (extraLen > 0 && (masked || method == 99)) {
          var x = p + 46 + nameLen
          val xEnd = math.min(x + extraLen, b.length - 4)
          while (x + 4 <= xEnd) {
            val id = le16(b, x)
            val sz = le16(b, x + 2)
            if (id == 0x0001 && x + 4 + sz <= b.length) {
              var v = x + 4
              if (uncompSize == 0xFFFFFFFFL && v + 8 <= x + 4 + sz) {
                uncompSize = le64(b, v); v += 8
              }
              if (compSize == 0xFFFFFFFFL && v + 8 <= x + 4 + sz) {
                compSize = le64(b, v); v += 8
              }
              if (localOff == 0xFFFFFFFFL && v + 8 <= x + 4 + sz) {
                localOff = le64(b, v); v += 8
              }
            } else if (id == 0x9901 && sz >= 7 && x + 4 + sz <= b.length &&
                b(x + 6) == 'A' && b(x + 7) == 'E') {
              aesInfo = Some(AesInfo(le16(b, x + 4), b(x + 8) & 0xFF,
                le16(b, x + 9)))
            }
            x += 4 + sz
          }
        }
        out += Entry(name, method, compSize, uncompSize, crc, localOff,
          encrypted = (flags & 0x0001) != 0, aes = aesInfo)
        p += 46 + nameLen + extraLen + commentLen
        k += 1
      }
      out.toSeq
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** A member's decompressed bytes, CRC-verified. None for a missing
    * name, unsupported method, a ZipCrypto member without (or with a
    * wrong) password, or any corruption.
    */
  def read(b: Array[Byte], name: String,
      password: Option[String] = None): Option[Array[Byte]] =
    entries(b).find(_.name == name).flatMap(readEntry(b, _, password))

  def readEntry(b: Array[Byte], e: Entry,
      password: Option[String] = None): Option[Array[Byte]] = {
    try {
      // 64-bit offsets beyond the (≤2 GiB) array are unreadable by
      // construction — guard BEFORE the narrowing, toInt wraps
      if (e.local_offset < 0 || e.local_offset + 30 > b.length) return None
      val p = e.local_offset.toInt
      if (p < 0 || p + 30 > b.length ||
          !(b(p) == 'P' && b(p + 1) == 'K' && b(p + 2) == 3 && b(p + 3) == 4))
        return None
      // local name/extra lengths are the authority for the data offset
      val nameLen = le16(b, p + 26)
      val extraLen = le16(b, p + 28)
      val data = p + 30 + nameLen + extraLen
      if (e.comp_size < 0 || e.comp_size > Int.MaxValue ||
          data + e.comp_size > b.length) return None
      // ZipCrypto: a 12-byte encryption header precedes the compressed
      // data; its LAST decrypted byte must equal crc>>24 (the password
      // check APPNOTE mandates) — vetted BEFORE any inflate touches the
      // keystream output, so a wrong password is a cheap None
      val (src, srcOff, srcLen) =
        if (!e.encrypted) (b, data, e.comp_size.toInt)
        else if (e.method == 99) (e.aes, password) match {
          // WinZip AES: verifier-vetted, HMAC-authenticated, CTR-decrypted
          // BEFORE the real method's decoder sees a byte; method 99
          // without its 0x9901 envelope (or a password) gates out
          case (Some(ai), Some(pw)) =>
            val dec = aesDecrypt(b, data, e.comp_size.toInt, ai, pw)
              .getOrElse(return None)
            (dec, 0, dec.length)
          case _ => return None
        }
        else password match {
          case None => return None // gate out: protected, no password
          case Some(pw) =>
            if (e.comp_size < 12) return None
            val keys = new ZipCrypto.Keys(pw.getBytes("ISO-8859-1"))
            var check = 0
            var i = 0
            while (i < 12) { check = keys.decrypt(b(data + i)) & 0xFF; i += 1 }
            if (check != ((e.crc >>> 24) & 0xFF)) return None
            val dec = new Array[Byte](e.comp_size.toInt - 12)
            var j = 0
            while (j < dec.length) { dec(j) = keys.decrypt(b(data + 12 + j)); j += 1 }
            (dec, 0, dec.length)
        }
      if (e.uncomp_size < 0 || e.uncomp_size > Int.MaxValue) return None
      def slice() = new java.io.ByteArrayInputStream(src, srcOff, srcLen)
      // method 99 is the AES envelope; the REAL method rides in 0x9901
      val effMethod =
        if (e.method == 99) e.aes.fold(return None)(_.method) else e.method
      val raw = effMethod match {
        case 0 =>
          if (srcLen.toLong != e.uncomp_size) return None
          java.util.Arrays.copyOfRange(src, srcOff, srcOff + srcLen)
        case 8 =>
          Codecs.inflateExact(src, srcOff, srcLen, e.uncomp_size.toInt, zlib = false)
            .getOrElse(return None)
        case 9 =>
          // Deflate64 / "enhanced deflate" (APPNOTE §4.4.5 method 9):
          // 64 KiB window + widened length/distance codes (285 gains
          // 16 extra bits, 30-31 become valid distances) — what
          // Windows' built-in zipper switches to for members past
          // 2 GiB. Decoded by the classpath's commons-compress reader;
          // note plain deflate is NOT a subset (code 285 means 258
          // there), so this arm must never fall back to Inflater.
          drainExactly(new org.apache.commons.compress.compressors.deflate64
            .Deflate64CompressorInputStream(slice()), e.uncomp_size.toInt,
            verifyEof = false).getOrElse(return None)
        case 12 =>
          drainExactly(new org.apache.commons.compress.compressors.bzip2
            .BZip2CompressorInputStream(slice()), e.uncomp_size.toInt)
            .getOrElse(return None)
        case 14 =>
          // zip-LZMA (APPNOTE §5.8): 2-byte writer version + 2-byte
          // properties size + the raw LZMA props (1 lc/lp/pb byte +
          // 4-byte LE dictionary size), then the LZMA data WITHOUT the
          // lzma-alone 8-byte size field. Writers that set the EOS flag
          // terminate with an end marker; others rely on the directory's
          // uncompressed size — decode end-marker-first, then retry with
          // the explicit size (Entry doesn't carry the flag bits).
          if (srcLen < 9) return None
          val propsLen = le16(src, srcOff + 2)
          if (propsLen < 5 || 4 + propsLen > srcLen) return None
          val propsByte = src(srcOff + 4)
          val dictSize = le32u(src, srcOff + 5).toInt
          val dataOff = srcOff + 4 + propsLen
          val dataLen = srcLen - 4 - propsLen
          def lzmaIn(size: Long) = new org.tukaani.xz.LZMAInputStream(
            new java.io.ByteArrayInputStream(src, dataOff, dataLen),
            size, propsByte, dictSize)
          (try drainExactly(lzmaIn(-1L), e.uncomp_size.toInt)
           catch { case scala.util.control.NonFatal(_) => None })
            .orElse(
              try drainExactly(lzmaIn(e.uncomp_size), e.uncomp_size.toInt)
              catch { case scala.util.control.NonFatal(_) => None })
            .getOrElse(return None)
        case 93 =>
          drainExactly(new com.github.luben.zstd.ZstdInputStream(slice()),
            e.uncomp_size.toInt).getOrElse(return None)
        case 95 =>
          drainExactly(new org.tukaani.xz.XZInputStream(slice()),
            e.uncomp_size.toInt).getOrElse(return None)
        case _ => return None // unsupported method
      }
      // AE-2 zeroes the directory CRC by spec (the HMAC, already
      // verified, is the integrity check); AE-1 and everything else
      // must still match the central directory
      if (e.method == 99 && e.aes.exists(_.vendor == 2)) Some(raw)
      else {
        val crc = new java.util.zip.CRC32
        crc.update(raw)
        if (crc.getValue != e.crc) None else Some(raw)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Assemble a ZIP from (name, bytes, deflate?) members — the
    * spec/certificate builders' counterpart of the walk (local headers,
    * central directory, EOCD; raw [[Codecs.compressDeflate]] for method
    * 8). With `zip64 = true` the archive is written the way crawl-scale writers
    * emit it regardless of size: central sizes/offsets masked to
    * 0xFFFFFFFF with a 0x0001 extra field carrying the 64-bit values,
    * a masked EOCD, and the EOCD64 record + locator (version 4.5).
    */
  private[graft] def build(members: Seq[(String, Array[Byte], Boolean)],
      zip64: Boolean = false,
      password: Option[String] = None): Array[Byte] =
    buildMethods(
      members.map { case (n, r, d) => (n, r, if (d) 8 else 0) }, zip64, password)

  /** [[build]] with an explicit compression method per member — the
    * fixture counterpart of [[readEntry]]'s widened method envelope:
    * 0 stored, 8 deflate, 9 Deflate64 (emitted as STORED deflate
    * blocks, the only encoding bit-identical in both dialects — no JVM
    * Deflate64 encoder exists and compressed plain deflate is NOT a
    * subset, see the builder comment), 12 bzip2,
    * 14 zip-LZMA (version + props-size prelude, lzma-alone size field
    * dropped), 93 zstd, 95 xz.
    */
  /** @param aes WinZip AES envelope: (password, strength 1/2/3, AE
    *   version 1/2). Mutually exclusive with `password` (ZipCrypto) and
    *   `zip64` (fixtures don't need the combined shape). Salts are
    *   deterministic (SHA-1 of name+crc) so certificates rebuild
    *   hash-stably — a production writer would use random salts.
    */
  private[graft] def buildMethods(members: Seq[(String, Array[Byte], Int)],
      zip64: Boolean = false,
      password: Option[String] = None,
      aes: Option[(String, Int, Int)] = None): Array[Byte] = {
    require(password.isEmpty || aes.isEmpty, "ZipCrypto and AES are exclusive")
    require(aes.isEmpty || !zip64, "aes + zip64 unsupported in the builder")
    val flagBits = if (password.isDefined || aes.isDefined) 0x0001 else 0
    val out = new java.io.ByteArrayOutputStream()
    // (name, writtenMethod, writtenCrc, compLen, rawLen, offset, realMethod)
    val cds = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Long, Long, Long, Long, Int)]
    def writeAesExtra(realMethod: Int): Unit = aes.foreach { case (_, strength, ae) =>
      writeLe16(out, 0x9901); writeLe16(out, 7)
      writeLe16(out, ae); out.write('A'); out.write('E'); out.write(strength)
      writeLe16(out, realMethod)
    }
    for ((name, raw, method) <- members) {
      val crc = new java.util.zip.CRC32
      crc.update(raw)
      // Deflate64 fixture encoding: STORED deflate blocks only. Plain
      // deflate output is NOT a deflate64 subset — length code 285
      // means 258/no-extra-bits in deflate but 3/+16-extra-bits in
      // deflate64, so any compressed stream with a 258-byte match
      // (periodic data hits it instantly) decodes as garbage/invalid.
      // Stored blocks (BTYPE 00) are bit-identical in both dialects,
      // which exercises the method-9 routing + block framing; the
      // 64 KiB-window codes stay decode-only (no JVM encoder exists).
      def storedDeflate(raw: Array[Byte]): Array[Byte] = {
        val o = new java.io.ByteArrayOutputStream()
        var i = 0
        do {
          val n = math.min(65535, raw.length - i)
          val last = i + n >= raw.length
          o.write(if (last) 1 else 0) // BFINAL + BTYPE 00 + pad bits
          writeLe16(o, n); writeLe16(o, ~n)
          o.write(raw, i, n)
          i += n
        } while (i < raw.length)
        o.toByteArray
      }
      val comp0 = method match {
        case 0       => raw
        case 8       => Codecs.compressDeflate(raw, zlib = false) // pooled, see Codecs
        case 9       => storedDeflate(raw)
        case 12      => Codecs.bzip2(raw)
        case 14      =>
          // lzma-alone → zip-LZMA: keep the 5 props bytes, drop the
          // 8-byte size field (the EOS marker terminates the data)
          val alone = Codecs.lzma(raw)
          val out = new java.io.ByteArrayOutputStream()
          out.write(20); out.write(9) // writer version (informational)
          out.write(5); out.write(0)  // properties size
          out.write(alone, 0, 5)
          out.write(alone, 13, alone.length - 13)
          out.toByteArray
        case 93      => Codecs.zstd(raw)
        case 95      => Codecs.xz(raw)
        case m => throw new IllegalArgumentException(s"builder method $m")
      }
      val comp = (password, aes) match {
        case (Some(pw), _) =>
          // 12-byte encryption header: 11 filler bytes (deterministic
          // here — certificates must hash-stably rebuild) + the crc>>24
          // check byte, all encrypted, then the keystream continues over
          // the compressed data
          val keys = new ZipCrypto.Keys(pw.getBytes("ISO-8859-1"))
          val enc = new Array[Byte](12 + comp0.length)
          var i = 0
          while (i < 11) {
            enc(i) = keys.encrypt(
              ((crc.getValue >>> ((i % 4) * 8)) + i * 97 + name.length).toByte)
            i += 1
          }
          enc(11) = keys.encrypt(((crc.getValue >>> 24) & 0xFF).toByte)
          var j = 0
          while (j < comp0.length) { enc(12 + j) = keys.encrypt(comp0(j)); j += 1 }
          enc
        case (_, Some((pw, strength, _))) =>
          // salt ‖ verifier ‖ AES-CTR(data) ‖ HMAC-SHA1[0..10)
          val md = java.security.MessageDigest.getInstance("SHA-1")
          md.update(name.getBytes("UTF-8"))
          (0 until 8).foreach(k => md.update((crc.getValue >>> (k * 8)).toByte))
          val salt = java.util.Arrays.copyOf(
            md.digest(), WinZipAes.saltLen(strength))
          val (encKey, macKey, verifier) = WinZipAes.derive(pw, salt, strength)
          val enc = WinZipAes.ctr(encKey, comp0, 0, comp0.length)
          val mac = WinZipAes.hmac10(macKey, enc, 0, enc.length)
          val buf = new java.io.ByteArrayOutputStream()
          buf.write(salt); buf.write(verifier); buf.write(enc); buf.write(mac)
          buf.toByteArray
        case _ => comp0
      }
      val wMethod = if (aes.isDefined) 99 else method
      // AE-2 zeroes the CRC by spec; AE-1 keeps it
      val wCrc = if (aes.exists(_._3 == 2)) 0L else crc.getValue
      val aesExtraLen = if (aes.isDefined) 11 else 0
      val off = out.size().toLong
      val nameB = name.getBytes("UTF-8")
      out.write('P'); out.write('K'); out.write(3); out.write(4)
      writeLe16(out, 20); writeLe16(out, flagBits); writeLe16(out, wMethod); writeLe16(out, 0); writeLe16(out, 0)
      writeLe32(out, wCrc); writeLe32(out, comp.length); writeLe32(out, raw.length)
      writeLe16(out, nameB.length); writeLe16(out, aesExtraLen)
      out.write(nameB); writeAesExtra(method); out.write(comp)
      cds += ((name, wMethod, wCrc,
        comp.length.toLong, raw.length.toLong, off, method))
    }
    val cdStart = out.size().toLong
    for ((name, method, crc, compLen, rawLen, off, realMethod) <- cds) {
      val nameB = name.getBytes("UTF-8")
      out.write('P'); out.write('K'); out.write(1); out.write(2)
      if (zip64) {
        // version 4.5; sizes and local offset masked into the 0x0001
        // extra field (APPNOTE order: uncompressed, compressed, offset)
        writeLe16(out, 45); writeLe16(out, 45); writeLe16(out, flagBits); writeLe16(out, method); writeLe16(out, 0); writeLe16(out, 0)
        writeLe32(out, crc); writeLe32(out, 0xFFFFFFFFL); writeLe32(out, 0xFFFFFFFFL)
        writeLe16(out, nameB.length); writeLe16(out, 4 + 24); writeLe16(out, 0); writeLe16(out, 0); writeLe16(out, 0)
        writeLe32(out, 0); writeLe32(out, 0xFFFFFFFFL)
        out.write(nameB)
        writeLe16(out, 0x0001); writeLe16(out, 24)
        writeLe64(out, rawLen); writeLe64(out, compLen); writeLe64(out, off)
      } else {
        val aesExtraLen = if (aes.isDefined) 11 else 0
        writeLe16(out, 20); writeLe16(out, 20); writeLe16(out, flagBits); writeLe16(out, method); writeLe16(out, 0); writeLe16(out, 0)
        writeLe32(out, crc); writeLe32(out, compLen); writeLe32(out, rawLen)
        writeLe16(out, nameB.length); writeLe16(out, aesExtraLen); writeLe16(out, 0); writeLe16(out, 0); writeLe16(out, 0)
        writeLe32(out, 0); writeLe32(out, off)
        out.write(nameB); writeAesExtra(realMethod)
      }
    }
    val cdLen = out.size() - cdStart
    if (zip64) {
      val e64 = out.size().toLong
      out.write('P'); out.write('K'); out.write(6); out.write(6)
      writeLe64(out, 44) // record size, not counting sig+this field
      writeLe16(out, 45); writeLe16(out, 45); writeLe32(out, 0); writeLe32(out, 0)
      writeLe64(out, cds.length.toLong); writeLe64(out, cds.length.toLong)
      writeLe64(out, cdLen.toLong); writeLe64(out, cdStart)
      out.write('P'); out.write('K'); out.write(6); out.write(7) // locator
      writeLe32(out, 0); writeLe64(out, e64); writeLe32(out, 1)
      out.write('P'); out.write('K'); out.write(5); out.write(6) // masked EOCD
      writeLe16(out, 0); writeLe16(out, 0); writeLe16(out, 0xFFFF); writeLe16(out, 0xFFFF)
      writeLe32(out, 0xFFFFFFFFL); writeLe32(out, 0xFFFFFFFFL); writeLe16(out, 0)
    } else {
      out.write('P'); out.write('K'); out.write(5); out.write(6)
      writeLe16(out, 0); writeLe16(out, 0); writeLe16(out, cds.length); writeLe16(out, cds.length)
      writeLe32(out, cdLen); writeLe32(out, cdStart); writeLe16(out, 0)
    }
    out.toByteArray
  }
}
