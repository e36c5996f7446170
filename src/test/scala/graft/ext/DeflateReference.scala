package graft.ext

/** The deflate and gzip writers as they were written before [[Codecs]]
  * became the one home of deflate: each codec's own pooled or fresh
  * Deflater loop and each fixture's inline `GZIPOutputStream`, kept
  * verbatim (a pool the codec owned is declared here beside its writer)
  * as the reference [[DeflateWritersSpec]] checks the shared helpers
  * against.
  */
object DeflateReference {
  import java.util.zip.Deflater
  import graft.ext.Bytes.putBe32
  import graft.ext.Png.{Image, Magic, writeChunk}

  /** Png's per-thread zlib Deflater pool. */
  private val pngPooledDeflater: ThreadLocal[Deflater] =
    ThreadLocal.withInitial(() => new Deflater(Deflater.DEFAULT_COMPRESSION))

  /** Png.encode. */
  def encode(img: Image): Array[Byte] = {
    val colorType = img.channels match {
      case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6
    }
    val stride = img.width * img.channels
    val raw = new Array[Byte]((stride + 1) * img.height)
    var y = 0
    while (y < img.height) {
      // filter byte 0 then the scanline verbatim
      System.arraycopy(img.pixels, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    // per-thread zlib Deflater (codec-pool pattern — a fresh native
    // buffer per image dominates at millions of rows; see the Zip
    // sibling): reset between uses, never end()'d
    val deflater = pngPooledDeflater.get()
    deflater.reset()
    val compressed = {
      deflater.setInput(raw)
      deflater.finish()
      val buf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val chunk = new Array[Byte](8192)
      while (!deflater.finished()) {
        val n = deflater.deflate(chunk)
        buf.write(chunk, 0, n)
      }
      buf.toByteArray
    }

    val out = new java.io.ByteArrayOutputStream(compressed.length + 64)
    out.write(Magic, 0, Magic.length)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, img.width)
    putBe32(ihdr, 4, img.height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = colorType.toByte
    // compression 0, filter 0, interlace 0 already zero
    writeChunk(out, "IHDR", ihdr)
    writeChunk(out, "IDAT", compressed)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Zip's per-thread raw Deflater pool. */
  private val zipPooledDeflater: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() =>
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true))

  /** Zip.buildMethods' method-8 member writer. */
  def rawDeflate(raw: Array[Byte]): Array[Byte] = {
    // per-thread Deflater reuse: a fresh instance per member costs a
    // native-buffer alloc/free that dominates small-archive builds at
    // millions of rows (DocSoak 6.4M diagnosis) — the codec-pool
    // pattern; the pooled instance is reset, never end()'d
    val d = zipPooledDeflater.get()
    d.reset()
    d.setInput(raw); d.finish()
    val buf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
    buf.toByteArray
  }

  /** WebCurate.warcGzBlob. */
  def warcGzBlob(id: Long, text: String): Array[Byte] = {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    val page = "<html><body><p>" + text + "</p><div>SHARED FOOTER</div>" +
      "<div>Copyright w" + (id % 3) + "</div></body></html>"
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + page
    val httpBytes = http.getBytes("UTF-8")
    val resp = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: HTTPS://WWW.Example.COM:443/doc/$id/?utm_source=x&b=2&a=1#frag\r\n" +
      s"Content-Length: ${httpBytes.length}\r\n\r\n").getBytes("ISO-8859-1") ++
      httpBytes ++ "\r\n\r\n".getBytes("ISO-8859-1")
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "Content-Length: 4\r\n\r\ninfo\r\n\r\n").getBytes("ISO-8859-1")
    gz(info) ++ gz(resp)
  }

  /** Tar.build's gzip branch over the built tar. */
  def tarGzip(tar: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(tar); g.close()
    bos.toByteArray
  }

  /** A crawl-landing WARC member for doc `id` through one
    * `GZIPOutputStream`: a resource record whose zero payload is
    * `payloadLen` bytes long.
    */
  def soakWarcMember(id: Long, payloadLen: Int): Array[Byte] = {
    val hdr = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      s"WARC-Target-URI: https://soak.example/$id\r\n" +
      s"Content-Length: $payloadLen\r\n\r\n").getBytes("ISO-8859-1")
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos, 64 * 1024)
    g.write(hdr); g.write(new Array[Byte](payloadLen))
    g.write("\r\n\r\n".getBytes); g.close()
    bos.toByteArray
  }

  /** Pdf's fixture builders. */
  object pdf {
    /** Minimal valid single-page PDF whose content stream shows
      * `lines` — mixed `Tj` / `TJ` / `'` forms with escapes and hex
      * strings so the extractor's full string machinery is exercised.
      * `flate=true` compresses the content stream (zlib).
      */
    def buildSimple(lines: Seq[String], flate: Boolean): Array[Byte] = {
      def esc(s: String): String =
        s.flatMap {
          case '(' => "\\("
          case ')' => "\\)"
          case '\\' => "\\\\"
          case c => c.toString
        }
      val content = new StringBuilder()
      content.append("BT\n/F1 12 Tf\n72 720 Td\n")
      lines.zipWithIndex.foreach { case (line, k) =>
        if (k > 0) content.append("0 -14 Td\n")
        k % 3 match {
          case 0 => // plain Tj
            content.append("(").append(esc(line)).append(") Tj\n")
          case 1 => // TJ: word-gap kern at a real space, else a plain array
            val cut = line.indexOf(' ', math.max(0, line.length / 2 - 8))
            if (cut > 0)
              content.append("[(").append(esc(line.substring(0, cut)))
                .append(") -250 (").append(esc(line.substring(cut + 1)))
                .append(")] TJ\n")
            else
              content.append("[(").append(esc(line)).append(")] TJ\n")
          case _ => // hex string via Tj
            val hex = line.getBytes("ISO-8859-1")
              .map(b3 => f"${b3 & 0xFF}%02X").mkString
            content.append("<").append(hex).append("> Tj\n")
        }
      }
      content.append("ET\n")
      val raw = content.toString.getBytes("ISO-8859-1")
      val data =
        if (flate) {
          val def_ = new java.util.zip.Deflater()
          def_.setInput(raw); def_.finish()
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          while (!def_.finished()) out.write(buf, 0, def_.deflate(buf))
          def_.end()
          out.toByteArray
        } else raw
      val sb = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = sb.write(s.getBytes("ISO-8859-1"))
      val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
      w("%PDF-1.4\n")
      offsets += sb.size()
      w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      offsets += sb.size()
      w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
      offsets += sb.size()
      w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n")
      offsets += sb.size()
      w(s"4 0 obj\n<< /Length ${data.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
      sb.write(data, 0, data.length)
      w("\nendstream\nendobj\n")
      offsets += sb.size()
      w("5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n")
      val xref = sb.size()
      w(s"xref\n0 6\n0000000000 65535 f \n" +
        offsets.map(o => f"$o%010d 00000 n \n").mkString)
      w(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
      sb.toByteArray
    }

    private def rot13(c: Char): Char =
      if (c >= 'a' && c <= 'z') ('a' + (c - 'a' + 13) % 26).toChar
      else if (c >= 'A' && c <= 'Z') ('A' + (c - 'A' + 13) % 26).toChar
      else c

    /** Single-page PDF whose font carries a /Differences table remapping
      * every LETTER code through rot13 (single-letter AGL names): the
      * content stream stores rot13'd bytes, so extraction recovers `lines`
      * exactly IFF the table is resolved and applied — a reader that
      * ignores /Differences gets rot13 garbage, never a silent pass. The
      * same three string mechanisms as [[buildSimple]] (literal Tj, TJ
      * with word-gap kern, hex) exercise the mapping on every path;
      * `indirectEnc` routes /Encoding through its own indirect object.
      */
    def buildWithDifferences(lines: Seq[String], flate: Boolean,
        indirectEnc: Boolean): Array[Byte] = {
      def esc(s: String): String =
        s.flatMap {
          case '(' => "\\("
          case ')' => "\\)"
          case '\\' => "\\\\"
          case c => c.toString
        }
      def enc(s: String): String = s.map(rot13)
      val content = new StringBuilder()
      content.append("BT\n/F1 12 Tf\n72 720 Td\n")
      lines.zipWithIndex.foreach { case (line, k) =>
        if (k > 0) content.append("0 -14 Td\n")
        k % 3 match {
          case 0 =>
            content.append("(").append(esc(enc(line))).append(") Tj\n")
          case 1 =>
            val cut = line.indexOf(' ', math.max(0, line.length / 2 - 8))
            if (cut > 0)
              content.append("[(").append(esc(enc(line.substring(0, cut))))
                .append(") -250 (").append(esc(enc(line.substring(cut + 1))))
                .append(")] TJ\n")
            else
              content.append("[(").append(esc(enc(line))).append(")] TJ\n")
          case _ =>
            val hex = enc(line).getBytes("ISO-8859-1")
              .map(b3 => f"${b3 & 0xFF}%02X").mkString
            content.append("<").append(hex).append("> Tj\n")
        }
      }
      content.append("ET\n")
      val raw = content.toString.getBytes("ISO-8859-1")
      val data =
        if (flate) {
          val def_ = new java.util.zip.Deflater()
          def_.setInput(raw); def_.finish()
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          while (!def_.finished()) out.write(buf, 0, def_.deflate(buf))
          def_.end()
          out.toByteArray
        } else raw
      // Differences: map(code) = rot13(code) for both letter runs — the
      // names are the single-letter AGL glyphs
      val diffs = "/Differences [ 65 " +
        ('A' to 'Z').map(c => "/" + rot13(c)).mkString(" ") + " 97 " +
        ('a' to 'z').map(c => "/" + rot13(c)).mkString(" ") + " ]"
      val encDict = s"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding $diffs >>"
      val sb = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = sb.write(s.getBytes("ISO-8859-1"))
      val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
      w("%PDF-1.4\n")
      offsets += sb.size()
      w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      offsets += sb.size()
      w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
      offsets += sb.size()
      w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n")
      offsets += sb.size()
      w(s"4 0 obj\n<< /Length ${data.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
      sb.write(data, 0, data.length)
      w("\nendstream\nendobj\n")
      offsets += sb.size()
      w("5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        s"/Encoding ${if (indirectEnc) "6 0 R" else encDict} >>\nendobj\n")
      val n =
        if (indirectEnc) {
          offsets += sb.size()
          w(s"6 0 obj\n$encDict\nendobj\n")
          7
        } else 6
      val xref = sb.size()
      w(s"xref\n0 $n\n0000000000 65535 f \n" +
        offsets.map(o => f"$o%010d 00000 n \n").mkString)
      w(s"trailer\n<< /Size $n /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
      sb.toByteArray
    }

    /** Single-page PDF whose text shows through a /Type0 (CID) font under
      * Identity-H: every character c is stored as the TWO-BYTE code
      * 0x0100+c in hex show strings, and the only way back to text is the
      * font's /ToUnicode CMap (one incrementing bfrange). A reader without
      * the CID path emits raw code bytes (garbage); one that ignores
      * ToUnicode emits nothing. `flate` compresses both the content stream
      * and the CMap stream.
      */
    def buildType0(lines: Seq[String], flate: Boolean): Array[Byte] = {
      lines.foreach(l => l.foreach(c => require(c >= 0x20 && c <= 0xFE,
        s"builder envelope: printable Latin-1 only, got ${c.toInt}")))
      val content = new StringBuilder()
      content.append("BT\n/F1 12 Tf\n72 720 Td\n")
      lines.zipWithIndex.foreach { case (line, k) =>
        if (k > 0) content.append("0 -14 Td\n")
        content.append("<")
        line.foreach(c => content.append(f"${0x0100 + c.toInt}%04X"))
        content.append("> Tj\n")
      }
      content.append("ET\n")
      def deflate(raw: Array[Byte]): Array[Byte] = {
        val def_ = new java.util.zip.Deflater()
        def_.setInput(raw); def_.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!def_.finished()) out.write(buf, 0, def_.deflate(buf))
        def_.end()
        out.toByteArray
      }
      val raw = content.toString.getBytes("ISO-8859-1")
      val data = if (flate) deflate(raw) else raw
      val cmap = ("/CIDInit /ProcSet findresource begin\n12 dict begin\n" +
        "begincmap\n/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n" +
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
        "1 beginbfrange\n<0120> <01FE> <0020>\nendbfrange\n" +
        "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n")
        .getBytes("ISO-8859-1")
      val cmapData = if (flate) deflate(cmap) else cmap
      val sb = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = sb.write(s.getBytes("ISO-8859-1"))
      w("%PDF-1.4\n")
      w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
      w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n")
      w(s"4 0 obj\n<< /Length ${data.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
      sb.write(data, 0, data.length)
      w("\nendstream\nendobj\n")
      w("5 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Identity-H " +
        "/Encoding /Identity-H /DescendantFonts [7 0 R] /ToUnicode 6 0 R >>\nendobj\n")
      w(s"6 0 obj\n<< /Length ${cmapData.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
      sb.write(cmapData, 0, cmapData.length)
      w("\nendstream\nendobj\n")
      w("7 0 obj\n<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth " +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) " +
        "/Supplement 0 >> >>\nendobj\n")
      w("trailer\n<< /Size 8 /Root 1 0 R >>\n%%EOF\n")
      sb.toByteArray
    }

    /** The [[buildWithDifferences]] document with its font AND encoding
      * objects packed inside a Flate-compressed /ObjStm object stream —
      * the PDF 1.5+ layout where no top-level `N G obj` body exists for
      * either, so extraction is only correct if the object stream is
      * unpacked during font resolution.
      */
    def buildWithDifferencesObjStm(lines: Seq[String], flate: Boolean): Array[Byte] = {
      def esc(s: String): String =
        s.flatMap {
          case '(' => "\\("
          case ')' => "\\)"
          case '\\' => "\\\\"
          case c => c.toString
        }
      val content = new StringBuilder()
      content.append("BT\n/F1 12 Tf\n72 720 Td\n")
      lines.zipWithIndex.foreach { case (line, k) =>
        if (k > 0) content.append("0 -14 Td\n")
        content.append("(").append(esc(line.map(rot13))).append(") Tj\n")
      }
      content.append("ET\n")
      def deflate(raw: Array[Byte]): Array[Byte] = {
        val def_ = new java.util.zip.Deflater()
        def_.setInput(raw); def_.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!def_.finished()) out.write(buf, 0, def_.deflate(buf))
        def_.end()
        out.toByteArray
      }
      val raw = content.toString.getBytes("ISO-8859-1")
      val data = if (flate) deflate(raw) else raw
      val diffs = "/Differences [ 65 " +
        ('A' to 'Z').map(c => "/" + rot13(c)).mkString(" ") + " 97 " +
        ('a' to 'z').map(c => "/" + rot13(c)).mkString(" ") + " ]"
      // objects 5 (font) and 6 (encoding) exist ONLY inside the ObjStm
      val o5 = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding 6 0 R >>"
      val o6 = s"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding $diffs >>"
      val pairHdr = s"5 0 6 ${o5.length + 1} "
      val stmRaw = (pairHdr + o5 + "\n" + o6).getBytes("ISO-8859-1")
      val stmData = deflate(stmRaw)
      val sb = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = sb.write(s.getBytes("ISO-8859-1"))
      w("%PDF-1.5\n")
      w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
      w("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n")
      w(s"4 0 obj\n<< /Length ${data.length}" +
        (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
      sb.write(data, 0, data.length)
      w("\nendstream\nendobj\n")
      w(s"7 0 obj\n<< /Type /ObjStm /N 2 /First ${pairHdr.length} " +
        s"/Length ${stmData.length} /Filter /FlateDecode >>\nstream\n")
      sb.write(stmData, 0, stmData.length)
      w("\nendstream\nendobj\n")
      w("trailer\n<< /Size 8 /Root 1 0 R >>\n%%EOF\n")
      sb.toByteArray
    }
  }
}
