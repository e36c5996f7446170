package graft.ext

/** Bounded-envelope PDF text extraction — after HTML, the second-largest
  * text modality in web-scale training corpora. Built from the public
  * PDF 1.7 spec (ISO 32000-1); the reference has no PDF path at all
  * (it pipes bytes to external Unix stages), so this arm is the
  * Spark-native capability a curation pipeline needs.
  *
  * Envelope (the codec-arm discipline — exact within it, documented
  * fallbacks outside it):
  *   - Indirect objects are found by a forward scan (`N G obj` …
  *     `endobj`); the xref table is not required (machine-generated and
  *     incrementally-updated PDFs frequently carry broken xrefs — the
  *     scan reads what is actually there).
  *   - Stream data is located by `stream`/`endstream` framing (the
  *     /Length value may be an indirect reference; scanning avoids
  *     resolving it). /FlateDecode streams inflate through
  *     [[Codecs.inflateToEnd]] (zlib); streams with any other filter,
  *     or undecodable Flate data, are SKIPPED — never partial-decoded.
  *   - Text comes from BT…ET blocks: `Tj`, `'`, `"` and `TJ` show
  *     operators; `Td`/`TD`/`T*`/`'`/`"` start a new output line; in
  *     `TJ` arrays a kern adjustment ≤ −180 (thousandths of an em —
  *     over ~half a space width in common fonts) inserts a space, the
  *     documented word-gap heuristic.
  *   - Literal strings decode the full escape set (\n \r \t \b \f
  *     \( \) \\ \ooo octal, line continuations); hex strings decode
  *     per spec. String BYTES map through Latin-1 — exact for the
  *     standard-encoding printable set.
  *   - /Differences encoding tables (the most common cause of garbled
  *     text in machine-generated PDFs) ARE honored: font resources
  *     (`/Font << /F1 5 0 R >>`) resolve to their font objects, the
  *     font's /Encoding (inline dict or indirect object) contributes
  *     its /Differences array, and shown bytes map through the table of
  *     the font selected by the last `Tf`. Glyph names resolve through
  *     the AGL core set (single-letter names, named digits/punctuation,
  *     typographic quotes/dashes, `uniXXXX`); a name outside that set
  *     leaves its byte unmapped — uninterpreted, never dropped.
  *     Resource names are resolved document-wide (page-scoped reuse of
  *     one name for different fonts is outside the envelope, documented).
  *     Page, font and encoding objects packed in /ObjStm OBJECT STREAMS
  *     (how PDF 1.5+ writers store all non-stream objects) are unpacked
  *     and participate in the same resolution.
  *   - /Type0 (CID) fonts ARE handled through their /ToUnicode CMap —
  *     the shape every headless-browser / office-suite exporter emits:
  *     show-string bytes group into fixed-width codes (the CMap's
  *     codespace width, 2 bytes under Identity-H) and map through
  *     bfchar/bfrange entries (UTF-16BE targets, incrementing ranges,
  *     array ranges). A Type0 font WITHOUT a readable ToUnicode has no
  *     byte-level text meaning at all — its codes are glyph ids — so
  *     unmapped codes contribute nothing, documented (there is nothing
  *     to pass through). PREDEFINED CMaps (UniGB-UCS2-H etc., the CJK
  *     no-ToUnicode case) stay cut deliberately: they are tens of
  *     thousands of tabulated code->codepoint mappings published as
  *     Adobe data files with no public copy in this container to
  *     transcribe, and fabricating them would emit WRONG text (worse
  *     than the honest no-text gate) — the same rationale as the MP3
  *     arm's untranscribable Huffman tables ([[Mp3]]).
  *   - Encrypted documents (a /Encrypt entry outside stream data) →
  *     None: nothing inside is readable without the crypt machinery.
  *
  * Scale shape: one forward scan per payload inside map-only stages, no
  * process hops, no shuffle — identical to the HTML/WARC/codec arms.
  */
object Pdf {

  /** Extract text, one string per document. None when the payload is not
    * a PDF (`%PDF-` magic) or is encrypted. A PDF with no text yields
    * Some("").
    */
  def extractText(b: Array[Byte]): Option[String] = {
    if (b == null || b.length < 8) return None
    if (!(b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F' &&
      b(4) == '-')) return None
    // locate stream extents first: /Encrypt must only match OUTSIDE them
    val streams = findStreams(b)
    if (hasTokenOutsideStreams(b, streams, "/Encrypt")) return None
    val fonts = fontMaps(b, streams)
    val out = new java.lang.StringBuilder()
    streams.foreach { case (from, until) =>
      val flate = hasFilterBefore(b, from)
      // Flate: hand the UNTRIMMED extent to the inflater — zlib carries
      // its own terminator+adler32, so the optional EOL before
      // `endstream` is simply unread input, and no guess about whether a
      // trailing 0x0D byte is data or framing can truncate the stream.
      // Raw: trim exactly one EOL (\r\n, \n, or \r) per the spec's
      // optional end-of-data marker.
      val data =
        if (flate) inflate(b, from, until)
        else {
          var de = until
          if (de > from && b(de - 1) == '\n') {
            de -= 1
            if (de > from && b(de - 1) == '\r') de -= 1
          } else if (de > from && b(de - 1) == '\r') de -= 1
          java.util.Arrays.copyOfRange(b, from, de)
        }
      if (data != null && data.length > 0) extractFromContent(data, out, fonts)
    }
    // also: text operators can live in un-streamed content only inside
    // streams per spec, so the stream walk is complete
    var n = out.length()
    while (n > 0 && out.charAt(n - 1) == '\n') n -= 1
    out.setLength(n)
    Some(out.toString)
  }

  /** (dataStart, dataEnd) for every `stream` … `endstream` pair, in
    * document order. Stream data begins after the CRLF/LF that follows
    * the `stream` keyword and ends before `endstream` (a preceding EOL
    * belongs to the framing, not the data).
    */
  private def findStreams(b: Array[Byte]): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i >= 0 && i < b.length) {
      i = indexOf(b, "stream", i)
      if (i >= 0) {
        // must be the keyword, not part of "endstream"
        val isEnd = i >= 3 && b(i - 3) == 'e' && b(i - 2) == 'n' && b(i - 1) == 'd'
        var ds = i + 6
        if (!isEnd) {
          if (ds < b.length && b(ds) == '\r') ds += 1
          if (ds < b.length && b(ds) == '\n') ds += 1
          val e = indexOf(b, "endstream", ds)
          if (e < 0) return out.toSeq // truncated: cut short
          // extent runs to `endstream` exactly; EOL trimming is the
          // CALLER's job (raw streams only — see extractText)
          out += ((ds, e))
          i = e + 9
        } else i += 6
      }
    }
    out.toSeq
  }

  private def indexOf(b: Array[Byte], s: String, from: Int): Int = {
    val pat = s.getBytes("ISO-8859-1")
    var i = math.max(0, from)
    val limit = b.length - pat.length
    while (i <= limit) {
      var k = 0
      while (k < pat.length && b(i + k) == pat(k)) k += 1
      if (k == pat.length) return i
      i += 1
    }
    -1
  }

  private def hasTokenOutsideStreams(
      b: Array[Byte], streams: Seq[(Int, Int)], token: String): Boolean = {
    var i = indexOf(b, token, 0)
    while (i >= 0) {
      if (!streams.exists { case (s, e) => i >= s && i < e }) return true
      i = indexOf(b, token, i + 1)
    }
    false
  }

  /** Does the dictionary immediately before this stream carry
    * /FlateDecode? Scans back from the stream keyword to the nearest
    * `<<` … looks within that window (nested dicts included — filters
    * apply to this stream either way).
    */
  private def hasFilterBefore(b: Array[Byte], dataStart: Int): Boolean = {
    // dict window: back from dataStart to the previous "obj" keyword (or
    // 512 bytes, whichever is nearer) — stream dicts are short
    val lo = math.max(0, dataStart - 512)
    val window = new String(b, lo, dataStart - lo, "ISO-8859-1")
    val objAt = window.lastIndexOf(" obj")
    val w = if (objAt >= 0) window.substring(objAt) else window
    w.contains("/FlateDecode")
  }

  /** zlib inflate, damage-contained: null on any error (the stream is
    * then skipped whole — never partially decoded into the text).
    */
  private def inflate(b: Array[Byte], from: Int, until: Int): Array[Byte] =
    Codecs.inflateToEnd(b, from, until - from, zlib = true).map(_._1).orNull

  // -------------------------------------------- /Differences font tables

  /** AGL core subset: the names machine-generated simple-encoding fonts
    * actually emit. Everything else falls back to the unmapped byte.
    */
  private val glyphNames: Map[String, String] = Map(
    "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"", "numbersign" -> "#",
    "dollar" -> "$", "percent" -> "%", "ampersand" -> "&", "quotesingle" -> "'",
    "parenleft" -> "(", "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
    "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
    "zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3", "four" -> "4",
    "five" -> "5", "six" -> "6", "seven" -> "7", "eight" -> "8", "nine" -> "9",
    "colon" -> ":", "semicolon" -> ";", "less" -> "<", "equal" -> "=",
    "greater" -> ">", "question" -> "?", "at" -> "@", "bracketleft" -> "[",
    "backslash" -> "\\", "bracketright" -> "]", "asciicircum" -> "^",
    "underscore" -> "_", "grave" -> "`", "braceleft" -> "{", "bar" -> "|",
    "braceright" -> "}", "asciitilde" -> "~",
    "quoteleft" -> "‘", "quoteright" -> "’",
    "quotedblleft" -> "“", "quotedblright" -> "”",
    "endash" -> "–", "emdash" -> "—", "bullet" -> "•",
    "fi" -> "fi", "fl" -> "fl")

  /** Glyph name → text: single-letter names are themselves per AGL,
    * `uniXXXX` decodes its BMP code point, the rest through the table.
    */
  private def glyphToChar(name: String): Option[String] =
    if (name.length == 1 && name.charAt(0).isLetter) Some(name)
    else if (name.length == 7 && name.startsWith("uni") &&
      name.substring(3).forall(c => Character.digit(c, 16) >= 0))
      Some(Integer.parseInt(name.substring(3), 16).toChar.toString)
    else glyphNames.get(name)

  /** The document with stream extents blanked — object/dict scans must
    * never match tokens inside compressed data.
    */
  private def maskedDoc(b: Array[Byte], streams: Seq[(Int, Int)]): String = {
    val chars = new Array[Char](b.length)
    var i = 0
    while (i < b.length) { chars(i) = (b(i) & 0xFF).toChar; i += 1 }
    streams.foreach { case (s, e) =>
      var j = math.max(0, s)
      val lim = math.min(e, b.length)
      while (j < lim) { chars(j) = ' '; j += 1 }
    }
    new String(chars)
  }

  /** Body (dict text) of object `num gen`: from its `N G obj` header to
    * `endobj`, in the masked document. "" when absent.
    */
  private def objBody(s: String, num: Int, gen: Int): String = {
    val pat = s"$num $gen obj"
    var i = s.indexOf(pat)
    while (i >= 0) {
      // token boundary: "15 0 obj" must not satisfy a lookup for "5 0 obj"
      if (i == 0 || !s.charAt(i - 1).isDigit) {
        val e = s.indexOf("endobj", i)
        return if (e < 0) s.substring(i + pat.length)
        else s.substring(i + pat.length, e)
      }
      i = s.indexOf(pat, i + 1)
    }
    ""
  }

  /** Parse a `/Differences [ ... ]` array (number sets the code, each
    * following name assigns it and increments) into a 256-entry map;
    * null where unset/unresolvable → the byte passes through unmapped.
    */
  private def parseDifferences(body: String): Array[String] = {
    val at = body.indexOf("/Differences")
    if (at < 0) return null
    val open = body.indexOf('[', at)
    if (open < 0) return null
    val map = new Array[String](256)
    var code = 0
    var any = false
    var i = open + 1
    while (i < body.length && body.charAt(i) != ']') {
      val c = body.charAt(i)
      if (c.isDigit) {
        var v = 0
        while (i < body.length && body.charAt(i).isDigit) {
          v = v * 10 + (body.charAt(i) - '0'); i += 1
        }
        code = v
      } else if (c == '/') {
        i += 1
        val start = i
        while (i < body.length && !isWs(body.charAt(i)) &&
          !"()<>[]{}/%".contains(body.charAt(i))) i += 1
        if (code >= 0 && code < 256) {
          glyphToChar(body.substring(start, i)).foreach { g =>
            map(code) = g; any = true
          }
          code += 1
        }
      } else i += 1
    }
    if (any) map else null
  }

  /** How a font maps show-string bytes to text. */
  private sealed trait FontMap
  /** Simple (1-byte) font with a /Differences table: 256 entries, null =
    * identity (the byte passes through). */
  private final case class SimpleMap(table: Array[String]) extends FontMap
  /** Composite (Type0/CID) font with a /ToUnicode CMap: fixed-width
    * codes → UTF-16-decoded targets; unmapped codes contribute nothing
    * (they are glyph ids, not characters). */
  private final case class CidMap(codes: Map[Int, String], width: Int)
      extends FontMap

  /** Parse a ToUnicode CMap's bfchar/bfrange sections (Adobe CMap
    * grammar, the subset every ToUnicode in the wild uses): hex tokens,
    * UTF-16BE targets, incrementing ranges and array ranges. Returns the
    * code map plus the source code WIDTH in bytes (from the hex digit
    * count of source tokens; Identity-H emits 2). Malformed sections
    * contribute the entries before the damage.
    */
  private[ext] def parseCMap(t: String): (Map[Int, String], Int) = {
    val out = scala.collection.mutable.Map.empty[Int, String]
    var width = 2
    def hexAt(i0: Int): Option[(String, Int)] = {
      var i = i0
      while (i < t.length && t.charAt(i).isWhitespace) i += 1
      if (i >= t.length || t.charAt(i) != '<') return None
      val e = t.indexOf('>', i)
      if (e < 0) None else Some((t.substring(i + 1, e).trim, e + 1))
    }
    def utf16(hex: String): String =
      try {
        val n = hex.length / 4
        val sb = new java.lang.StringBuilder(n)
        var k = 0
        while (k < n) {
          sb.append(Integer.parseInt(hex.substring(k * 4, k * 4 + 4), 16).toChar)
          k += 1
        }
        sb.toString
      } catch { case _: NumberFormatException => "" }
    def code(hex: String): Int =
      try Integer.parseInt(hex, 16) catch { case _: NumberFormatException => -1 }
    // bfchar: <src> <dst> pairs
    var i = t.indexOf("beginbfchar")
    while (i >= 0) {
      var p = i + 11
      val end = t.indexOf("endbfchar", p)
      val lim = if (end < 0) t.length else end
      var go = true
      while (go && p < lim) {
        (for { (src, p1) <- hexAt(p); (dst, p2) <- hexAt(p1) }
          yield (src, dst, p2)) match {
          case Some((src, dst, p2)) if p2 <= lim + 1 =>
            val c = code(src)
            if (c >= 0) { out(c) = utf16(dst); width = math.max(1, src.length / 2) }
            p = p2
          case _ => go = false
        }
      }
      i = t.indexOf("beginbfchar", lim)
    }
    // bfrange: <lo> <hi> <dstStart>  |  <lo> <hi> [<d1> <d2> ...]
    i = t.indexOf("beginbfrange")
    while (i >= 0) {
      var p = i + 12
      val end = t.indexOf("endbfrange", p)
      val lim = if (end < 0) t.length else end
      var go = true
      while (go && p < lim) {
        (for { (lo, p1) <- hexAt(p); (hi, p2) <- hexAt(p1) } yield (lo, hi, p2)) match {
          case Some((lo, hi, p2)) =>
            val cLo = code(lo); val cHi = code(hi)
            var q = p2
            while (q < lim && t.charAt(q).isWhitespace) q += 1
            if (cLo < 0 || cHi < cLo || cHi - cLo > 65535 || q >= lim) go = false
            else if (t.charAt(q) == '[') {
              // array form: one target per code
              var c = cLo
              var r = q + 1
              var inner = true
              while (inner && c <= cHi) {
                hexAt(r) match {
                  case Some((dst, r2)) => out(c) = utf16(dst); c += 1; r = r2
                  case None => inner = false
                }
              }
              val close = t.indexOf(']', r)
              p = if (close < 0) lim else close + 1
              width = math.max(1, lo.length / 2)
            } else hexAt(q) match {
              case Some((dst, p3)) =>
                // incrementing range: the LAST UTF-16 unit advances
                val base = utf16(dst)
                if (base.nonEmpty) {
                  var c = cLo
                  while (c <= cHi) {
                    val off = c - cLo
                    out(c) = base.substring(0, base.length - 1) +
                      (base.charAt(base.length - 1) + off).toChar
                    c += 1
                  }
                }
                width = math.max(1, lo.length / 2)
                p = p3
              case None => go = false
            }
          case _ => go = false
        }
      }
      i = t.indexOf("beginbfrange", lim)
    }
    (out.toMap, width)
  }

  /** The decoded bytes of the stream belonging to object `num gen` —
    * the masked document locates the object header and its `stream`
    * keyword; the raw extent comes from `streams`; /FlateDecode
    * inflates. null when absent/undecodable.
    */
  private def streamOfObject(b: Array[Byte], s: String,
      streams: Seq[(Int, Int)], num: Int, gen: Int): Array[Byte] = {
    val pat = s"$num $gen obj"
    var at = s.indexOf(pat)
    while (at >= 0 && at > 0 && s.charAt(at - 1).isDigit)
      at = s.indexOf(pat, at + 1)
    if (at < 0) return null
    val objEnd = s.indexOf("endobj", at) match {
      case -1 => s.length
      case e  => e
    }
    streams.find { case (ds, _) => ds > at && ds < objEnd } match {
      case None => null
      case Some((from, until)) =>
        if (hasFilterBefore(b, from)) inflate(b, from, until)
        else {
          var de = until
          if (de > from && b(de - 1) == '\n') {
            de -= 1
            if (de > from && b(de - 1) == '\r') de -= 1
          } else if (de > from && b(de - 1) == '\r') de -= 1
          java.util.Arrays.copyOfRange(b, from, de)
        }
    }
  }

  /** Objects packed in /ObjStm object streams (PDF 1.5+, how modern
    * writers store ALL non-stream objects — page dicts, fonts, encoding
    * tables): objnum → serialized body text. The stream's /N pair table
    * (`n1 o1 n2 o2 …` before /First) slices the decompressed text; a
    * malformed table contributes the objects before the damage.
    */
  private def objStmBodies(b: Array[Byte],
      streams: Seq[(Int, Int)]): Map[Int, String] = {
    val out = scala.collection.mutable.Map.empty[Int, String]
    val nRe = """/N\s+(\d+)""".r
    val firstRe = """/First\s+(\d+)""".r
    streams.foreach { case (from, until) =>
      val lo = math.max(0, from - 512)
      val window = new String(b, lo, from - lo, "ISO-8859-1")
      val objAt = window.lastIndexOf(" obj")
      val w = if (objAt >= 0) window.substring(objAt) else window
      if (w.contains("/ObjStm")) {
        val data =
          if (w.contains("/FlateDecode")) inflate(b, from, until)
          else {
            var de = until
            if (de > from && b(de - 1) == '\n') {
              de -= 1
              if (de > from && b(de - 1) == '\r') de -= 1
            } else if (de > from && b(de - 1) == '\r') de -= 1
            java.util.Arrays.copyOfRange(b, from, de)
          }
        for {
          n <- nRe.findFirstMatchIn(w).map(_.group(1).toInt)
          first <- firstRe.findFirstMatchIn(w).map(_.group(1).toInt)
          if data != null && n > 0 && n <= 65536 &&
            first > 0 && first <= data.length
        } {
          val text = new String(data, "ISO-8859-1")
          val nums = text.substring(0, first).trim.split("\\s+")
            .iterator.filter(_.nonEmpty)
            .map(t => try t.toLong catch { case _: NumberFormatException => -1L })
            .takeWhile(_ >= 0).toArray
          val pairs = (0 until math.min(n, nums.length / 2)).map(k =>
            (nums(2 * k).toInt, nums(2 * k + 1).toInt))
          pairs.zipWithIndex.foreach { case ((num, o), k) =>
            val start = first.toLong + o
            val end =
              if (k + 1 < pairs.length) first.toLong + pairs(k + 1)._2
              else text.length.toLong
            if (start >= first && start <= end && end <= text.length)
              out(num) = text.substring(start.toInt, end.toInt)
          }
        }
      }
    }
    out.toMap
  }

  /** Resource-name → /Differences table for every font the document
    * binds (`/Font << /F1 5 0 R ... >>`), resolving inline or indirect
    * /Encoding dicts — whether the binding/font/encoding objects live as
    * top-level `N G obj` bodies or packed inside /ObjStm object streams.
    * Document-wide: machine-generated PDFs bind each name once;
    * page-scoped reuse of one name is out of envelope.
    */
  private def fontMaps(b: Array[Byte],
      streams: Seq[(Int, Int)]): Map[String, FontMap] = {
    // cheap pre-check: a /Differences table, a /Type0 font (with or
    // without its /ToUnicode), or an /ObjStm that could hide either all
    // leave their token in PLAIN bytes — none present means nothing to
    // resolve, skip the masked-string allocation on the common path
    if (indexOf(b, "/Differences", 0) < 0 && indexOf(b, "/ObjStm", 0) < 0 &&
      indexOf(b, "/Type0", 0) < 0)
      return Map.empty
    val s = maskedDoc(b, streams)
    val packed = objStmBodies(b, streams)
    def bodyOf(num: Int, gen: Int): String =
      if (gen == 0 && packed.contains(num)) packed(num) else objBody(s, num, gen)
    val out = scala.collection.mutable.Map.empty[String, FontMap]
    val ref = """/([A-Za-z0-9._-]+)\s+(\d+)\s+(\d+)\s+R""".r
    val type0Re = """/Subtype\s*/Type0""".r
    val toUniRe = """/ToUnicode\s+(\d+)\s+(\d+)\s+R""".r
    // /Font binding dicts live in page objects — top-level or packed
    (s +: packed.values.toSeq).foreach { text =>
      var f = text.indexOf("/Font")
      while (f >= 0) {
        var p = f + 5
        while (p < text.length && isWs(text.charAt(p))) p += 1
        if (p + 1 < text.length && text.charAt(p) == '<' && text.charAt(p + 1) == '<') {
          // matching >> with nesting
          var depth = 1
          var q = p + 2
          while (q + 1 < text.length && depth > 0) {
            if (text.charAt(q) == '<' && text.charAt(q + 1) == '<') { depth += 1; q += 2 }
            else if (text.charAt(q) == '>' && text.charAt(q + 1) == '>') { depth -= 1; q += 2 }
            else q += 1
          }
          ref.findAllMatchIn(text.substring(p + 2, math.max(p + 2, q - 2))).foreach { m =>
            val name = m.group(1)
            if (!out.contains(name)) {
              val fontBody = bodyOf(m.group(2).toInt, m.group(3).toInt)
              if (type0Re.findFirstIn(fontBody).isDefined) {
                // composite font: text meaning comes from its ToUnicode;
                // without a readable one the codes are glyph ids with NO
                // text meaning, so an empty map is registered and raw
                // code bytes never leak into extracted text
                val cid = toUniRe.findFirstMatchIn(fontBody).flatMap { tm =>
                  val data = streamOfObject(b, s, streams,
                    tm.group(1).toInt, tm.group(2).toInt)
                  if (data == null || data.length == 0) None
                  else {
                    val (codes, width) =
                      parseCMap(new String(data, "ISO-8859-1"))
                    if (codes.nonEmpty) Some(CidMap(codes, width)) else None
                  }
                }
                out(name) = cid.getOrElse(CidMap(Map.empty, 2))
              } else {
                var diff = parseDifferences(fontBody)
                if (diff == null) {
                  // /Encoding as an indirect object
                  """/Encoding\s+(\d+)\s+(\d+)\s+R""".r.findFirstMatchIn(fontBody)
                    .foreach { em =>
                      diff = parseDifferences(
                        bodyOf(em.group(1).toInt, em.group(2).toInt))
                    }
                }
                if (diff != null) out(name) = SimpleMap(diff)
              }
            }
          }
        }
        f = text.indexOf("/Font", f + 5)
      }
    }
    out.toMap
  }

  // ------------------------------------------------- content-stream walk

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0

  /** Walk one decoded content stream, appending shown text to `out`;
    * shown bytes map through the /Differences table of the font the
    * last `Tf` selected (identity when it has none).
    */
  private def extractFromContent(d: Array[Byte], out: java.lang.StringBuilder,
      fonts: Map[String, FontMap] = Map.empty): Unit = {
    val startLen = out.length()
    var i = 0
    var inText = false
    // pending literal for the NEXT show operator
    var pending = new java.lang.StringBuilder()
    // TJ array state
    var inArray = false
    val arrayText = new java.lang.StringBuilder()
    var lastNumber = 0.0
    var lastName = "" // most recent name token: the `Tf` font operand
    var curMap: FontMap = null
    def newline(): Unit =
      if (out.length() > 0 && out.charAt(out.length() - 1) != '\n')
        out.append('\n')
    def flushShow(): Unit = {
      curMap match {
        case null => out.append(pending)
        case SimpleMap(table) =>
          var k = 0
          while (k < pending.length()) {
            val c = pending.charAt(k)
            if (c < 256 && table(c) != null) out.append(table(c))
            else out.append(c)
            k += 1
          }
        case CidMap(codes, width) =>
          // fixed-width code groups (big-endian); an unmapped code is a
          // glyph id with no character meaning — contributes nothing
          var k = 0
          while (k + width <= pending.length()) {
            var code = 0
            var j = 0
            while (j < width) { code = (code << 8) | (pending.charAt(k + j) & 0xFF); j += 1 }
            codes.get(code).foreach(out.append)
            k += width
          }
      }
      pending = new java.lang.StringBuilder()
    }
    while (i < d.length) {
      val c = d(i) & 0xFF
      if (c == '%') { // comment to EOL (outside strings)
        while (i < d.length && d(i) != '\n' && d(i) != '\r') i += 1
      } else if (c == '(') {
        val (s, ni) = parseLiteral(d, i)
        if (inText) { if (inArray) arrayText.append(s) else pending.append(s) }
        i = ni
      } else if (c == '<' && i + 1 < d.length && (d(i + 1) & 0xFF) == '<') {
        i = skipDict(d, i)
      } else if (c == '<') {
        val (s, ni) = parseHex(d, i)
        if (inText) { if (inArray) arrayText.append(s) else pending.append(s) }
        i = ni
      } else if (c == '[') {
        inArray = true; arrayText.setLength(0); i += 1
      } else if (c == ']') {
        inArray = false
        pending.setLength(0)
        pending.append(arrayText)
        i += 1
      } else if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        val sb = new java.lang.StringBuilder()
        while (i < d.length && { val x = d(i) & 0xFF
          x == '-' || x == '+' || x == '.' || (x >= '0' && x <= '9') }) {
          sb.append((d(i) & 0xFF).toChar); i += 1
        }
        lastNumber =
          try java.lang.Double.parseDouble(sb.toString)
          catch { case _: NumberFormatException => 0.0 }
        // the documented word-gap heuristic: a big negative kern in a TJ
        // array separates words
        if (inArray && inText && lastNumber <= -180.0) arrayText.append(' ')
      } else if (c == '/') {
        i += 1
        val nameStart = i
        while (i < d.length && !isWs(d(i) & 0xFF) &&
          !"()<>[]{}/%".contains((d(i) & 0xFF).toChar)) i += 1
        lastName = new String(d, nameStart, i - nameStart, "ISO-8859-1")
      } else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        c == '\'' || c == '"' || c == '*') {
        val sb = new java.lang.StringBuilder()
        while (i < d.length && { val x = d(i) & 0xFF
          (x >= 'a' && x <= 'z') || (x >= 'A' && x <= 'Z') ||
            x == '\'' || x == '"' || x == '*' || (x >= '0' && x <= '9') }) {
          sb.append((d(i) & 0xFF).toChar); i += 1
        }
        sb.toString match {
          case "BT" => inText = true; pending.setLength(0)
          case "ET" => if (inText) newline(); inText = false
          case "Tj" => if (inText) flushShow()
          case "TJ" => if (inText) flushShow()
          case "'" | "\"" => if (inText) { newline(); flushShow() }
          case "Td" | "TD" | "T*" => if (inText) newline()
          case "Tf" => // font select: /Name size Tf
            curMap = fonts.getOrElse(lastName, null)
            pending.setLength(0)
          case _ => pending.setLength(0) // other operators consume operands
        }
      } else i += 1
    }
    // defensive: a stream that opened BT without ET still terminates a line
    if (inText && out.length() > startLen) newline()
  }

  /** Literal string at `d(i) == '('` → (decoded, next index). Handles
    * nesting, the escape set, octal codes, and escaped line
    * continuations.
    */
  private def parseLiteral(d: Array[Byte], i0: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder()
    var i = i0 + 1
    var depth = 1
    while (i < d.length && depth > 0) {
      val c = d(i) & 0xFF
      if (c == '\\' && i + 1 < d.length) {
        val e = d(i + 1) & 0xFF
        e match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '(' => sb.append('('); i += 2
          case ')' => sb.append(')'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\r' => // line continuation: swallow CR(LF)
            i += 2
            if (i < d.length && d(i) == '\n') i += 1
          case '\n' => i += 2
          case o if o >= '0' && o <= '7' =>
            var v = 0
            var k = 0
            i += 1
            while (k < 3 && i < d.length && d(i) >= '0' && d(i) <= '7') {
              v = v * 8 + (d(i) - '0'); i += 1; k += 1
            }
            sb.append((v & 0xFF).toChar)
          case other => sb.append(other.toChar); i += 2
        }
      } else if (c == '(') { depth += 1; sb.append('('); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) sb.append(')')
        i += 1
      } else { sb.append(c.toChar); i += 1 }
    }
    (sb.toString, i)
  }

  /** Hex string at `d(i) == '<'` → (decoded, next index). An odd final
    * digit implies a trailing 0 per spec.
    */
  private def parseHex(d: Array[Byte], i0: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder()
    var i = i0 + 1
    var hi = -1
    while (i < d.length && (d(i) & 0xFF) != '>') {
      val c = d(i) & 0xFF
      val v =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (v >= 0) {
        if (hi < 0) hi = v
        else { sb.append(((hi << 4) | v).toChar); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar)
    (sb.toString, if (i < d.length) i + 1 else i)
  }

  private def skipDict(d: Array[Byte], i0: Int): Int = {
    var i = i0 + 2
    var depth = 1
    while (i < d.length && depth > 0) {
      val c = d(i) & 0xFF
      if (c == '<' && i + 1 < d.length && (d(i + 1) & 0xFF) == '<') {
        depth += 1; i += 2
      } else if (c == '>' && i + 1 < d.length && (d(i + 1) & 0xFF) == '>') {
        depth -= 1; i += 2
      } else if (c == '(') i = parseLiteral(d, i)._2
      else i += 1
    }
    i
  }

  // ----------------------------------------------------- fixture builders

  private def latin1(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  /** A literal show string's escapes: `(`, `)` and `\`. */
  private def esc(s: String): String =
    s.flatMap {
      case '(' => "\\("
      case ')' => "\\)"
      case '\\' => "\\\\"
      case c => c.toString
    }

  private def rot13(c: Char): Char =
    if (c >= 'a' && c <= 'z') ('a' + (c - 'a' + 13) % 26).toChar
    else if (c >= 'A' && c <= 'Z') ('A' + (c - 'A' + 13) % 26).toChar
    else c

  /** The /Differences array that maps every letter code through rot13
    * (single-letter AGL glyph names).
    */
  private val rot13Differences = "/Differences [ 65 " +
    ('A' to 'Z').map(c => "/" + rot13(c)).mkString(" ") + " 97 " +
    ('a' to 'z').map(c => "/" + rot13(c)).mkString(" ") + " ]"

  /** A content stream showing `lines` in /F1, one line per show operator
    * (`show` writes the operator line for line k).
    */
  private def contentStream(lines: Seq[String])(show: (String, Int) => String): Array[Byte] = {
    val content = new StringBuilder()
    content.append("BT\n/F1 12 Tf\n72 720 Td\n")
    lines.zipWithIndex.foreach { case (line, k) =>
      if (k > 0) content.append("0 -14 Td\n")
      content.append(show(line, k))
    }
    content.append("ET\n")
    latin1(content.toString)
  }

  /** The three show-string forms line k rotates through, over the text
    * `enc` stores for a line: literal `Tj`, a `TJ` array with a word-gap
    * kern at a real space, and a hex `Tj`.
    */
  private def mixedShow(enc: String => String)(line: String, k: Int): String =
    k % 3 match {
      case 0 => "(" + esc(enc(line)) + ") Tj\n"
      case 1 =>
        val cut = line.indexOf(' ', math.max(0, line.length / 2 - 8))
        if (cut > 0)
          "[(" + esc(enc(line.substring(0, cut))) + ") -250 (" +
            esc(enc(line.substring(cut + 1))) + ")] TJ\n"
        else "[(" + esc(enc(line)) + ")] TJ\n"
      case _ =>
        "<" + latin1(enc(line)).map(b3 => f"${b3 & 0xFF}%02X").mkString + "> Tj\n"
    }

  /** A stream object's body: `<< keys/Length n >>` (plus
    * `/Filter /FlateDecode` with the data zlib-deflated when `flate`)
    * around the data.
    */
  private def streamObj(keys: String, raw: Array[Byte], flate: Boolean): Array[Byte] = {
    val data = if (flate) Codecs.compressDeflate(raw, zlib = true) else raw
    latin1(s"<< $keys/Length ${data.length}" +
      (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n") ++
      data ++ latin1("\nendstream")
  }

  /** Catalog (1), page tree (2) and the one page (3), whose content is
    * object 4 and whose /F1 is object 5.
    */
  private val pageTree: Seq[(Int, Array[Byte])] = Seq(
    1 -> "<< /Type /Catalog /Pages 2 0 R >>",
    2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    3 -> ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"))
    .map { case (n, d) => n -> latin1(d) }

  /** The one writer behind the fixture builders: the `%PDF-version`
    * header, each (number, body) as `n 0 obj` … `endobj`, then the
    * trailer (/Size one past the highest number). With `xref` the
    * objects must be numbered 1..n in order; their cross-reference
    * table and `startxref` precede the trailer's `%%EOF`.
    */
  private def writePdf(version: String, objs: Seq[(Int, Array[Byte])],
      xref: Boolean): Array[Byte] = {
    val sb = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = sb.write(latin1(s))
    w(s"%PDF-$version\n")
    val offsets = objs.map { case (n, body) =>
      val at = sb.size()
      w(s"$n 0 obj\n"); sb.write(body, 0, body.length); w("\nendobj\n")
      at
    }
    val size = objs.map(_._1).max + 1
    if (xref) {
      require(objs.map(_._1) == (1 until size), "xref needs objects 1..n in order")
      val at = sb.size()
      w(s"xref\n0 $size\n0000000000 65535 f \n" +
        offsets.map(o => f"$o%010d 00000 n \n").mkString)
      w(s"trailer\n<< /Size $size /Root 1 0 R >>\nstartxref\n$at\n%%EOF\n")
    } else w(s"trailer\n<< /Size $size /Root 1 0 R >>\n%%EOF\n")
    sb.toByteArray
  }

  /** Minimal valid single-page PDF whose content stream shows
    * `lines` — mixed `Tj` / `TJ` / `'` forms with escapes and hex
    * strings so the extractor's full string machinery is exercised.
    * `flate=true` compresses the content stream (zlib).
    */
  def buildSimple(lines: Seq[String], flate: Boolean): Array[Byte] =
    writePdf("1.4", pageTree ++ Seq(
      4 -> streamObj("", contentStream(lines)(mixedShow(identity)), flate),
      5 -> latin1("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")),
      xref = true)

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
    val encDict = s"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding $rot13Differences >>"
    val font = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      s"/Encoding ${if (indirectEnc) "6 0 R" else encDict} >>"
    writePdf("1.4", pageTree ++ Seq(
      4 -> streamObj("", contentStream(lines)(mixedShow(_.map(rot13))), flate),
      5 -> latin1(font)) ++
      (if (indirectEnc) Seq(6 -> latin1(encDict)) else Nil),
      xref = true)
  }

  /** Single-page PDF whose text shows through a /Type0 (CID) font under
    * Identity-H: every character c is stored as the TWO-BYTE code
    * 0x0100+c in hex show strings, and the only way back to text is the
    * font's /ToUnicode CMap (one incrementing bfrange). A reader without
    * the CID path emits raw code bytes (garbage); one that ignores
    * ToUnicode emits nothing. `flate` compresses both the content stream
    * and the CMap stream. No xref table.
    */
  def buildType0(lines: Seq[String], flate: Boolean): Array[Byte] = {
    lines.foreach(l => l.foreach(c => require(c >= 0x20 && c <= 0xFE,
      s"builder envelope: printable Latin-1 only, got ${c.toInt}")))
    val content = contentStream(lines) { (line, _) =>
      "<" + line.map(c => f"${0x0100 + c.toInt}%04X").mkString + "> Tj\n"
    }
    val cmap = latin1("/CIDInit /ProcSet findresource begin\n12 dict begin\n" +
      "begincmap\n/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n" +
      "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
      "1 beginbfrange\n<0120> <01FE> <0020>\nendbfrange\n" +
      "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n")
    writePdf("1.4", pageTree ++ Seq(
      4 -> streamObj("", content, flate),
      5 -> latin1("<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Identity-H " +
        "/Encoding /Identity-H /DescendantFonts [7 0 R] /ToUnicode 6 0 R >>"),
      6 -> streamObj("", cmap, flate),
      7 -> latin1("<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth " +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) " +
        "/Supplement 0 >> >>")),
      xref = false)
  }

  /** The [[buildWithDifferences]] document with its font AND encoding
    * objects packed inside a Flate-compressed /ObjStm object stream —
    * the PDF 1.5+ layout where no top-level `N G obj` body exists for
    * either, so extraction is only correct if the object stream is
    * unpacked during font resolution. Every line is a literal `Tj`; no
    * xref table.
    */
  def buildWithDifferencesObjStm(lines: Seq[String], flate: Boolean): Array[Byte] = {
    val content = contentStream(lines) { (line, _) =>
      "(" + esc(line.map(rot13)) + ") Tj\n"
    }
    // objects 5 (font) and 6 (encoding) exist ONLY inside the ObjStm
    val o5 = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding 6 0 R >>"
    val o6 = s"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding $rot13Differences >>"
    val pairHdr = s"5 0 6 ${o5.length + 1} "
    writePdf("1.5", pageTree ++ Seq(
      4 -> streamObj("", content, flate),
      7 -> streamObj(s"/Type /ObjStm /N 2 /First ${pairHdr.length} ",
        latin1(pairHdr + o5 + "\n" + o6), flate = true)),
      xref = false)
  }
}
