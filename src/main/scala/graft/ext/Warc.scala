package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) record extraction — the ingestion
  * format of real web crawls (Common Crawl ships WARC). A WARC blob is
  * a concatenation of records, each `WARC/1.x\r\n` + header lines +
  * `\r\n\r\n` + a Content-Length payload + `\r\n\r\n`; response-record
  * payloads are raw HTTP messages whose body starts after the HTTP
  * header block.
  *
  * Scale shape: one blob per row (the natural landing of
  * `spark.read.format("binaryFile")` over a crawl bucket — one ~1 GB
  * WARC file per row/task), parsed in a single forward scan per blob
  * inside `flatMap` — map-only, no shuffle, no driver state; downstream
  * stages ([[graft.functions.HtmlText]], [[TextAnalysis.stripBoilerplate]],
  * dedup) pick up from the exploded records. Malformed input is cut
  * short, never thrown: parsing stops at the first structural violation
  * and returns the records before it.
  *
  * Memory contract (the property that makes the landing shape true at
  * its own scale): `.warc.gz` blobs are walked MEMBER-BY-MEMBER — each
  * gzip member inflates into its own bounded buffer, records are parsed
  * out of it incrementally, and only the unconsumed tail (at most one
  * in-flight record) carries over to the next member. The inflated
  * corpus is NEVER concatenated, so per-task heap is
  * O(compressed blob + one member + one record) — a real Common Crawl
  * file (~1 GB compressed, ~4-5 GB inflated) streams through records
  * that would overflow any single JVM array if buffered whole. The only
  * inherent cap is per RECORD: a record body is one `Array[Byte]`, so a
  * single record larger than ~2 GiB is structurally unrepresentable and
  * ends the scan (cut-short contract).
  *
  * Compression envelope (the format real crawls distribute):
  *   - `.warc.gz` blobs — one gzip MEMBER per record (ISO 28500 annex;
  *     Common Crawl ships exactly this) — are detected by the `1f 8b`
  *     magic and inflated member-by-member through
  *     [[Codecs.inflateToEnd]]; a truncated or corrupt member
  *     contributes nothing and parsing keeps every record from the
  *     complete members before it. Records spanning member boundaries
  *     (non-conforming but parseable) are handled by the carry.
  *   - HTTP payloads with `Transfer-Encoding: chunked` (how origin
  *     servers stream and how crawlers store them verbatim) are
  *     de-chunked: size-line framing, chunk extensions, and trailing
  *     headers are stripped so chunk metadata never leaks into
  *     extracted text.
  *   - `.warc.zst` / `.warc.xz` / `.warc.bz2` blobs walk the inflated
  *     stream as bounded slabs through [[Codecs.chunks]] — same carry
  *     discipline, same heap bound, using the zstd-jni / tukaani-xz /
  *     commons-compress decoders already on the Spark classpath.
  *   - HTTP payloads with `Content-Encoding: gzip` (or `zstd`) are
  *     inflated after de-chunking (wire order: transfer-coding wraps
  *     content-coding); undecodable bodies fall back to the raw bytes.
  */
object Warc {

  final case class WarcRecord(
      record_no: Int,
      warc_type: String,
      target_uri: String,
      content_length: Long,
      http_status: Int,        // -1 when the payload is not an HTTP message
      body: Array[Byte])       // HTTP body for response records, else payload

  /** WARC headers are a handful of short lines; a "header" that runs past
    * this without its closing CRLFCRLF is garbage, not a carry candidate —
    * the cap is what keeps the cross-member carry bounded on adversarial
    * input that never closes a header block.
    */
  private val MaxHeaderBytes = 1 << 20

  /** Is this blob gzip data (RFC 1952 magic)? */
  private def isGzip(b: Array[Byte], at: Int = 0): Boolean =
    b != null && at + 2 <= b.length &&
      (b(at) & 0xff) == 0x1f && (b(at + 1) & 0xff) == 0x8b

  /** Inflate ONE gzip member (RFC 1952) starting at offset `i`:
    * header-field walk (FEXTRA/FNAME/FCOMMENT/FHCRC), raw
    * [[Codecs.inflateToEnd]] over the deflate stream, CRC32 trailer
    * verification (deflate can inflate structurally through flipped
    * bits — the CRC is what certifies the member). Returns the member's
    * inflated bytes and the offset just past its 8-byte trailer, or None
    * when no complete valid member starts at `i` (wrong magic, truncated,
    * corrupt, CRC mismatch) — the cut-short signal that ends a member
    * walk while keeping everything before it.
    */
  private def inflateMemberAt(blob: Array[Byte], i: Int): Option[(Array[Byte], Int)] = {
    if (!isGzip(blob, i)) return None
    // --- member header: magic, CM=deflate, FLG, MTIME/XFL/OS, then
    // optional FEXTRA / FNAME / FCOMMENT / FHCRC fields
    if (i + 10 > blob.length) return None
    if ((blob(i + 2) & 0xff) != 8) return None
    val flg = blob(i + 3) & 0xff
    var p = i + 10
    if ((flg & 0x04) != 0) { // FEXTRA: 2-byte LE length + payload
      if (p + 2 > blob.length) return None
      p += 2 + ((blob(p) & 0xff) | ((blob(p + 1) & 0xff) << 8))
    }
    var fields = List.empty[Int]
    if ((flg & 0x08) != 0) fields ::= 0 // FNAME: zero-terminated
    if ((flg & 0x10) != 0) fields ::= 0 // FCOMMENT: zero-terminated
    fields.foreach { _ =>
      while (p < blob.length && blob(p) != 0) p += 1
      p += 1
    }
    if ((flg & 0x02) != 0) p += 2 // FHCRC
    if (p >= blob.length) return None
    // --- raw deflate stream (pooled, see Codecs)
    val (bytes, consumed) = Codecs.inflateToEnd(blob, p, blob.length - p, zlib = false)
      .getOrElse(return None)
    // CRC32 + ISIZE trailer must be present AND the CRC must match
    if (p + consumed + 8 > blob.length) return None
    val crc = new java.util.zip.CRC32()
    crc.update(bytes)
    if (crc.getValue != Bytes.le32u(blob, p + consumed)) return None
    Some((bytes, p + consumed + 8))
  }

  /** Lazy walk over the gzip members of a blob — each `next()` inflates
    * exactly ONE member ([[inflateMemberAt]]); nothing is concatenated.
    * A truncated/corrupt member (or trailing garbage) ends the walk with
    * every complete member before it already delivered.
    */
  private[ext] final class GzipMemberIterator(blob: Array[Byte])
      extends Iterator[Array[Byte]] {
    private var i = 0
    private var nxt: Array[Byte] = null
    private var done = false
    def hasNext: Boolean = {
      if (nxt == null && !done) inflateMemberAt(blob, i) match {
        case Some((m, after)) => nxt = m; i = after
        case None             => done = true
      }
      nxt != null
    }
    def next(): Array[Byte] = {
      if (!hasNext) throw new NoSuchElementException("gzip member")
      val m = nxt; nxt = null; m
    }
  }

  /** Inflate a concatenation of gzip members into one array. ONLY for
    * record-scale data (HTTP `Content-Encoding: gzip` bodies, nested
    * per-member gzip towers) — whole-blob inflation of a crawl file is
    * exactly the ≤2 GiB single-array wall the member-streaming record
    * walk exists to avoid.
    */
  private[ext] def gunzipMembers(blob: Array[Byte]): Array[Byte] = {
    val it = new GzipMemberIterator(blob)
    if (!it.hasNext) return Array.emptyByteArray
    val first = it.next()
    if (!it.hasNext) return first // common case: one member, zero copies
    val out = new java.io.ByteArrayOutputStream(first.length * 2)
    out.write(first, 0, first.length)
    while (it.hasNext) { val m = it.next(); out.write(m, 0, m.length) }
    out.toByteArray
  }

  /** Unwrap a multiply-gzipped member in a LOOP with a depth cap — an
    * adversarial gzip-of-gzip tower must neither recurse (stack death)
    * nor spin. One level is already consumed by the outer member walk,
    * so 7 more keeps the historical total of 8. A member still gzip at
    * the cap contributes nothing (cut-short contract).
    */
  private def unwrapMember(m0: Array[Byte]): Array[Byte] = {
    var m = m0
    var depth = 0
    while (isGzip(m) && depth < 7) { m = gunzipMembers(m); depth += 1 }
    if (isGzip(m)) Array.emptyByteArray else m
  }

  /** Decode a `Transfer-Encoding: chunked` HTTP body (RFC 9112 §7.1):
    * hex size line (chunk extensions after `;` ignored) + CRLF + data +
    * CRLF, terminated by a zero chunk whose trailing headers are
    * dropped. Malformed framing cuts short — the chunks decoded so far
    * are returned, chunk metadata never leaks into the body. Returns
    * NULL when the very first size line is not hex at all: that is the
    * signature of a header that CLAIMS chunked over an already-decoded
    * stored body (proxy rewrites), and the caller falls back to the raw
    * bytes rather than erasing the record.
    */
  private[ext] def dechunk(b: Array[Byte], start: Int, end: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(16, end - start))
    var i = start
    var first = true
    while (true) {
      var j = i
      while (j + 1 < end && !(b(j) == '\r' && b(j + 1) == '\n')) j += 1
      // no size line at all on the FIRST chunk → not chunked data either
      if (j + 1 >= end) return if (first) null else out.toByteArray
      val line = new String(b, i, j - i, "ISO-8859-1")
      val hex = line.indexOf(';') match {
        case -1 => line.trim
        case k  => line.substring(0, k).trim
      }
      val size =
        try java.lang.Long.parseLong(hex, 16)
        catch {
          case _: NumberFormatException =>
            return if (first) null else out.toByteArray
        }
      first = false
      if (size == 0) return out.toByteArray // trailer section dropped
      val dataStart = j + 2
      val dataEnd = dataStart + size
      if (size < 0 || dataEnd + 2 > end) return out.toByteArray
      out.write(b, dataStart, size.toInt)
      if (!(b(dataEnd.toInt) == '\r' && b(dataEnd.toInt + 1) == '\n'))
        return out.toByteArray
      i = dataEnd.toInt + 2
    }
    out.toByteArray // unreachable
  }

  // ---- incremental single-record parser ------------------------------

  /** Outcome of one parse attempt at a buffer position. */
  private sealed trait Step
  /** One complete record; scanning resumes at `next` (its trailing
    * CRLFs are absorbed by the next attempt's leading skip). */
  private final case class ParsedRec(rec: WarcRecord, next: Int) extends Step
  /** The bytes from `from` are a PREFIX of a record — more input (the
    * next gzip member) may complete it; at end of stream it is the
    * cut-short tail and is dropped. */
  private final case class NeedMore(from: Int) extends Step
  /** Structural violation (non-WARC bytes, bad Content-Length,
    * unbounded header): the scan is over. */
  private case object Garbage extends Step

  private def findCrlfCrlf(b: Array[Byte], from: Int, limit: Int): Int = {
    var j = from
    while (j + 3 < limit) {
      if (b(j) == '\r' && b(j + 1) == '\n' &&
        b(j + 2) == '\r' && b(j + 3) == '\n') return j
      j += 1
    }
    -1
  }

  /** Parse ONE record from `b` at `i0` (leading record-separator CRLFs
    * skipped first). Never throws; never reads past `b.length`.
    */
  private def parseOne(b: Array[Byte], i0: Int, no: Int): Step = {
    val len = b.length
    var i = i0
    while (i + 1 < len && b(i) == '\r' && b(i + 1) == '\n') i += 2
    if (i + 5 > len) return NeedMore(i) // could still become "WARC/"
    if (!(b(i) == 'W' && b(i + 1) == 'A' && b(i + 2) == 'R' &&
        b(i + 3) == 'C' && b(i + 4) == '/')) return Garbage
    val hdrEnd = findCrlfCrlf(b, i, len)
    if (hdrEnd < 0)
      return if (len - i > MaxHeaderBytes) Garbage else NeedMore(i)
    val headers = new String(b, i, hdrEnd - i, "ISO-8859-1")
    var wType = ""; var uri = ""; var clen = -1L
    headers.split("\r\n").foreach { line =>
      val c = line.indexOf(':')
      if (c > 0) {
        val k = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
        val v = line.substring(c + 1).trim
        k match {
          case "warc-type" => wType = v
          case "warc-target-uri" => uri = v
          case "content-length" =>
            clen = try v.toLong catch { case _: NumberFormatException => -1L }
          case _ =>
        }
      }
    }
    // a record body is one JVM array: a Content-Length past Int.MaxValue
    // is structurally unrepresentable, not a carry candidate
    if (clen < 0 || clen > Int.MaxValue - 16L) return Garbage
    val payloadStart = hdrEnd + 4
    if (payloadStart + clen > len) return NeedMore(i)
    val payloadEnd = (payloadStart + clen).toInt
    // HTTP payload? status line + headers + \r\n\r\n + body
    var status = -1
    var bodyStart = payloadStart
    var chunked = false
    var gzipBody = false
    if (clen >= 12 && b(payloadStart) == 'H' && b(payloadStart + 1) == 'T' &&
      b(payloadStart + 2) == 'T' && b(payloadStart + 3) == 'P') {
      val he = findCrlfCrlf(b, payloadStart, payloadEnd)
      if (he >= 0) {
        bodyStart = he + 4
        val line = new String(b, payloadStart,
          math.min(64, payloadEnd - payloadStart), "ISO-8859-1")
        val parts = line.split(" ")
        if (parts.length >= 2)
          status = try parts(1).takeWhile(_.isDigit) match {
            case "" => -1
            case ds => ds.toInt
          } catch { case _: NumberFormatException => -1 }
        // transfer/content codings from the stored response headers
        new String(b, payloadStart, he - payloadStart, "ISO-8859-1")
          .split("\r\n").foreach { h =>
            val c = h.indexOf(':')
            if (c > 0) {
              val k = h.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
              val v = h.substring(c + 1).trim.toLowerCase(java.util.Locale.ROOT)
              if (k == "transfer-encoding" && v.contains("chunked")) chunked = true
              if (k == "content-encoding" &&
                (v.contains("gzip") || v.contains("zstd"))) gzipBody = true
            }
          }
      }
    }
    // wire order unwinds transfer-coding first, then content-coding;
    // an undecodable gzip body falls back to its raw bytes (cut-short
    // contract — ingestion must never throw on one stored response)
    val rawBody =
      if (chunked) {
        // same fallback contract as the gzip body path: a header that
        // CLAIMS chunked over an already-dechunked stored body (proxy
        // rewrites — dechunk signals it with null) must not erase the
        // record; fall back to the raw bytes
        val dechunked = dechunk(b, bodyStart, payloadEnd)
        if (dechunked == null)
          java.util.Arrays.copyOfRange(b, bodyStart, payloadEnd)
        else dechunked
      } else java.util.Arrays.copyOfRange(b, bodyStart, payloadEnd)
    val body =
      if (gzipBody && isGzip(rawBody)) {
        val inflated = gunzipMembers(rawBody)
        if (inflated.nonEmpty) inflated else rawBody
      } else if (gzipBody && Codecs.isCompressed(rawBody)) {
        // `Content-Encoding: zstd` bodies (RFC 8878 §8; CDNs ship it) —
        // record-scale, so the one-shot capped decode is in envelope
        val inflated = Codecs.decompress(rawBody)
        if (inflated.nonEmpty) inflated else rawBody
      } else rawBody
    ParsedRec(WarcRecord(no, wType, uri, clen, status, body), payloadEnd)
  }

  /** The streaming record walk: pulls gzip members one at a time (plain
    * blobs are a single "member"), parses complete records out of the
    * current window, and carries only the unconsumed tail — at most one
    * in-flight record — into the next member. Heap high-water mark is
    * the compressed blob + one member + one record, regardless of how
    * large the blob inflates in total.
    */
  private final class RecordIterator(blob0: Array[Byte])
      extends Iterator[WarcRecord] {
    private val members: Iterator[Array[Byte]] =
      if (isGzip(blob0))
        new GzipMemberIterator(blob0).map(unwrapMember).filter(_.nonEmpty)
      else if (Codecs.isCompressed(blob0))
        // `.warc.zst` / `.warc.xz` / `.warc.bz2`: the inflated stream
        // walks as bounded slabs ([[Codecs.chunks]]) — frame boundaries
        // need not align with records; the carry handles the seams the
        // same way it handles records spanning gzip members
        Codecs.chunks(blob0)
      else Iterator.single(blob0)
    private var buf: Array[Byte] = Array.emptyByteArray
    private var pos = 0
    private var no = 0
    private var dead = false
    private var pending: WarcRecord = null

    @annotation.tailrec
    private def advance(): Unit = parseOne(buf, pos, no) match {
      case ParsedRec(r, next) => pending = r; pos = next; no += 1
      case Garbage            => dead = true
      case NeedMore(from) =>
        if (!members.hasNext) dead = true // incomplete tail: cut short
        else {
          val m = members.next()
          val tail = buf.length - from
          buf =
            if (tail <= 0) m // aligned members (the conforming layout): zero-copy
            else {
              val nb = new Array[Byte](tail + m.length)
              System.arraycopy(buf, from, nb, 0, tail)
              System.arraycopy(m, 0, nb, tail, m.length)
              nb
            }
          pos = 0
          advance()
        }
    }

    def hasNext: Boolean = {
      if (pending == null && !dead) advance()
      pending != null
    }
    def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("WARC record")
      val r = pending; pending = null; r
    }
  }

  /** Lazily parse one WARC blob (plain or `.warc.gz`) into its records —
    * the bounded-heap entry point ([[RecordIterator]] memory contract).
    */
  def recordIterator(blob: Array[Byte]): Iterator[WarcRecord] =
    if (blob == null || blob.length == 0) Iterator.empty
    else new RecordIterator(blob)

  /** Parse one WARC blob into its records, materialized. Convenience for
    * record-scale blobs and specs; at the ~1 GB-per-row crawl landing go
    * through [[recordIterator]]/[[records]] so bodies stream instead of
    * accumulating.
    */
  def parse(blob: Array[Byte]): Seq[WarcRecord] = recordIterator(blob).toSeq

  /** Explode a DataFrame of WARC blobs into records:
    * (id, record_no, warc_type, target_uri, content_length, http_status,
    * body). One flatMap over the LAZY record iterator — map-only at any
    * corpus size, and a row's records stream through the task without
    * the blob's inflated form ever materializing at once.
    */
  def records(df: DataFrame, idCol: String, blobCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, blob) => recordIterator(blob).map(r =>
        (id, r.record_no, r.warc_type, r.target_uri, r.content_length,
          r.http_status, r.body)) }
      .toDF(idCol, "record_no", "warc_type", "target_uri",
        "content_length", "http_status", "body")
  }
}
