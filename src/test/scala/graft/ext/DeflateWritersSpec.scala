package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** The writers that moved onto [[Codecs]]' pooled deflate and one
  * [[Codecs.gzip]] against the inline forms they replaced
  * ([[DeflateReference]]): every byte must match.
  */
class DeflateWritersSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20261019L)

  /** Random bytes, runs of one value, or a repeated phrase — deflate's
    * stored, RLE and match-heavy paths.
    */
  private def payload(n: Int): Array[Byte] = rnd.nextInt(3) match {
    case 0 => Array.fill(n)(rnd.nextInt(256).toByte)
    case 1 => Array.fill(n)((rnd.nextInt(4) * 60).toByte)
    case _ => ("gasket stage " * (n / 13 + 1)).getBytes("ISO-8859-1").take(n)
  }

  test("Png.encode equals the pooled-Deflater encode for 1 to 4 channels") {
    for (ch <- 1 to 4; (w, h) <- Seq((1, 1), (3, 5), (16, 16), (300, 200))) {
      val img = Png.Image(w, h, ch, payload(w * h * ch))
      assert(Png.encode(img).sameElements(DeflateReference.encode(img)), s"${w}x$h ch=$ch")
    }
  }

  test("Zip.build method 8 stores exactly the raw-deflate member bytes") {
    val sizes = Seq(0, 1, 100, 8191, 8192, 100000)
    for (zip64 <- Seq(false, true)) {
      val members = sizes.map(n => (s"m$n.bin", payload(n), true))
      val zip = Zip.build(members, zip64 = zip64)
      val entries = Zip.entries(zip)
      assert(entries.map(_.name) == members.map(_._1))
      for ((e, (_, raw, _)) <- entries.zip(members)) {
        val off = e.local_offset.toInt
        val data = off + 30 + Bytes.le16(zip, off + 26) + Bytes.le16(zip, off + 28)
        val stored = java.util.Arrays.copyOfRange(zip, data, data + e.comp_size.toInt)
        assert(e.method == 8)
        assert(stored.sameElements(DeflateReference.rawDeflate(raw)), s"${e.name} zip64=$zip64")
        assert(Zip.read(zip, e.name).exists(_.sameElements(raw)), e.name)
      }
    }
  }

  test("the four PDF builders equal their inline writers, flate on and off") {
    val lineSets = Seq(
      Seq.empty[String],
      Seq("Hello"),
      Seq("a (paren) and \\ backslash", "two words here for a TJ cut", "hex line",
        "Zebra quiz jumps"),
      (0 until 400).map(k => s"line $k of a long document with words to split ${k * 7}"))
    for (lines <- lineSets; flate <- Seq(false, true)) {
      val tag = s"${lines.length} lines flate=$flate"
      assert(Pdf.buildSimple(lines, flate)
        .sameElements(DeflateReference.pdf.buildSimple(lines, flate)), s"simple $tag")
      for (indirect <- Seq(false, true))
        assert(Pdf.buildWithDifferences(lines, flate, indirect)
          .sameElements(DeflateReference.pdf.buildWithDifferences(lines, flate, indirect)),
          s"differences indirect=$indirect $tag")
      assert(Pdf.buildType0(lines, flate)
        .sameElements(DeflateReference.pdf.buildType0(lines, flate)), s"type0 $tag")
      assert(Pdf.buildWithDifferencesObjStm(lines, flate)
        .sameElements(DeflateReference.pdf.buildWithDifferencesObjStm(lines, flate)),
        s"objstm $tag")
    }
  }

  test("WebCurate.warcGzBlob equals its inline gzip writer") {
    (0L until 1000L).foreach { id =>
      val text = Seq.fill(rnd.nextInt(60))("curate").mkString(" ") + s" doc $id"
      assert(WebCurate.warcGzBlob(id, text).sameElements(DeflateReference.warcGzBlob(id, text)),
        s"id=$id")
    }
  }

  test("Tar.build with gzip equals its inline gzip branch") {
    for (n <- Seq(0, 1, 3)) {
      val members = (0 until n).map(k => (s"f$k.txt", payload(k * 700), '0'))
      val tar = Tar.build(members)
      assert(Tar.build(members, gzip = true).sameElements(DeflateReference.tarGzip(tar)), s"n=$n")
    }
  }

  test("Codecs.gzip of parts equals one GZIPOutputStream over their concatenation") {
    // a crawl-landing WARC member: header, zero body, record trailer
    for (id <- Seq(0L, 7L); len <- Seq(0, 1, 1 << 20)) {
      val hdr = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
        s"WARC-Target-URI: https://soak.example/$id\r\n" +
        s"Content-Length: $len\r\n\r\n").getBytes("ISO-8859-1")
      assert(Codecs.gzip(hdr, new Array[Byte](len), "\r\n\r\n".getBytes)
        .sameElements(DeflateReference.soakWarcMember(id, len)), s"id=$id len=$len")
    }
    assert(Codecs.gzip().sameElements(DeflateReference.tarGzip(Array.emptyByteArray)))
  }
}
