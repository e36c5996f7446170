package graft.ext

import org.scalatest.funsuite.AnyFunSuite

class ZipOfficeSpec extends AnyFunSuite {

  private def sample = Zip.build(Seq(
    ("a.txt", "hello stored".getBytes, false),
    ("dir/b.bin", Array.tabulate[Byte](4096)(i => (i % 251).toByte), true),
    ("c", "x".getBytes, true)))

  test("central directory lists names, methods and sizes") {
    val es = Zip.entries(sample)
    assert(es.map(_.name) == Seq("a.txt", "dir/b.bin", "c"))
    assert(es.map(_.method) == Seq(0, 8, 8))
    assert(es(0).uncomp_size == 12 && es(1).uncomp_size == 4096)
  }

  test("stored and deflated members read back byte-exact, CRC-verified") {
    assert(new String(Zip.read(sample, "a.txt").get) == "hello stored")
    assert(Zip.read(sample, "dir/b.bin").get.toSeq ==
      Array.tabulate[Byte](4096)(i => (i % 251).toByte).toSeq)
    assert(Zip.read(sample, "missing").isEmpty)
  }

  test("EOCD is found behind a trailing archive comment") {
    val commented = sample ++ "trailing comment bytes".getBytes
    assert(Zip.entries(commented).map(_.name) == Seq("a.txt", "dir/b.bin", "c"))
    assert(new String(Zip.read(commented, "a.txt").get) == "hello stored")
  }

  test("corrupt member data fails the CRC check, not silently") {
    val bad = sample.clone()
    // flip a byte inside the first member's stored data
    val dataStart = 30 + "a.txt".length
    bad(dataStart + 3) = (bad(dataStart + 3) ^ 0x40).toByte
    assert(Zip.read(bad, "a.txt").isEmpty)
    assert(Zip.read(bad, "dir/b.bin").nonEmpty) // others unaffected
  }

  test("zip64: masked EOCD/CD resolve through EOCD64 + 0x0001 extras") {
    val z = Zip.build(Seq(
      ("a.txt", "hello zip64".getBytes, false),
      ("dir/b.bin", Array.tabulate[Byte](4096)(i => (i % 251).toByte), true)),
      zip64 = true)
    // the plain EOCD is fully masked: without the EOCD64 path this walk
    // sees 0xFFFF entries at offset 0xFFFFFFFF and returns Nil
    val es = Zip.entries(z)
    assert(es.map(_.name) == Seq("a.txt", "dir/b.bin"))
    assert(es.map(_.uncomp_size) == Seq(11L, 4096L))
    assert(es.map(_.method) == Seq(0, 8))
    assert(new String(Zip.read(z, "a.txt").get) == "hello zip64")
    assert(Zip.read(z, "dir/b.bin").get.toSeq ==
      Array.tabulate[Byte](4096)(i => (i % 251).toByte).toSeq)
    // trailing comment after the masked EOCD still resolves
    assert(Zip.entries(z ++ "comment".getBytes).map(_.name).length == 2)
  }

  test("zip64: a forged >4 GiB member lists with true sizes, reads None") {
    // hand-mask one member's central entry with a 0x0001 extra claiming
    // a 5 GiB member at an offset past any JVM array — the listing must
    // surface the REAL 64-bit sizes (triage truth) while read() refuses
    // the unrepresentable extraction instead of wrapping the narrowing
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Long) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le64(v: Long) = le32(v & 0xFFFFFFFFL) ++ le32(v >>> 32)
    val big = 5L * 1024 * 1024 * 1024
    val name = "huge.bin".getBytes("US-ASCII")
    // an UNRELATED extra field first: the 0x0001 scan must skip it
    val extra = le16(0x7075) ++ le16(4) ++ Array[Byte](1, 2, 3, 4) ++
      le16(0x0001) ++ le16(24) ++ le64(big) ++ le64(big) ++ le64(big)
    val cd = Array[Byte]('P', 'K', 1, 2) ++ le16(45) ++ le16(45) ++
      le16(0) ++ le16(0) ++ le16(0) ++ le16(0) ++ le32(0) ++
      le32(0xFFFFFFFFL) ++ le32(0xFFFFFFFFL) ++
      le16(name.length) ++ le16(extra.length) ++ le16(0) ++ le16(0) ++
      le16(0) ++ le32(0) ++ le32(0xFFFFFFFFL) ++ name ++ extra
    val eocd = Array[Byte]('P', 'K', 5, 6) ++ le16(0) ++ le16(0) ++
      le16(1) ++ le16(1) ++ le32(cd.length.toLong) ++ le32(0) ++ le16(0)
    val z = cd ++ eocd
    val es = Zip.entries(z)
    assert(es.length == 1)
    assert(es.head.name == "huge.bin")
    assert(es.head.uncomp_size == big && es.head.comp_size == big)
    assert(es.head.local_offset == big)
    assert(Zip.readEntry(z, es.head).isEmpty)
  }

  test("truncations and junk: Nil/None, never thrown") {
    assert(Zip.entries(null).isEmpty)
    assert(Zip.entries("PK but not really a zip file".getBytes).isEmpty)
    val full = sample
    var i = 0
    while (i <= full.length) {
      val cut = full.take(i)
      Zip.entries(cut).foreach(e => Zip.readEntry(cut, e))
      i += 13
    }
  }

  test("WordprocessingML text layer: runs, entities, tabs, breaks") {
    val xml = "<w:document><w:body>" +
      "<w:p><w:r><w:t>a&amp;b</w:t><w:t/></w:r></w:p>" + // self-closing w:t
      "<w:p><w:r><w:rPr><w:b/></w:rPr>" + // <w:b/> is not <w:br/>
      "<w:t xml:space=\"preserve\"> s p </w:t><w:tab/><w:t>t</w:t>" +
      "<w:br/><w:t>&#x21;&unknown;</w:t></w:r></w:p>" +
      "<w:tbl><w:tc><w:p><w:r><w:t>cell</w:t></w:r></w:p></w:tc></w:tbl>" +
      "</w:body></w:document>"
    assert(Office.extractWml(xml) == "a&b\n s p \tt\n!&unknown;\ncell\n")
  }

  test("xlsxText: shared strings, multi-run si, literal cells, missing v") {
    val shared = "<sst><si><t>one</t></si>" +
      "<si><r><t>two </t></r><r><t xml:space=\"preserve\">parts</t></r></si></sst>"
    val sheet = "<worksheet><sheetData>" +
      "<row r=\"1\"><c r=\"A1\" t=\"s\"><v>0</v></c><c r=\"B1\"><v>7</v></c></row>" +
      "<row r=\"2\"><c r=\"A2\" t=\"s\"><v>1</v></c><c r=\"B2\"/></row>" +
      "</sheetData></worksheet>"
    val zip = Zip.build(Seq(
      ("xl/sharedStrings.xml", shared.getBytes("UTF-8"), true),
      ("xl/worksheets/sheet1.xml", sheet.getBytes("UTF-8"), false)))
    assert(Office.xlsxText(zip).get == "one\t7\ntwo parts\t\n")
    // out-of-range shared index → empty cell, not a crash
    val badSheet = sheet.replace("<v>1</v>", "<v>99</v>")
    val zip2 = Zip.build(Seq(
      ("xl/sharedStrings.xml", shared.getBytes("UTF-8"), false),
      ("xl/worksheets/sheet1.xml", badSheet.getBytes("UTF-8"), true)))
    assert(Office.xlsxText(zip2).get == "one\t7\n\t\n")
    assert(Office.xlsxText("not a zip".getBytes).isEmpty)
    // self-closing <row/> (sparse sheets): empty line, next row intact
    val sparse = "<worksheet><sheetData><row r=\"1\"/>" +
      "<row r=\"2\"><c r=\"A2\"><v>9</v></c></row></sheetData></worksheet>"
    val zip3 = Zip.build(Seq(
      ("xl/worksheets/sheet1.xml", sparse.getBytes("UTF-8"), false)))
    assert(Office.xlsxText(zip3).get == "\n9\n")
  }

  test("docxText: end-to-end over a built container; non-zip → None") {
    val zip = Zip.build(Seq(
      ("word/document.xml",
        "<w:document><w:body><w:p><w:r><w:t>hi</w:t></w:r></w:p></w:body></w:document>"
          .getBytes("UTF-8"), true)))
    assert(Office.docxText(zip).get == "hi\n")
    assert(Office.docxText("not a zip".getBytes).isEmpty)
    // zip without the member → None
    assert(Office.docxText(Zip.build(Seq(("x", "y".getBytes, false)))).isEmpty)
  }

  test("ZipCrypto: encrypted members decrypt with the password, gate out without") {
    val members = Seq(
      ("a.txt", "classic pkware protected text".getBytes("UTF-8"), true),
      ("b.bin", Array.tabulate[Byte](200)(i => (i * 5 + 1).toByte), false))
    val z = Zip.build(members, password = Some("hunter2"))
    val es = Zip.entries(z)
    assert(es.map(_.name) == Seq("a.txt", "b.bin"))
    assert(es.forall(_.encrypted))
    // listing carries true sizes; reads gate on the password
    assert(Zip.read(z, "a.txt").isEmpty)
    assert(Zip.read(z, "a.txt", Some("wrong")).isEmpty)
    assert(new String(Zip.read(z, "a.txt", Some("hunter2")).get, "UTF-8") ==
      "classic pkware protected text")
    assert(java.util.Arrays.equals(Zip.read(z, "b.bin", Some("hunter2")).get,
      members(1)._2))
    // unencrypted archives ignore a supplied password
    val plain = Zip.build(members)
    assert(plain.length < z.length + 64)
    assert(Zip.entries(plain).forall(!_.encrypted))
    assert(Zip.read(plain, "a.txt", Some("hunter2")).nonEmpty)
  }

  test("ZipCrypto: corrupt keystream data fails CRC, truncated header is None") {
    val z = Zip.build(Seq(("x.txt", "abcdefgh".getBytes, true)),
      password = Some("pw"))
    val e = Zip.entries(z).head
    // flip one byte of the encrypted payload (past the 12-byte header)
    val bad = z.clone()
    val dataOff = e.local_offset.toInt + 30 + "x.txt".length + 13
    bad(dataOff) = (bad(dataOff) ^ 0x40).toByte
    assert(Zip.read(bad, "x.txt", Some("pw")).isEmpty)
  }

  private val methodIds = Seq(0, 8, 9, 12, 14, 93, 95)

  test("modern methods: Deflate64/bzip2/LZMA/zstd/xz members round-trip") {
    val text = ("method envelope payload " * 40).getBytes("UTF-8")
    val bin = Array.tabulate[Byte](3000)(i => ((i * 31 + 7) % 251).toByte)
    val z = Zip.buildMethods(
      methodIds.map(m => (s"t$m.txt", text, m)) ++
        methodIds.map(m => (s"b$m.bin", bin, m)))
    val es = Zip.entries(z)
    assert(es.map(_.method) == methodIds ++ methodIds)
    methodIds.foreach { m =>
      assert(Zip.read(z, s"t$m.txt").map(_.toSeq).contains(text.toSeq),
        s"text member method $m")
      assert(Zip.read(z, s"b$m.bin").map(_.toSeq).contains(bin.toSeq),
        s"binary member method $m")
    }
    // the compressed arms actually compressed (stored is the size
    // ceiling; 9 is excluded — its fixture encoding is stored blocks,
    // the only deflate64-valid stream a JVM can emit)
    val bySize = es.map(e => e.name -> e.comp_size).toMap
    Seq(8, 12, 14, 93, 95).foreach(m =>
      assert(bySize(s"t$m.txt") < bySize("t0.txt"), s"method $m ratio"))
  }

  test("modern methods: ZipCrypto layers over any compression method") {
    val raw = "encrypted modern-method member".getBytes("UTF-8")
    val z = Zip.buildMethods(
      Seq(("z.txt", raw, 93), ("x.txt", raw, 95)), password = Some("pw"))
    assert(Zip.read(z, "z.txt").isEmpty) // gated without password
    assert(Zip.read(z, "z.txt", Some("pw")).map(_.toSeq).contains(raw.toSeq))
    assert(Zip.read(z, "x.txt", Some("pw")).map(_.toSeq).contains(raw.toSeq))
  }

  test("modern methods: truncated or corrupt streams yield None, not garbage") {
    val raw = ("corruption probe " * 50).getBytes("UTF-8")
    Seq(12, 14, 93, 95).foreach { m =>
      val z = Zip.buildMethods(Seq(("v.txt", raw, m)))
      val e = Zip.entries(z).head
      val dataOff = e.local_offset.toInt + 30 + "v.txt".length
      // flip a byte mid-stream: CRC (or the decoder itself) must reject
      val bad = z.clone()
      bad(dataOff + e.comp_size.toInt / 2) =
        (bad(dataOff + e.comp_size.toInt / 2) ^ 0x55).toByte
      assert(Zip.read(bad, "v.txt").isEmpty, s"corrupt method $m")
    }
    // a method id nothing decodes gates out as unsupported
    val z = Zip.buildMethods(Seq(("p.txt", raw, 8)))
    val e = Zip.entries(z).head
    val bad = z.clone()
    // central-directory method field → 98 (PPMd, out of envelope)
    val p = bad.length - 22 // EOCD (no trailing comment in built archives)
    val cdOff = (bad(p + 16) & 0xFF) | ((bad(p + 17) & 0xFF) << 8) |
      ((bad(p + 18) & 0xFF) << 16) | ((bad(p + 19) & 0xFF) << 24)
    bad(cdOff + 10) = 98.toByte; bad(cdOff + 11) = 0
    assert(Zip.entries(bad).head.method == 98)
    assert(Zip.read(bad, "p.txt").isEmpty)
  }

  test("WinZip AES: all strengths and both AE versions round-trip") {
    val text = ("winzip aes protected payload " * 20).getBytes("UTF-8")
    for (strength <- 1 to 3; ae <- 1 to 2) {
      val z = Zip.buildMethods(Seq(("s.txt", text, 8)),
        aes = Some(("s3cret", strength, ae)))
      val e = Zip.entries(z).head
      assert(e.method == 99 && e.encrypted, s"strength=$strength ae=$ae")
      assert(e.aes.contains(Zip.AesInfo(ae, strength, 8)))
      assert(if (ae == 2) e.crc == 0 else e.crc != 0) // AE-2 zeroes CRC
      assert(Zip.read(z, "s.txt").isEmpty) // gated without password
      assert(Zip.read(z, "s.txt", Some("nope")).isEmpty) // verifier rejects
      assert(Zip.read(z, "s.txt", Some("s3cret")).map(_.toSeq)
        .contains(text.toSeq), s"strength=$strength ae=$ae")
    }
  }

  test("WinZip AES: HMAC rejects ciphertext tampering before decode") {
    val text = "authenticate before inflate".getBytes("UTF-8")
    val z = Zip.buildMethods(Seq(("a.txt", text, 8)),
      aes = Some(("pw", 3, 2)))
    val e = Zip.entries(z).head
    val dataOff = e.local_offset.toInt + 30 + "a.txt".length + 11 // + extra
    // flip a byte in the encrypted body (past salt 16 + verifier 2)
    val bad = z.clone()
    bad(dataOff + 20) = (bad(dataOff + 20) ^ 0x01).toByte
    assert(Zip.read(bad, "a.txt", Some("pw")).isEmpty)
    // and AES layers over the widened method envelope too
    val zz = Zip.buildMethods(Seq(("m.txt", text, 93)),
      aes = Some(("pw", 2, 1)))
    assert(Zip.entries(zz).head.aes.map(_.method).contains(93))
    assert(Zip.read(zz, "m.txt", Some("pw")).map(_.toSeq).contains(text.toSeq))
  }
}
