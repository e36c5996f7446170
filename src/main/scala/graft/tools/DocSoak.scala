package graft.tools

/** Round-12b scale soak: the document/sidecar format arms at 100×+ the
  * bench corpus — per-format build+parse throughput (the certificate
  * shape: the real writer feeds the real parser inside one task) and
  * the mixed-format dispatch pipeline end-to-end. Prints per-unit costs
  * for PERF.md.
  *
  * Every stage is map-only over a generated corpus — the numbers to
  * watch are µs/doc flatness as nDocs grows (any superlinearity means a
  * parser allocates beyond the row).
  *
  * Usage: runMain graft.tools.DocSoak [nDocs] [only]
  *        (nDocs default 200000; `only` = comma-separated substrings —
  *        only stages whose name contains one run)
  */
object DocSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = Harness.session(32, 64)
    import spark.implicits._
    val stages = new Harness.Stages(spark, "docsoak", args.lift(1))
    def timed(name: String)(body: => Long): Unit = stages(name, nDocs)(body)

    val docs = ScaleSoak.docs(spark, nDocs)
    println(s"[docsoak] docs=${docs.count()}")

    val ds = docs.as[(Long, String)]

    timed("msdoc") {
      ds.map { case (id, text) =>
        val d = graft.ext.MsDoc.build(Seq((s"Doc $id\r", true),
          (text + "\r", false)))
        graft.ext.MsDoc.text(d).map(_.length).getOrElse(-1)
      }.filter(_ >= 0).count()
    }
    timed("xls") {
      ds.map { case (id, text) =>
        val x = graft.ext.Xls.build(Seq(
          graft.ext.Xls.Cell(0, 0, text), graft.ext.Xls.Cell(1, 0, id.toDouble)),
          sstSplitAt = 40)
        graft.ext.Xls.cells(x).map(_.length).getOrElse(-1)
      }.filter(_ == 2).count()
    }
    timed("sqlite") {
      ds.map { case (id, text) =>
        val rows: Seq[Seq[Any]] =
          (1 to 8).map(k => Seq[Any](null, text, k * 1.0))
        val db = graft.ext.Sqlite.build(512,
          Seq(("t", Seq("id INTEGER PRIMARY KEY", "txt TEXT", "v REAL"), rows)))
        graft.ext.Sqlite.readTable(db, "t").map(_.rows.length).getOrElse(-1)
      }.filter(_ == 8).count()
    }
    timed("mhtml") {
      ds.map { case (id, text) =>
        val m = graft.ext.Mhtml.build(s"P$id", s"https://e/$id",
          s"<html><body><p>$text</p></body></html>", Seq.empty)
        graft.ext.Mhtml.parse(m).map(_.text.length).getOrElse(-1)
      }.filter(_ >= 0).count()
    }
    timed("msg") {
      ds.map { case (id, text) =>
        val m = graft.ext.Msg.build(s"S$id", "sender", text, Seq.empty, Seq.empty)
        graft.ext.Msg.parse(m).map(_.body.length).getOrElse(-1)
      }.filter(_ >= 0).count()
    }
    timed("epub") {
      ds.map { case (id, text) =>
        val esc = text.replace("&", "&amp;").replace("<", "&lt;")
        val e = graft.ext.Epub.build(s"B$id",
          Seq(("c.xhtml", s"<html><body><p>$esc</p></body></html>")))
        graft.ext.Epub.extract(e).map(_._2.length).getOrElse(-1)
      }.filter(_ == 1).count()
    }

    timed("tex") {
      ds.map { case (id, text) =>
        graft.ext.Tex.text(
          s"\\section{Doc $id}\n" + text + s"\n$$x_$id$$ \\emph{end}\n").length
      }.filter(_ > 0).count()
    }
    timed("tnef_rtf") {
      ds.map { case (id, text) =>
        val t = graft.ext.Tnef.build(s"S$id", text, rtfBody = true, Seq.empty)
        graft.ext.Tnef.parse(t).map(_.body.length).getOrElse(-1)
      }.filter(_ >= 0).count()
    }
    timed("ipynb") {
      ds.map { case (id, text) =>
        val nb = graft.ext.Ipynb.build(Seq(
          ("markdown", text, None), ("code", s"x=$id", Some("1\n"))))
        graft.ext.Ipynb.cells(nb).map(_.length).getOrElse(-1)
      }.filter(_ == 2).count()
    }
    timed("iso") {
      ds.map { case (id, text) =>
        val iso = graft.ext.Iso.build(Seq(
          ("doc.txt", text.getBytes("UTF-8"))))
        graft.ext.Iso.read(iso, "doc.txt").map(_.length).getOrElse(-1)
      }.filter(_ >= 0).count()
    }

    // Decode-ONLY soak over the four read paths that inflate through
    // Codecs' pooled Inflaters (Zip.read raw, Warc gzip members, Png IDAT
    // zlib, PDF FlateDecode): payloads are prebuilt to parquet OUTSIDE
    // the timing, so the µs/doc isolates the read path (see Codecs for
    // why the Inflaters are pooled).
    val inflateStages = Seq("inflate_zip", "inflate_warc", "inflate_png",
      "inflate_pdf")
    if (inflateStages.exists(stages.selected)) {
      val inf = Harness.materialize(spark, s"/tmp/graft_docsoak_inf_$nDocs") {
        ds.map { case (id, text) =>
          val textB = text.getBytes("UTF-8")
          val zip = graft.ext.Zip.build(Seq(("d.txt", textB, true)))
          val page = s"<html><body><p>$text</p></body></html>"
          val warc = graft.ext.Codecs.gzip(
            (s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: https://e/$id\r\n" +
              s"Content-Length: ${page.getBytes("UTF-8").length}\r\n\r\n")
              .getBytes("UTF-8") ++ page.getBytes("UTF-8") ++
              "\r\n\r\n".getBytes("UTF-8"))
          val png = graft.ext.Png.encode(graft.ext.Png.Image(32, 32, 1,
            Array.tabulate(32 * 32)(i => ((id + i * 7) & 0xFF).toByte)))
          val pdf = graft.ext.Pdf.buildSimple(Seq(text), flate = true)
          (id, zip, warc, png, pdf)
        }.toDF("media_id", "zip", "warc", "png", "pdf")
      }
      timed("inflate_zip") {
        inf.select("zip").as[Array[Byte]].map(b =>
          graft.ext.Zip.read(b, "d.txt").map(_.length).getOrElse(-1))
          .filter(_ >= 0).count()
      }
      timed("inflate_warc") {
        inf.select("warc").as[Array[Byte]].map(b =>
          graft.ext.Warc.parse(b).map(_.body.length).sum)
          .filter(_ >= 0).count()
      }
      timed("inflate_png") {
        inf.select("png").as[Array[Byte]].map(b =>
          graft.ext.Png.decode(b).map(_.pixels.length).getOrElse(-1))
          .filter(_ >= 0).count()
      }
      timed("inflate_pdf") {
        inf.select("pdf").as[Array[Byte]].map(b =>
          graft.ext.Pdf.extractText(b).map(_.length).getOrElse(-1))
          .filter(_ >= 0).count()
      }
    }

    // round-13 codec arms at corpus scale: build+decode per doc, the
    // certificate shape — watch µs/doc flatness
    timed("vp8l") {
      ds.map { case (id, _) =>
        val img = graft.ext.Vp8l.Image(16, 12, Array.tabulate(192)(i =>
          0xFF000000 | ((id * 2654435761L + i * 40503L) % 16777216L).toInt))
        val enc = graft.ext.Vp8l.encode(img)
        graft.ext.Vp8l.decode(enc).map(_.argb.length).getOrElse(-1)
      }.filter(_ == 192).count()
    }
    timed("tiff_lzw") {
      ds.map { case (id, _) =>
        val img = graft.ext.Png.Image(16, 12, 3, Array.tabulate(576)(i =>
          ((id * 31 + i * 7) % 256).toByte))
        val t = graft.ext.TiffImg.build(img, compression = 5, predictor = 2)
        graft.ext.TiffImg.decode(t).map(_.pixels.length).getOrElse(-1)
      }.filter(_ == 576).count()
    }
    timed("bmp_ico") {
      ds.map { case (id, _) =>
        val img = graft.ext.Png.Image(16, 12, 3, Array.tabulate(576)(i =>
          ((id * 13 + i * 11) % 256).toByte))
        val b = graft.ext.Bmp.decode(graft.ext.Bmp.build(img))
          .map(_.pixels.length).getOrElse(-1)
        val gray = graft.ext.Png.Image(8, 8, 1, Array.tabulate(64)(i =>
          ((id + i * 3) % 256).toByte))
        val c = graft.ext.Ico.decode(graft.ext.Ico.build(Seq(gray)))
          .map(_.pixels.length).getOrElse(-1)
        b + c
      }.filter(_ == 576 + 64).count()
    }

    // perceptual audio fingerprint (the round-13 dedup modality): WAV
    // build + decode + 72-band-energy Goertzel fingerprint per doc —
    // map-only, the 100 TB serve shape; watch µs/doc flatness
    timed("audio_fp") {
      ds.map { case (id, _) =>
        val wav = graft.ext.AudioFp.wavPcm16(
          graft.ext.AudioFp.synthSamples(id * 0x9E3779B97F4A7C15L))
        graft.ext.AudioFp.fingerprint(wav).getOrElse(-1L)
      }.filter(_ != -1L).count()
    }

    // the round-14 lossy arms, full encode + decode + fingerprint per
    // doc (the heaviest honest per-doc cost: a real corpus only pays the
    // DECODE half) — map-only, watch µs/doc flatness
    timed("mp3_fp") {
      ds.map { case (id, _) =>
        val mp3 = graft.ext.Mp3Enc.encode(
          graft.ext.AudioFp.synthSamples(id * 0x9E3779B97F4A7C15L))
        graft.ext.AudioFp.fingerprint(mp3).getOrElse(-1L)
      }.filter(_ != -1L).count()
    }

    timed("vorbis_fp") {
      ds.map { case (id, _) =>
        val ogg = graft.ext.VorbisEnc.encode(
          graft.ext.AudioFp.synthSamples(id * 0x9E3779B97F4A7C15L))
        graft.ext.AudioFp.fingerprint(ogg).getOrElse(-1L)
      }.filter(_ != -1L).count()
    }

    // round-15 lossy VP8 arm: full key-frame encode + pixel decode +
    // aHash per doc (real corpora pay only the decode half) — map-only
    timed("webp_lossy") {
      ds.map { case (id, _) =>
        val px = new Array[Byte](32 * 32 * 3)
        var i = 0
        while (i < px.length) { px(i) = ((id * 31 + i * 7) % 256).toByte; i += 1 }
        val webp = graft.ext.Vp8Enc.encode(
          graft.ext.Png.Image(32, 32, 3, px), 8, 3)
        graft.ext.Vp8.decode(webp)
          .map(y => graft.ext.Png.aHash(graft.ext.Vp8.toPngImage(y)))
          .getOrElse(-1L)
      }.filter(_ != -1L).count()
    }

    // round-16 WebM thumbnail arm: VP8 keyframe encode + EBML wrap +
    // container walk + keyframe pixel decode + aHash per doc (the video
    // membership cost in the image dedup cell) — map-only
    timed("webm_thumb") {
      ds.map { case (id, _) =>
        val px = new Array[Byte](32 * 32 * 3)
        var i = 0
        while (i < px.length) { px(i) = ((id * 37 + i * 11) % 256).toByte; i += 1 }
        val webm = graft.ext.Webm.wrapWebpLossy(graft.ext.Vp8Enc.encode(
          graft.ext.Png.Image(32, 32, 3, px), 8, 3)).getOrElse(Array.emptyByteArray)
        graft.ext.Webm.decodeFirstFrame(webm)
          .map(graft.ext.Png.aHash)
          .getOrElse(-1L)
      }.filter(_ != -1L).count()
    }

    // round-16 CCITT fax arm: bilevel G4 encode + strip decode per doc
    // (the scanned-document compression) — map-only
    timed("tiff_g4") {
      ds.map { case (id, _) =>
        val gray = new Array[Byte](64 * 24)
        var i = 0
        while (i < gray.length) {
          gray(i) = if ((id * 7 + (i / 64) * 5 + (i % 64) * 3) % 11 < 4) 0x00
            else 0xFF.toByte
          i += 1
        }
        val t = graft.ext.TiffImg.buildBilevel(
          graft.ext.Png.Image(64, 24, 1, gray), 4)
        graft.ext.TiffImg.decode(t).map(img =>
          img.pixels.count(_ == 0).toLong).getOrElse(-1L)
      }.filter(_ != -1L).count()
    }

    // mixed-format dispatch end-to-end: 6 rotating families through the
    // engine pipeline (sniff -> arms -> gate)
    timed("dispatch_mixed") {
      val media = ds.map { case (id, text) =>
        val payload = (id % 6).toInt match {
          case 0 => graft.ext.MsDoc.build(Seq((text + "\r", false)))
          case 1 => graft.ext.Rtf.build(text).getBytes("US-ASCII")
          case 2 => graft.ext.Mhtml.build(s"P$id", "https://e",
            s"<html><body><p>$text</p></body></html>", Seq.empty)
          case 3 => graft.ext.Ppt.build(Seq(text))
          case 4 =>
            ("BEGIN:VCALENDAR\r\nBEGIN:VEVENT\r\nSUMMARY:x\r\n" +
              "END:VEVENT\r\nEND:VCALENDAR\r\n").getBytes("UTF-8")
          case _ => graft.ext.Png.encode(graft.ext.Png.Image(
            (8 + id % 16).toInt, 8, 1, Array.fill((8 + id % 16).toInt * 8)(1.toByte)))
        }
        (id, payload)
      }.toDF("media_id", "payload")
      val n = new graft.engine.Engine(graft.ext.CurateDispatch.spec())
        .run("curate_dispatch", spark, Some(media),
          graft.engine.RunOptions(orderedConcat = false))
        .count()
      graft.ext.CurateDispatch.releaseCached()
      n
    }

    spark.stop()
  }
}
