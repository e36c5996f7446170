package graft.tools

import org.apache.spark.sql.functions._

/** Round-7 scale soak: the new operator families at 10–100× the sf0.1
  * corpus — quantized k-means over 1 M vectors, frontier BFS over a
  * multi-million-edge power-law graph, the Aho-Corasick blocklist gate
  * and WordPiece segmentation over millions of documents, and the
  * corpus-sketch overlap estimate. Prints per-unit costs for PERF.md.
  *
  * Usage: runMain graft.tools.AnalyticsSoak [nDocs] [nVecs] [nEdges]
  *        (defaults 2M, 1M, 8M)
  */
object AnalyticsSoak {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nVecs = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val nEdges = args.lift(2).map(_.toLong).getOrElse(8000000L)
    val spark = Harness.session(32, 64)
    // optional 4th arg: comma-separated substrings — only stages whose
    // name contains one run (the ScaleSoak re-measurement loop)
    val stages = new Harness.Stages(spark, "asoak", args.lift(3))
    def timed(name: String, units: Long)(body: => Long): Unit =
      stages(name, units, "unit")(body)

    // ---- text family over the ScaleSoak corpus, MATERIALIZED to parquet
    // once: releaseAll between stages would otherwise drop an in-memory
    // persist and every later stage would re-pay corpus generation inside
    // its own timing (the round-7 wordpiece_stats artifact)
    val docs = ScaleSoak.docs(spark, nDocs)
    println(s"[asoak] docs=${docs.count()} vecs=$nVecs edges=$nEdges")
    timed("blocklist_gate", nDocs) {
      docs.select(col("doc_id"),
          graft.functions.MultiMatch.multi_match_count(col("text"),
            Seq("w1 w2", "w17", "w3 w4 w5", "w999", "w42 w43")).as("n"))
        .filter(col("n") > 0).count()
    }
    val vocab = graft.ext.WordPiece.train(
      docs.sample(0.005, 42), "text", numMerges = 64)
    timed("wordpiece_stats", nDocs) {
      docs.select(graft.functions.WordPieceOps
          .wordpiece_stats(col("text"), vocab).as("st"))
        .agg(sum("st.n_pieces")).collect().length.toLong
    }
    timed("classifier_train_5it", nDocs) {
      // hashed-feature logistic training at corpus scale: featurize once
      // (two keyed aggs), then 5 treeAggregate gradient steps — per-step
      // cost is the map-only margin pass; the fan-in ships one dim+1
      // vector per partition
      val labeled = docs.withColumn("_y",
        pmod(hash(col("doc_id")), lit(2)).cast("int"))
      graft.ext.Classifier.train(labeled, "doc_id", "text", "_y",
        dim = 1 << 12, iters = 5, lr = 1.0).weights.length.toLong
    }
    val gateW = Array.tabulate((1 << 12) + 1)(j =>
      ((j * 2654435761L % 997).toDouble / 997.0) - 0.5)
    val gateModel = graft.ext.Classifier.Model(gateW, 1 << 12)
    timed("classifier_score_hof", nDocs) {
      // baseline: the composable aggregate(transform(...)) form — an
      // interpreted lambda per token (kept as the measured twin)
      graft.ext.Classifier.score(docs, "doc_id", "text", gateModel,
        graft.ext.Classifier.hashIndex(_, 1 << 12))
        .filter(col("score") > 0.5).count()
    }
    timed("classifier_score_fast", nDocs) {
      // the fused gate kernel over the whole corpus: one map-only pass,
      // no token arrays — the shape that runs at 100 TB (bit-equal to
      // the baseline above, ClassifierSpec property)
      graft.ext.Classifier.scoreFast(docs, "doc_id", "text", gateModel)
        .filter(col("score") > 0.5).count()
    }
    timed("png_decode_hash_200k", 200000) {
      // real-codec media path at scale: 200 k synthetic 32×32 RGB PNGs
      // (encoded by the same codec) → full pixel decode + aHash +
      // pixel checksum per image, one mapPartitions pass
      import spark.implicits._
      val media = spark.range(0, 200000, 1, 64).as[Long]
        .map { id =>
          val px = Array.tabulate(32 * 32 * 3)(i =>
            ((id * 31 + i.toLong * 7) % 256).toByte)
          (id, graft.ext.Png.encode(graft.ext.Png.Image(32, 32, 3, px)))
        }.toDF("media_id", "payload")
        .withColumn("media_type", lit("image/png"))
        .withColumn("byte_len", length(col("payload")).cast("long"))
      graft.ext.Multimodal.perceptualHashes(media)
        .toDF().agg(count(lit(1))).head().getLong(0)
    }
    // the JPEG twin of the PNG stage: 100 k synthetic 32×32 RGB JPEGs,
    // JDK-encoded ONCE to parquet (writer hoisted per partition — the
    // encode is test-harness cost, not the serve path), then the timed
    // stage is the production multimodal serve path alone: full pixel
    // decode through the PURE T.81 codec (decodeAny routes JPEG there)
    // + aHash + pixel checksum, one mapPartitions pass
    val jpegDir = "/tmp/graft_asoak_jpeg_100k"
    if (stages.selected("jpeg_decode_hash_100k")) Harness.materialize(spark, jpegDir) {
      import spark.implicits._
      spark.range(0, 100000, 1, 64).as[Long]
        .mapPartitions { ids =>
          graft.ext.Png.jdkImageIoInit // headless + no disk cache, once per JVM
          val writer = javax.imageio.ImageIO
            .getImageWritersByFormatName("jpeg").next()
          ids.map { id =>
            val bi = new java.awt.image.BufferedImage(32, 32,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var p = 0
            while (p < 32 * 32) {
              val v = ((id * 31 + p.toLong * 7) % 256).toInt
              bi.setRGB(p % 32, p / 32,
                (v << 16) | (((v * 3) & 0xFF) << 8) | ((255 - v) & 0xFF))
              p += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
            writer.setOutput(ios)
            val wp = writer.getDefaultWriteParam
            wp.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
            wp.setCompressionQuality(0.85f)
            writer.write(null, new javax.imageio.IIOImage(bi, null, null), wp)
            ios.close()
            (id, bos.toByteArray)
          }
        }.toDF("media_id", "payload")
    }
    timed("jpeg_decode_hash_100k", 100000) {
      val media = spark.read.parquet(jpegDir)
        .withColumn("media_type", lit("image/jpeg"))
        .withColumn("byte_len", length(col("payload")).cast("long"))
      graft.ext.Multimodal.perceptualHashes(media)
        .toDF().agg(count(lit(1))).head().getLong(0)
    }
    // ---- container-metadata triage (round 10): a mixed crawl-audio/video
    // slice — MP3 frame chains, Ogg/Opus pages, two-track MP4 moov trees —
    // scanned by all three triage arms (each sniffs its own magic and
    // drops the rest, the realistic dispatch for an untyped blob column)
    val triage = Harness.materialize(spark, "/tmp/graft_asoak_media_600k") {
      import spark.implicits._
      spark.range(0, 600000, 1, 64).as[Long]
        .mapPartitions { ids =>
          def be32(v: Long): Array[Byte] = Array(((v >>> 24) & 0xFF).toByte,
            ((v >>> 16) & 0xFF).toByte, ((v >>> 8) & 0xFF).toByte, (v & 0xFF).toByte)
          def box(tpe: String, parts: Array[Byte]*): Array[Byte] = {
            val n = 8 + parts.map(_.length).sum
            be32(n) ++ tpe.getBytes("US-ASCII") ++ parts.flatten
          }
          ids.map { id =>
            val payload = (id % 3) match {
              case 0 => // MP3: 10-frame MPEG1 L3 CBR chain
                val f = new Array[Byte](417)
                f(0) = 0xFF.toByte; f(1) = 0xFB.toByte; f(2) = 0x90.toByte
                Array.fill(10)(f).flatten
              case 1 => // Ogg/Opus: BOS + EOS page
                val head = "OpusHead".getBytes ++ Array[Byte](1, 2) ++
                  Array[Byte](56, 1) ++ Array[Byte](0x80.toByte, 0xBB.toByte, 0, 0) ++
                  Array[Byte](0, 0, 0)
                graft.ext.Ogg.page(2, 0, id, 0, head) ++
                  graft.ext.Ogg.page(4, 48000 + (id % 1000), id, 1,
                    new Array[Byte](64))
              case _ => // MP4: ftyp + two-track moov, metadata only
                val mvhd = { val p = new Array[Byte](100)
                  System.arraycopy(be32(1000), 0, p, 12, 4)
                  System.arraycopy(be32(30000 + id % 1000), 0, p, 16, 4)
                  box("mvhd", p) }
                def track(tid: Int, handler: String, codec: String) = {
                  val tk = { val p = new Array[Byte](84)
                    System.arraycopy(be32(tid), 0, p, 12, 4); box("tkhd", p) }
                  val md = { val p = new Array[Byte](24)
                    System.arraycopy(be32(90000), 0, p, 12, 4)
                    System.arraycopy(be32(90000 + id % 9000), 0, p, 16, 4)
                    box("mdhd", p) }
                  val hd = box("hdlr", new Array[Byte](8),
                    handler.getBytes("US-ASCII"), new Array[Byte](13))
                  val sd = box("stsd", new Array[Byte](4), be32(1), be32(16),
                    codec.getBytes("US-ASCII"), new Array[Byte](8))
                  val tt = box("stts", new Array[Byte](4), be32(1),
                    be32(100 + id % 50), be32(3600))
                  val sz = box("stsz", new Array[Byte](4), be32(512),
                    be32(100 + id % 50))
                  box("trak", tk, box("mdia", md, hd, box("minf",
                    box("stbl", sd, tt, sz))))
                }
                box("ftyp", "isom".getBytes("US-ASCII"), be32(0)) ++
                  box("moov", mvhd, track(1, "vide", "avc1"),
                    track(2, "soun", "mp4a"))
            }
            (id, payload)
          }
        }.toDF("media_id", "payload")
    }
    timed("media_triage_600k", 600000) {
      graft.ext.Multimodal.mpegMeta(triage).toDF().agg(count(lit(1))).head().getLong(0) +
        graft.ext.Multimodal.oggMeta(triage).toDF().agg(count(lit(1))).head().getLong(0) +
        graft.ext.Multimodal.mp4Meta(triage).toDF().agg(count(lit(1))).head().getLong(0)
    }
    // ---- sniff dispatch + WebP triage (round 11): the modern-web image
    // slice — WebP lossy/lossless/extended, HEIC and AVIF ftyp brands —
    // through the format sniff (must NOT land on mp4/unknown) and the
    // WebP chunk-walk arm
    val webImages = Harness.materialize(spark, "/tmp/graft_asoak_webimg_600k") {
      import spark.implicits._
      spark.range(0, 600000, 1, 64).as[Long]
        .mapPartitions { ids =>
          import graft.ext.Webp
          ids.map { id =>
            val payload = (id % 5) match {
              case 0 => Webp.container(Webp.lossyChunk(
                (16 + id % 1024).toInt, (16 + id % 512).toInt))
              case 1 => Webp.container(Webp.losslessChunk(
                (1 + id % 4096).toInt, (1 + id % 4096).toInt, id % 2 == 0))
              case 2 => Webp.extended((100 + id % 4000).toInt,
                (100 + id % 2000).toInt, icc = id % 5 == 0,
                alpha = id % 2 == 0, exif = id % 7 == 0, anim = id % 3 == 0,
                Webp.losslessChunk(8, 8, alpha = false))
              case 3 => Array[Byte](0, 0, 0, 16) ++
                "ftypheic".getBytes("US-ASCII") ++ new Array[Byte](8)
              case _ => Array[Byte](0, 0, 0, 16) ++
                "ftypavif".getBytes("US-ASCII") ++ new Array[Byte](8)
            }
            (id, payload)
          }
        }.toDF("media_id", "payload")
    }
    timed("sniff_webp_600k", 600000) {
      val named = graft.ext.Multimodal.sniffMedia(webImages)
        .filter(col("format").isin("webp", "heic", "avif"))
        .agg(count(lit(1))).head().getLong(0)
      require(named == 600000L, s"sniff misrouted: $named/600000")
      named + graft.ext.Multimodal.webpMeta(webImages).toDF()
        .agg(count(lit(1))).head().getLong(0)
    }
    // ---- mixed-format dispatch curation (round 11): the realistic
    // untyped-blob landing — six families sniffed and routed through the
    // engine-declared CurateDispatch pipeline (sniff → five arms over one
    // persisted corpus → gate), end to end at 600 k payloads
    val mixed = Harness.materialize(spark, "/tmp/graft_asoak_dispatch_600k") {
      import spark.implicits._
      spark.range(0, 600000, 1, 64).as[Long]
        .mapPartitions { ids =>
          import graft.ext.{Png, Webp, Zip, Pdf, Mp4}
          ids.map { id =>
            val payload: Array[Byte] = (id % 8).toInt match {
              case 0 =>
                val w = (8 + id % 16).toInt; val h = (8 + id % 8).toInt
                Png.encode(Png.Image(w, h, 1,
                  Array.fill(w * h)((id % 251).toByte)))
              case 1 => Webp.container(Webp.losslessChunk(
                (1 + id % 3000).toInt, (1 + id % 2000).toInt, alpha = false))
              case 2 =>
                val f = new Array[Byte](417)
                f(0) = 0xFF.toByte; f(1) = 0xFB.toByte; f(2) = 0x90.toByte
                Array.fill((20 + id % 30).toInt)(f).flatten
              case 3 => Zip.build(Seq(("word/document.xml",
                ("<w:document><w:body><w:p><w:r><w:t>dispatch doc " + id +
                  "</w:t></w:r></w:p></w:body></w:document>").getBytes("UTF-8"),
                true)))
              case 4 => Pdf.buildSimple(
                Seq("dispatch pdf " + id, "line two " + id % 97),
                flate = id % 2 == 0)
              case 5 => ("plain text payload " + id).getBytes("UTF-8")
              case 6 => Mp4.HeifBuild.still("heic", "hvc1",
                (640 + id % 2000).toInt, (480 + id % 1000).toInt)
              case _ => Mp4.HeifBuild.still("avif", "av01",
                (320 + id % 1000).toInt, (240 + id % 500).toInt)
            }
            (id, payload)
          }
        }.toDF("media_id", "payload")
    }
    timed("curate_dispatch_600k", 600000) {
      val out = new graft.engine.Engine(graft.ext.CurateDispatch.spec())
        .run("curate_dispatch", spark, Some(mixed),
          graft.engine.RunOptions(orderedConcat = false))
      val n = out.agg(count(lit(1))).head().getLong(0)
      require(n == 525000L, s"dispatch gate kept $n/525000") // 7 of 8 families
      n
    }
    // ---- crawl-landing WARC streaming (round 11): eight rows, each one
    // .warc.gz whose INFLATED size exceeds the ≤2 GiB single-array JVM
    // cap (40 × 60 MiB zero-body records per blob; compressed ~2.4 MB).
    // The round-10 whole-blob concatenation dies here with
    // OutOfMemoryError regardless of heap — the member-streaming walk
    // flatMaps records through each task with one member in flight.
    val warcGz = Harness.materialize(spark, "/tmp/graft_asoak_warcgz_8") {
      import spark.implicits._
      spark.range(0, 8, 1, 8).as[Long]
        .map { id =>
          val payloadLen = 60 * 1024 * 1024
          val hdr = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
            s"WARC-Target-URI: https://soak.example/$id\r\n" +
            s"Content-Length: $payloadLen\r\n\r\n").getBytes("ISO-8859-1")
          val bos = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bos, 64 * 1024)
          g.write(hdr); g.write(new Array[Byte](payloadLen))
          g.write("\r\n\r\n".getBytes); g.close()
          val member = bos.toByteArray
          val blob = new Array[Byte](member.length * 40)
          (0 until 40).foreach(k =>
            System.arraycopy(member, 0, blob, k * member.length, member.length))
          (id, blob)
        }
        .toDF("doc_id", "warc")
    }
    timed("warc_gz_2gib_rows", 8L * 40) {
      import spark.implicits._
      val recs = graft.ext.Warc.records(
        warcGz, "doc_id", "warc")
      val row = recs.selectExpr("count(*) AS c",
        "sum(content_length) AS cl", "sum(length(body)) AS bl").head()
      val (c, cl, bl) = (row.getLong(0), row.getLong(1), row.getLong(2))
      require(c == 320L && cl == bl && cl == 320L * 60 * 1024 * 1024,
        s"warc streaming mismatch: c=$c cl=$cl bl=$bl")
      require(cl / 8 > Int.MaxValue.toLong, "per-row inflated must exceed 2 GiB")
      c
    }
    // ---- the SAME crawl-landing shape over zstd (round 12): modern
    // corpus distributions (.warc.zst / .jsonl.zst) frame per append, and
    // the inflated stream walks as bounded slabs (Codecs.chunks) rather
    // than gzip's member iterator — the heap bound must hold identically
    // past the 2 GiB single-array cap.
    val warcZst = Harness.materialize(spark, "/tmp/graft_asoak_warczst_8") {
      import spark.implicits._
      spark.range(0, 8, 1, 8).as[Long]
        .map { id =>
          val payloadLen = 60 * 1024 * 1024
          val hdr = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
            s"WARC-Target-URI: https://soak.example/zst/$id\r\n" +
            s"Content-Length: $payloadLen\r\n\r\n").getBytes("ISO-8859-1")
          val rec = new Array[Byte](hdr.length + payloadLen + 4)
          System.arraycopy(hdr, 0, rec, 0, hdr.length)
          System.arraycopy("\r\n\r\n".getBytes, 0, rec, hdr.length + payloadLen, 4)
          // one frame per record × 40 — the appended-shard framing
          val frame = graft.ext.Codecs.zstd(rec, 3)
          val blob = new Array[Byte](frame.length * 40)
          (0 until 40).foreach(k =>
            System.arraycopy(frame, 0, blob, k * frame.length, frame.length))
          (id, blob)
        }
        .toDF("doc_id", "warc")
    }
    timed("warc_zst_2gib_rows", 8L * 40) {
      import spark.implicits._
      val recs = graft.ext.Warc.records(
        warcZst, "doc_id", "warc")
      val row = recs.selectExpr("count(*) AS c",
        "sum(content_length) AS cl", "sum(length(body)) AS bl").head()
      val (c, cl, bl) = (row.getLong(0), row.getLong(1), row.getLong(2))
      require(c == 320L && cl == bl && cl == 320L * 60 * 1024 * 1024,
        s"warc zst streaming mismatch: c=$c cl=$cl bl=$bl")
      require(cl / 8 > Int.MaxValue.toLong, "per-row inflated must exceed 2 GiB")
      c
    }
    // ---- office/archive extraction (round 10): DOCX, XLSX and TAR
    // blobs built once, extracted by the real container walks — the
    // document-modality twin of media_triage (deflate members, CRC
    // verify, shared-string resolution, checksum-verified tar headers)
    val office = Harness.materialize(spark, "/tmp/graft_asoak_office_300k") {
      import spark.implicits._
      spark.range(0, 300000, 1, 64).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val text = s"soak document $id body " + ("w" + id % 97 + " ") * 40
            val payload = (id % 3) match {
              case 0 =>
                graft.ext.Zip.build(Seq(("word/document.xml",
                  ("<w:document><w:body><w:p><w:r><w:t xml:space=\"preserve\">" +
                    text + "</w:t></w:r></w:p></w:body></w:document>")
                    .getBytes("UTF-8"), true)))
              case 1 =>
                graft.ext.Zip.build(Seq(
                  ("xl/sharedStrings.xml",
                    s"<sst><si><t>$text</t></si></sst>".getBytes("UTF-8"), true),
                  ("xl/worksheets/sheet1.xml",
                    ("<worksheet><sheetData><row r=\"1\">" +
                      "<c r=\"A1\" t=\"s\"><v>0</v></c>" +
                      s"""<c r="B1"><v>${id % 1000}</v></c></row>""" +
                      "</sheetData></worksheet>").getBytes("UTF-8"), true)))
              case _ =>
                graft.ext.Tar.build(Seq(
                  ("doc.txt", text.getBytes("UTF-8"), '0')), gzip = id % 2 == 0)
            }
            (id, payload)
          }
        }.toDF("media_id", "payload")
    }
    timed("office_extract_300k", 300000) {
      import spark.implicits._
      office.select("media_id", "payload")
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (_, p) =>
          graft.ext.Office.docxText(p)
            .orElse(graft.ext.Office.xlsxText(p))
            .orElse(graft.ext.Tar.read(p, "doc.txt").map(new String(_, "UTF-8")))
            .map(_.length.toLong).getOrElse(0L)
        })
        .toDF("n").agg(sum("n")).head().getLong(0)
    }
    timed("html_extract_2m", nDocs) {
      // WET-style extraction over the whole corpus: wrap each doc in a
      // full page (script raw-text, inline tags per word, entities) and
      // run the codegen'd html_text kernel — map-only, no shuffle. The
      // agg(sum(length)) action forces full materialization (bare count
      // would let Catalyst prune the kernel).
      val html = concat(
        lit("<html><head><script>if (1<2) { alert('</p>'); }</script>" +
          "</head><body><h1>D</h1><p><b>"),
        expr("replace(text, ' ', '</b> <b>')"),
        lit("</b></p><div>&amp;tail</div></body></html>"))
      docs.select(graft.functions.HtmlText.html_text(html).as("t"))
        .agg(sum(length(col("t")))).head().getLong(0)
    }
    timed("boilerplate_2m", nDocs) {
      // line-df boilerplate removal at corpus scale: the distinct-count
      // agg is keyed by line content (table bounded by DISTINCT lines),
      // join-back + ordered reassembly — the 100 TB shape
      val pages = docs.select(col("doc_id"),
        concat(col("text"), lit("\nSHARED FOOTER\nCopyright w"),
          col("doc_id") % 100).as("page"))
      graft.ext.TextAnalysis.stripBoilerplate(pages, "doc_id", "page", maxDf = 1000)
        .agg(sum(col("n_lines_kept"))).head().getLong(0)
    }
    timed("lm_backoff_score", nDocs) {
      // stupid-backoff LM gate at corpus scale: counts train on the
      // %3!=0 slice, EVERY doc is scored — three count aggregations +
      // five keyed joins over the exploded token stream, the heaviest
      // plan in the round-10 set. The agg action forces full scoring.
      graft.ext.TextAnalysis.lmScoreBackoff(
          docs.select(col("doc_id"), col("text")),
          docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text")),
          "doc_id", "text")
        .agg(count(lit(1)), avg(col("avg_nll"))).head().getLong(0)
    }
    timed("corpus_sketch_overlap", nDocs) {
      def sketch(f: org.apache.spark.sql.Column, name: String) =
        docs.filter(f)
          .select(posexplode(graft.functions.MinHashText
            .minhash_word_shingles(col("text"), 3, 128)).as(Seq("pos", "h")))
          .groupBy("pos").agg(min(col("h")).as(name))
      sketch(col("doc_id") % 3 =!= 0, "ha")
        .join(sketch(col("doc_id") % 2 =!= 0, "hb"), "pos")
        .agg(sum(when(col("ha") === col("hb"), 1L).otherwise(0L))).count()
    }
    timed("weighted_sample_top1k", nDocs) {
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
      val u = (h.cast("double") + lit(0.5)) / lit(281474976710656.0)
      docs.select(col("doc_id"),
          (log(u) / (length(col("text")) + 1)).as("k"))
        .orderBy(col("k").desc).limit(1000).count()
    }

    // ---- k-means over the ScaleSoak vectors (32 latent clusters planted
    // by construction)
    val emb = ScaleSoak.vectors(spark, nVecs)
    timed("kmeans_k32_2rounds", nVecs) {
      graft.ext.Cluster.clusterProfile(emb, "vec_id", "embedding",
        k = 32, iters = 2).count()
    }
    timed("mmr_top10_pool100", nVecs) {
      val q = Array.tabulate(64)(i => ((i * 2654435761L % 1000) / 500.0 - 1.0).toFloat)
      graft.ext.Mmr.diversifiedTopK(spark, emb, "vec_id", "embedding", q,
        k = 10, poolSize = 100).count()
    }

    // ---- BFS over the GraphSoak power-law graph
    val edges = GraphSoak.edges(spark, nEdges)
    val m = edges.count()
    timed("bfs_maxhops8", m) {
      graft.ext.Graph.shortestPaths(edges, source = 0L, maxHops = 8).count()
    }
    timed("kcore_k8_3rounds", m) {
      graft.ext.Graph.kCorePeel(edges, k = 8, rounds = 3).count()
    }

    // ---- event-analytics family over a synthetic clickstream
    // (10× the docs count; user/type/ts/value all id-derived)
    val nEv = nDocs * 10
    val ev = Harness.materialize(spark, s"/tmp/graft_asoak_ev_$nEv") {
      spark.range(0, nEv, 1, 64)
        .select(
          col("id").as("event_id"),
          pmod(hash(col("id"), lit(1)), lit(nEv / 200)).cast("long").as("user_id"),
          timestamp_micros(lit(1700000000000000L) +
            pmod(hash(col("id"), lit(2)), lit(2592000L)) * 1000000L).as("ts"),
          element_at(array(lit("view"), lit("click"), lit("purchase"),
            lit("signup"), lit("error")),
            (pmod(hash(col("id"), lit(3)), lit(5)) + 1).cast("int")).as("event_type"),
          (pmod(hash(col("id"), lit(4)), lit(10000)) / 100.0).as("value"))
    }
    val nEvActual = ev.count()
    println(s"[asoak] events=$nEvActual (~${nEv / 200} users)")
    def funnelCount(): Long = {
      import org.apache.spark.sql.functions.{unix_micros => um}
      val e = ev.select(col("user_id"), col("event_type"), um(col("ts")).as("t"))
      val dl = 43200000000L
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("t")).as("mv"))
      val c = e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("t") >= col("mv") && col("t") <= col("mv") + dl)
        .groupBy("user_id").agg(min(col("t")).as("mc"))
      e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("t") >= col("mc") && col("t") <= col("mc") + dl)
        .groupBy("user_id").agg(min(col("t")).as("mp")).count()
    }
    timed("funnel_3stage", nEvActual) { funnelCount() }
    timed("retention_d1_d7", nEvActual) {
      val act = ev.select(col("user_id"),
        floor(unix_micros(col("ts")).cast("double") / lit(86400000000.0))
          .cast("long").as("day")).distinct()
      val coh = act.groupBy("user_id").agg(min(col("day")).as("cohort"))
      coh.join(act, "user_id").groupBy("cohort")
        .agg(countDistinct(col("user_id")).as("n"),
          countDistinct(when(col("day") === col("cohort") + 1, col("user_id"))))
        .count()
    }
    timed("transitions_matrix", nEvActual) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type").agg(count(lit(1)))
        .count()
    }
    spark.stop()
  }
}
