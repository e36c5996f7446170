package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.SparkSpec
import graft.ext.Png
import graft.functions.MinHashAggregator

/** [[Plants]] and `MinHashAggregator.splitmix64` against the inline forms
  * they replaced ([[PlantsReference]]), plus the exchange of
  * [[Plants.spread]].
  */
class PlantsSpec extends SparkSpec {

  test("splitmix64 equals the inline body on 10 000 seeded inputs and the edge values") {
    val rnd = new scala.util.Random(20261017L)
    val inputs = Seq.fill(10000)(rnd.nextLong()) ++
      Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    inputs.foreach(z => assert(MinHashAggregator.splitmix64(z) == PlantsReference.splitmix64(z), s"z=$z"))
  }

  test("gridRaster equals the inline raster and its aHash is exactly the planted target") {
    (0L until 2000L).foreach { id =>
      val h = (MinHashAggregator.splitmix64(id) | 1L) & ~(1L << 63)
      val img = Plants.gridRaster(h)
      assert(img.pixels.sameElements(PlantsReference.gridRaster(h).pixels), s"id=$id")
      assert(Png.aHash(img) == h, s"id=$id")
      if (id % 100 == 0) assert(Png.aHash(Png.decode(Png.encode(img)).get) == h, s"id=$id")
    }
  }

  test("JpegWriter bytes equal the inline ImageIO sequence for every block-gray generator") {
    // (label, progressive, gray(id, frame)(block)) — one entry per query
    val generators: Seq[(String, Boolean, (Long, Int) => Int => Int)] = Seq(
      ("q_jpeg_stats / q_jpeg_imageio", false,
        (id, _) => b => ((id * 7 + 13 + 29 * b) % 256).toInt),
      ("q_jpeg_progressive", true,
        (id, _) => b => ((id * 7 + 13 + 29 * b) % 256).toInt),
      ("q_avi_frames", false,
        (id, f) => b => ((id * 7 + 13 + 29 * b + 11 * f) % 256).toInt),
      ("q_mp4_frames", false,
        (id, f) => b => ((id * 11 + 17 + 23 * b + 7 * f) % 256).toInt),
      ("q_exif_meta", false,
        (id, _) => b => ((id * 13 + 29 + 17 * b) % 256).toInt),
      ("q_media_curate_engine", false,
        (id, _) => b => ((id % 250 * 3 + 37 + 19 * b) % 256).toInt))
    generators.foreach { case (label, progressive, gray) =>
      val jpeg = new Plants.JpegWriter(progressive) // reused, as per partition
      for (id <- 0L until 40L; f <- 0 until 3) {
        val ours = jpeg.encode(Plants.grayBlocks(gray(id, f)))
        val ref = PlantsReference.blockJpeg(gray(id, f), progressive)
        assert(ours.sameElements(ref), s"$label id=$id frame=$f")
      }
    }
  }

  test("the Exif and TIFF fixtures equal their inline IFD writers, both byte orders") {
    (0L until 3000L).foreach { id =>
      assert(Plants.exifMetaTiff(id).sameElements(PlantsReference.exifMetaTiff(id)), s"exif id=$id")
      assert(Plants.copyExifTiff(id).sameElements(PlantsReference.copyExifTiff(id)), s"copy id=$id")
      // even ids little-endian, odd ids big-endian
      assert(Plants.scanTiff(id).sameElements(PlantsReference.scanTiff(id)), s"scan id=$id")
    }
    for (orientation <- 0 to 9; gps <- Seq(false, true))
      assert(Plants.orientationTiff(orientation, gps)
        .sameElements(PlantsReference.orientationTiff(orientation, gps)), s"o=$orientation gps=$gps")
  }

  test("the q_png4_stats and q_warc_gzip fixtures on Codecs equal their inline deflate writers") {
    val rnd = new scala.util.Random(20261019L)
    val words = Seq("gasket", "spark", "stage", "pipe", "deflate", "member", "chunk")
    (0L until 3000L).foreach { id =>
      assert(Plants.palette4Png(id).sameElements(PlantsReference.palette4Png(id)), s"png4 id=$id")
      // empty, one-word and long texts; even ids take the gzip content-coding
      val text = Seq.fill(rnd.nextInt(3) match { case 0 => 0; case 1 => 1; case _ => 200 })(
        words(rnd.nextInt(words.length))).mkString(" ")
      assert(Plants.chunkedWarcGz(id, text).sameElements(PlantsReference.chunkedWarcGz(id, text)),
        s"warc id=$id text=${text.take(40)}")
    }
  }

  test("the MP4 certificate boxes built on Mp4.box equal their own-box-writer forms") {
    import ExtQueries.{Mp4Build => Ours}
    import PlantsReference.{Mp4Build => Ref}
    def same(a: Array[Byte], b: Array[Byte], clue: String): Unit = assert(a.sameElements(b), clue)
    (0L until 500L).foreach { id =>
      val (w, h) = ((320 + (id % 16) * 16).toInt, (240 + (id % 9) * 16).toInt)
      same(Ours.ftyp("isom"), Ref.ftyp("isom"), "ftyp")
      same(Ours.mvhd(1000 + id, 30000 + id * 40), Ref.mvhd(1000 + id, 30000 + id * 40), s"mvhd $id")
      same(Ours.tkhd(id, w, h), Ref.tkhd(id, w, h), s"tkhd $id")
      same(Ours.mdhd(90000, id * 3600), Ref.mdhd(90000, id * 3600), s"mdhd $id")
      same(Ours.hdlr("vide"), Ref.hdlr("vide"), "hdlr")
      same(Ours.stsd("jpeg"), Ref.stsd("jpeg"), "stsd")
      same(Ours.stts(25 + id, 3600), Ref.stts(25 + id, 3600), s"stts $id")
      same(Ours.stszUniform(500 + id, 25 + id), Ref.stszUniform(500 + id, 25 + id), s"stsz $id")
      val sizes = (0 until (id % 7).toInt).map(k => (id * 37 + k * 101).toInt)
      same(Ours.stszSizes(sizes), Ref.stszSizes(sizes), s"stszSizes $id")
      same(Ours.stsc(id), Ref.stsc(id), s"stsc $id")
      same(Ours.stco(sizes.map(_.toLong * 3)), Ref.stco(sizes.map(_.toLong * 3)), s"stco $id")
      same(Ours.trak(Ours.tkhd(1, w, h), Ours.mdhd(90000, id), Ours.hdlr("soun"), Ours.stts(id, 960)),
        Ref.trak(Ref.tkhd(1, w, h), Ref.mdhd(90000, id), Ref.hdlr("soun"), Ref.stts(id, 960)), s"trak $id")
    }
  }

  test("framePixelSums equals the inline sampled-frame tail over planted MP4 videos") {
    import spark.implicits._
    import ExtQueries.Mp4Build._
    import graft.ext.Mp4.box
    val jpeg = new Plants.JpegWriter()
    val media = (0L until 12L).map { id =>
      val jpgs = (0 until 6).map { f =>
        jpeg.encode(Plants.grayBlocks(b => ((id * 11 + 17 + 23 * b + 7 * f) % 256).toInt))
      }
      val header = ftyp("isom")
      val moov = box("moov", mvhd(1000, 240),
        trak(tkhd(1, 16, 16), mdhd(90000, 6 * 3600), hdlr("vide"),
          stsd("jpeg"), stts(6, 3600), stszSizes(jpgs.map(_.length)),
          stsc(6), stco(Seq(header.length + 8L))))
      (id, header ++ box("mdat", jpgs: _*) ++ moov)
    }.toDF("media_id", "payload")
    val ours = Plants.framePixelSums(media).orderBy("media_id", "frame_no")
    val ref = PlantsReference.framePixelSums(media).orderBy("media_id", "frame_no")
    assert(ours.schema == ref.schema)
    val rows = ours.collect().toSeq
    assert(rows.size == 12 * 3)
    assert(rows == ref.collect().toSeq)
  }

  private val pairSchema = StructType.fromDDL("id1 BIGINT, id2 BIGINT, hamming INT")

  private def imageAnchorSummary(pairs: DataFrame): DataFrame =
    Plants.pairSummary(pairs,
      "n_cross_family" -> Plants.crossFamily,
      "n_near_pairs" -> Plants.countIf(col("hamming") === 3),
      "n_exact_pairs" -> Plants.countIf(col("hamming") === 0),
      "n_bad_hamming" -> Plants.countIf(col("hamming") =!= 0 && col("hamming") =!= 3))

  test("pairSummary over an empty pair set is one row of non-null zeros with the inline schema") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pairSchema)
    val ours = imageAnchorSummary(empty)
    val ref = PlantsReference.imageAnchorSummary(empty)
    assert(ours.schema == ref.schema)
    assert(ours.schema.fieldNames.toSeq ==
      Seq("n_pairs", "n_cross_family", "n_near_pairs", "n_exact_pairs", "n_bad_hamming"))
    assert(ours.schema.forall(f => f.dataType == LongType && !f.nullable))
    assert(ours.collect().toSeq == Seq(Row(0L, 0L, 0L, 0L, 0L)))
    assert(ours.queryExecution.optimizedPlan.sameResult(ref.queryExecution.optimizedPlan))
  }

  test("pairSummary over planted pairs equals the inline summary") {
    val pairs = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 90001L, 3), Row(2L, 180002L, 0), Row(3L, 4L, 5), Row(5L, 90005L, 0))), pairSchema)
    val ours = imageAnchorSummary(pairs)
    assert(ours.collect().toSeq == Seq(Row(4L, 1L, 1L, 2L, 1L)))
    assert(ours.collect().toSeq == PlantsReference.imageAnchorSummary(pairs).collect().toSeq)
  }

  test("top10 is the inline select/orderBy/limit tail") {
    val scores = spark.range(40).select(col("id").as("vec_id"),
      (lit(1.0) / (pmod(col("id"), lit(7)) + 1) + lit(1e-9) * col("id")).as("score"))
    val ours = Plants.top10(scores)
    val ref = PlantsReference.top10(scores)
    assert(ours.queryExecution.optimizedPlan.sameResult(ref.queryExecution.optimizedPlan))
    assert(ours.collect().toSeq == ref.collect().toSeq)
    assert(ours.count() == 10)
  }

  private def roundRobinExchanges(df: DataFrame): Int =
    "RoundRobinPartitioning".r.findAllMatchIn(df.queryExecution.executedPlan.toString).size

  private def docIds(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("spread keeps the round-robin exchange over the single-split sf0.001 documents scan") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val spread = Plants.spread(docs)
    assert(roundRobinExchanges(spread) == 1)
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(docIds(spread) == docIds(docs))
  }

  test("spread keeps the exchange when one single-row-group file is cut into many splits") {
    // Spark cuts a parquet file into byte ranges whatever its row groups,
    // and only the range holding a row group's midpoint reads it: the
    // scan has defaultParallelism splits but one task holds every row.
    val par = spark.sparkContext.defaultParallelism
    val dir = Files.createTempDirectory("graft-plants-spread")
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    try {
      val path = dir.resolve("documents").toString
      Tables.documents(spark, sfDir).select("doc_id", "text")
        .coalesce(1).write.parquet(path)
      val bytes = new java.io.File(path).listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      spark.conf.set(key, math.max(1L, bytes / (2 * par)))
      val docs = spark.read.parquet(path).select(col("doc_id"))
      assert(docs.rdd.getNumPartitions >= par)
      assert(docs.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0) == 1)
      val spread = Plants.spread(docs)
      assert(roundRobinExchanges(spread) == 1)
      assert(docIds(spread) == docIds(Tables.documents(spark, sfDir)))
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
  }

  test("the spread exchange is still planned in the sf0.001 head queries") {
    Seq("q_dedup_image_orient_anchor", "q_web_curate_engine").foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      assert(roundRobinExchanges(df) >= 1, name)
      CacheUtils.releaseAll(spark)
    }
  }
}
