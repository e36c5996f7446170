package graft.ops

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset}

import graft.ext.Png

/** Planted-fixture helpers shared by the [[ExtQueries]] certificates: the
  * per-doc payload synthesis (rasters, JPEG encodes), the spread of a
  * narrow per-doc scan across the session's cores, and the result tails
  * several query families share. Each helper is the single copy of code
  * the queries used to inline; outputs and plans are the inlined forms'.
  */
private[ops] object Plants {

  /** Spread a narrow per-doc scan across the session's cores before
    * CPU-heavy per-row work (codec encodes, synthesis, key stretching):
    * small parquet inputs arrive as ONE split (or one per unioned scan),
    * so without the round-robin exchange the per-doc work runs a single
    * task wide. The exchange is unconditional. A scan's split count is
    * no guide to skipping it: Spark cuts one parquet file into byte
    * ranges whatever its row groups, and only the range holding a row
    * group's midpoint reads it, so a single-row-group file cut into many
    * ranges still reads its rows in one task.
    */
  def spread[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(ds.sparkSession.sparkContext.defaultParallelism)

  /** 16×16 gray raster whose aHash is exactly `h`: aHash grid cell b (a
    * 2×2 pixel block) is 255 when bit b of `h` is set, else 0. Pin a set
    * and a clear bit in `h` so the raster is never uniform.
    */
  def gridRaster(h: Long): Png.Image = {
    val px = new Array[Byte](16 * 16)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val bit = (y / 2) * 8 + (x / 2)
        px(y * 16 + x) = if (((h >>> bit) & 1L) == 1L) 0xFF.toByte else 0x00.toByte
        x += 1
      }
      y += 1
    }
    Png.Image(16, 16, 1, px)
  }

  /** 16×16 RGB image of four solid 8×8 gray blocks, block b (row-major)
    * at gray level `gray(b)`. Blocks aligned to the 8×8 DCT grid survive
    * a quality-1.0 JPEG roundtrip exactly.
    */
  def grayBlocks(gray: Int => Int): BufferedImage = {
    val g = Array.tabulate(4)(gray)
    val bi = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val v = g((y / 8) * 2 + (x / 8))
        bi.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    bi
  }

  /** The JDK ImageIO JPEG writer at quality 1.0, optionally progressive.
    * Build one per partition: the writer is reused across encodes.
    */
  final class JpegWriter(progressive: Boolean = false) {
    Png.jdkImageIoInit // headless + no disk cache, once per JVM
    private val writer = ImageIO.getImageWritersByFormatName("jpeg").next()

    def encode(bi: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      if (progressive) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      writer.write(null, new IIOImage(bi, null, null), p)
      ios.close()
      bos.toByteArray
    }
  }

  /** Count of rows where `cond` holds (null when there are no rows). */
  def countIf(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))

  /** Pairs whose two ids fall in different planted families (family =
    * id mod 90000, the planted-copy offset).
    */
  val crossFamily: Column = countIf(col("id1") % 90000 =!= col("id2") % 90000)

  /** One-row dedup-anchor summary: `n_pairs` then each named aggregate
    * over `pairs`, every column a non-null BIGINT — an empty pair set
    * reads as zeros, not nulls.
    */
  def pairSummary(pairs: DataFrame, aggs: (String, Column)*): DataFrame = {
    val names = "n_pairs" +: aggs.map(_._1)
    pairs
      .agg(count(lit(1)).as("n_pairs"), aggs.map { case (n, c) => c.as(n) }: _*)
      .select(names.map(n => coalesce(col(n), lit(0L)).as(n)): _*)
  }

  /** Vector-search result tail: `vec_id` and the score rounded to 6 dp,
    * best first, ties by id. Ranking on the ROUNDED score makes the order
    * the oracle's.
    */
  def ranked(scores: DataFrame): DataFrame =
    scores.select(col("vec_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))

  /** [[ranked]] cut at 10 rows (compiles to TakeOrderedAndProject). */
  def top10(scores: DataFrame): DataFrame = ranked(scores).limit(10)
}
