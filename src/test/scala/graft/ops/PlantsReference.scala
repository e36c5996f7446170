package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The inline forms the [[Plants]] helpers replace in the [[ExtQueries]]
  * certificates, kept verbatim as the reference the helpers are checked
  * against.
  */
object PlantsReference {

  def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def gridRaster(h: Long): graft.ext.Png.Image = {
    val px = new Array[Byte](16 * 16)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val bit = (y / 2) * 8 + (x / 2)
        px(y * 16 + x) =
          if (((h >>> bit) & 1L) == 1L) 0xFF.toByte else 0x00.toByte
        x += 1
      }
      y += 1
    }
    graft.ext.Png.Image(16, 16, 1, px)
  }

  /** The four-block raster and its quality-1.0 JPEG encode, one writer per
    * image, `gray` evaluated per pixel as the queries did.
    */
  def blockJpeg(gray: Int => Int, progressive: Boolean = false): Array[Byte] = {
    graft.ext.Png.jdkImageIoInit
    val bi = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val blk = (y / 8) * 2 + (x / 8)
        val g = gray(blk)
        bi.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    if (progressive) p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), p)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  /** q_dedup_image_anchor's summary as it was written inline. */
  def imageAnchorSummary(pairs: DataFrame): DataFrame =
    pairs
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("id1") % 90000 =!= col("id2") % 90000, 1L)
          .otherwise(0L)).as("n_cross_family"),
        sum(when(col("hamming") === 3, 1L).otherwise(0L)).as("n_near_pairs"),
        sum(when(col("hamming") === 0, 1L).otherwise(0L)).as("n_exact_pairs"),
        sum(when(col("hamming") =!= 0 && col("hamming") =!= 3, 1L)
          .otherwise(0L)).as("n_bad_hamming"))
      .select(
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_cross_family"), lit(0L)).as("n_cross_family"),
        coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"),
        coalesce(col("n_exact_pairs"), lit(0L)).as("n_exact_pairs"),
        coalesce(col("n_bad_hamming"), lit(0L)).as("n_bad_hamming"))

  def top10(scores: DataFrame): DataFrame =
    scores
      .select(col("vec_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
}
