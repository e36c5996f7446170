package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.ext.{Codecs, Warc, WebCurate}
import graft.functions.{HtmlText, MinHashText, TextKernels}

/** The kernel pass: the `functions` and `ext` kernels the head queries run
  * per row, called directly on the head corpus's documents, and checked
  * against the same kernels evaluated inside a Spark query.
  */
object Kernels {

  /** Shingle width and signature length of the dedup queries. */
  private val N = 3
  private val K = 64

  private def page(text: String): String = s"<html><body><p>$text</p><div>SHARED FOOTER</div></body></html>"

  /** Per-layer numbers, and the list of checks that failed. */
  def run(spark: SparkSession, corpus: Path): (Map[String, Double], Seq[String]) = {
    import spark.implicits._
    val docs = graft.ops.Tables.documents(spark, corpus.toString)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val texts = docs.map(d => UTF8String.fromString(d._2))
    val pages = docs.map(d => UTF8String.fromString(page(d._2)))
    val blobs = docs.map { case (id, t) => WebCurate.warcGzBlob(id, t) }

    /** Median of three timed passes over all inputs, in nanoseconds. */
    def time[A](xs: Seq[A])(f: A => Any): Double =
      Seq.fill(3) { val t = System.nanoTime(); xs.foreach(f); (System.nanoTime() - t).toDouble }
        .sorted.apply(1)

    val n = docs.size.toDouble
    val gzMb = blobs.map(_.length).sum / 1e6
    val metrics = Map(
      "functions.minhash_ns_per_doc" -> time(texts)(MinHashText.computeWords(_, N, K)) / n,
      "functions.shingles_ns_per_doc" -> time(texts)(TextKernels.computeWordShingles(_, N)) / n,
      "functions.html_text_ns_per_doc" -> time(pages)(HtmlText.compute) / n,
      "ext.gunzip_mb_per_s" -> gzMb / (time(blobs)(b => Codecs.decompress(b)) / 1e9),
      // both rates are of compressed .warc.gz bytes
      "ext.warc_parse_mb_per_s" -> gzMb / (time(blobs)(Warc.parse) / 1e9))

    // the same kernels inside a query, on a sample of the documents
    val sample = docs.take(64)
    val inQuery = sample.toDF("doc_id", "text")
      .select(col("doc_id"),
        MinHashText.minhash_word_shingles(col("text"), N, K).as("sig"),
        TextKernels.word_shingles(col("text"), N).as("sh"),
        HtmlText.html_text(concat(lit("<html><body><p>"), col("text"),
          lit("</p><div>SHARED FOOTER</div></body></html>"))).as("ht"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def arr(a: ArrayData): Seq[Any] = a.array.toSeq.map {
      case s: UTF8String => s.toString
      case other => other
    }
    val failures = sample.flatMap { case (id, text) =>
      val r = inQuery(id)
      val t = UTF8String.fromString(text)
      val blob = WebCurate.warcGzBlob(id, text)
      val jdk = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(blob)).readAllBytes()
      val response = Warc.parse(blob).find(_.warc_type == "response")
      Seq(
        Option.when(arr(MinHashText.computeWords(t, N, K)) != r.getSeq[Any](1))(s"minhash $id"),
        Option.when(arr(TextKernels.computeWordShingles(t, N)) != r.getSeq[Any](2))(s"shingles $id"),
        Option.when(HtmlText.compute(UTF8String.fromString(page(text))).toString != r.getString(3))(s"html_text $id"),
        Option.when(!java.util.Arrays.equals(Codecs.decompress(blob), jdk))(s"gunzip $id"),
        Option.when(!response.exists(w => w.target_uri.contains(s"/doc/$id/") &&
          new String(w.body, UTF_8).contains(text)))(s"warc $id")).flatten
    }
    (metrics, failures)
  }
}
