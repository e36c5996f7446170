package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.ext.TextAnalysis

/** The single-pass `redact` and squeeze-and-trim kernels against the
  * `regexp_replace` chains they replace ([[RegexReference]]): outputs are
  * compared as bytes, on generated strings (fixed seeds) built from the
  * fragments the patterns react to — invalid UTF-8 included — and on the
  * whole document corpus, in both codegen and interpreted evaluation.
  */
class TextKernelsSpec extends SparkSpec {

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val fragments: Seq[Array[Byte]] =
    Seq("@", ".", "-", "_", "%", "+", "http", "https", "://", "/",
      "1234", "12345", "123456", "7", " ", "  ", "\t", "\n",
      "a", "Bob", "x.y", "com", "ORG", "mail.", "é", "中文", "😀").map(utf8) ++
      Seq(Array(0x80.toByte), Array(0xFF.toByte), Array(0xE2.toByte, 0x82.toByte))

  private val textGen: Gen[Array[Byte]] =
    Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, Gen.oneOf(fragments))).map(_.toArray.flatten)

  /** 12 000 generated byte strings plus the empty string and null. */
  private lazy val generated: Seq[Option[Array[Byte]]] =
    (1L to 12000L).map(seed => Some(textGen(Gen.Parameters.default, Seed(seed)).get)) ++
      Seq(Some(Array.emptyByteArray), None)

  private def texts(s: SparkSession, rows: Seq[Option[Array[Byte]]]): DataFrame = {
    import s.implicits._
    // an RDD scan, so the projections run in the session's evaluation mode
    // instead of being folded into a local relation at planning time
    s.sparkContext.parallelize(rows, 4).toDF("b").select(col("b").cast("string").as("t"))
  }

  private val pairs: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("redact", TextKernels.redact, RegexReference.redact),
    ("redact(lower)", t => TextKernels.redact(lower(t)), t => RegexReference.redact(lower(t))),
    ("squeeze_spaces", TextKernels.squeeze_spaces, RegexReference.squeezeSpaces),
    ("normalize", TextAnalysis.normalize, RegexReference.normalize),
    ("redact(normalize)", t => TextAnalysis.redact(TextAnalysis.normalize(t)),
      t => RegexReference.redact(RegexReference.normalize(t))))

  /** Rows (per kernel) whose kernel bytes differ from the reference's. */
  private def mismatches(df: DataFrame): Seq[String] =
    pairs.flatMap { case (name, kernel, reference) =>
      df.select(col("t").cast("binary").as("in"),
          kernel(col("t")).cast("binary").as("k"), reference(col("t")).cast("binary").as("r"))
        .filter(!(col("k") <=> col("r")))
        .limit(3).collect()
        .map(r => s"$name: in=${Option(r.getAs[Array[Byte]]("in")).map(_.toSeq)} " +
          s"kernel=${Option(r.getAs[Array[Byte]]("k")).map(new String(_, UTF_8))} " +
          s"reference=${Option(r.getAs[Array[Byte]]("r")).map(new String(_, UTF_8))}")
    }

  private def inMode[A](mode: String)(f: SparkSession => A): A = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    s.conf.set("spark.sql.codegen.fallback", "false")
    f(s)
  }

  test("kernels are byte-identical to the regex chains on generated strings, codegen and interpreted") {
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) inMode(mode) { s =>
      val bad = mismatches(texts(s, generated))
      assert(bad.isEmpty, s"$mode:\n${bad.mkString("\n")}")
    }
    // the generated strings reach every branch of the patterns
    val ref = texts(spark, generated).select(RegexReference.redact(col("t")).as("r"))
    for (marker <- Seq("<EMAIL>", "<URL>", "<NUM>", "�"))
      assert(ref.filter(col("r").contains(marker)).count() > 25, marker)
  }

  test("kernels are byte-identical to the regex chains corpus-wide") {
    val docs = graft.ops.Tables.documents(spark, sfDir)
    // the corpus holds no PII: plant some per document, as q_redact does
    val planted = docs.select(concat(col("text"), lit(" mail user"), col("doc_id"),
      lit("@Example.com  via https://ex.example/p/"), col("doc_id"), lit("  ref 1234567"),
      col("doc_id")).as("t"))
    val corpus = docs.select(col("text").as("t")).union(planted)
    val bad = mismatches(corpus)
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(planted.filter(TextKernels.redact(col("t")).contains("<EMAIL>")).count() == docs.count(),
      "sanity: every planted email is redacted")
  }

  test("redact follows the regex chain's order: emails first, then URLs, then digit runs") {
    val cases = Seq(
      "a@b.cohttp://x" -> "<EMAIL>://x", // the email takes the 'http': no URL left
      "xhttp://foo bar" -> "x<URL> bar", // a URL may start inside a word
      "http://a@b.com/x 123456" -> "<URL> <NUM>",
      "12345a@b.co6789" -> "<EMAIL>6789", // digits after the TLD are too short
      "https:// x http:/y" -> "https:// x http:/y",
      "a@b.c a@b.c.de x@y.z9.io" -> "a@b.c <EMAIL> <EMAIL>",
      "1234 12345 123456" -> "1234 <NUM> <NUM>",
      "" -> "")
    val got = cases.map { case (in, _) =>
      TextKernels.computeRedact(org.apache.spark.unsafe.types.UTF8String.fromString(in)).toString
    }
    assert(got == cases.map(_._2))
  }
}
