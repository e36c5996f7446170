package graft.functions

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.{GraftExtensions, GraftSql, SparkSpec}

/** Every row kernel's interpreted and generated paths agree: each Column
  * kernel and each [[GraftExtensions.builders]] entry runs over one fixed
  * input (a null row, a row of empty values, two rows of real values)
  * under `CODEGEN_ONLY` with fallback off and under `NO_CODEGEN` with
  * whole-stage codegen off, and the rows must be equal. The generated
  * code of each kernel's projection calls its static method exactly once.
  */
class KernelSpec extends SparkSpec with BeforeAndAfterAll {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("bin", BinaryType),
    StructField("vec", ArrayType(FloatType)),
    StructField("vec4", ArrayType(FloatType)),
    StructField("lvec", ArrayType(LongType)),
    StructField("feats", ArrayType(StructType(Seq(
      StructField("i", IntegerType), StructField("x", DoubleType))))),
    StructField("shingles", ArrayType(StringType)),
    StructField("code", LongType),
    StructField("cell", IntegerType)))

  private val rows = Seq(
    Row(0L, null, null, null, null, null, null, null, null, null),
    Row(1L, "", Array.emptyByteArray, Seq.empty[Float], Seq(0f, 0f, 0f, 0f),
      Seq.empty[Long], Seq.empty[Row], Seq.empty[String], 0L, 0),
    Row(2L, "the cat saw the dog  at http://x.io/p 1234567 mail a.b@cd.org ",
      graft.ext.AudioFp.wavPcm16(graft.ext.AudioFp.synthSamples(0x0123456789ABCDEFL)),
      Seq(1f, 2f, 3f, 4f), Seq(1f, 2f, 3f, 4f), Seq(1L, 2L, 3L, 4L),
      Seq(Row(0, 0.5), Row(2, 1.5)), Seq("ab", "cd"), 0x2L, 1),
    Row(3L, "<p>der Hund &amp; <b>the</b> caffè</p><script>x</script> die",
      "not audio".getBytes("UTF-8"), Seq(-1f, 0.5f, 2f), Seq(-1f, 0.5f, 2f, 0f),
      Seq(5L, -6L, 7L, 8L), Seq(Row(1, -1.0)), Seq("x"), 0x1L, 0))

  private val tmp = Files.createTempDirectory("kernel-spec")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile) finally super.afterAll()

  private lazy val inputDir: String = {
    val dir = tmp.resolve("input").toString
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(dir)
    dir
  }

  /** A session on the suite's context with one codegen mode and the
    * input registered as `kernel_input`.
    */
  private def session(codegen: Boolean): SparkSession = {
    val s = spark.newSession()
    if (codegen) {
      s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      s.conf.set("spark.sql.codegen.fallback", "false")
    } else {
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      s.conf.set("spark.sql.codegen.wholeStage", "false")
    }
    GraftSql.registerFunctions(s)
    s.read.parquet(inputDir).createOrReplaceTempView("kernel_input")
    s
  }

  private lazy val generated = session(codegen = true)
  private lazy val interpreted = session(codegen = false)

  private val cents = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 1f))

  private val columnKernels: Seq[(String, Column)] = Seq(
    "cosine_similarity" -> functions.cosine_similarity(col("vec"), col("vec4")),
    "dot_product" -> functions.dot_product(col("vec"), col("vec4")),
    "audio_fingerprint" -> AudioFingerprint.audio_fingerprint(col("bin")),
    "bpe_tokens" -> BpeOps.bpe_tokens(col("text"), Seq("t" -> "h", "th" -> "e", "d" -> "o")),
    "html_text" -> HtmlText.html_text(col("text")),
    "ivf_nearest_cell" -> IvfCells.nearest_cell(col("vec"), cents),
    "ivf_nearest_cells" -> IvfCells.nearest_cells(col("vec"), cents, 2),
    "ivf_adc_score" -> IvfPqAdc.ivf_adc_score(col("code"), col("cell"), IvfAdcModel(
      cellPos = Array(1, 0), ipBase = Array(0.5, 0.25), n2Base = Array(1.0, 2.0),
      lutIp = Array(Array(0.1, 0.2), Array(0.3, -0.4)),
      lutN2 = Array(
        Array(Array(0.5, 0.6), Array(0.7, 0.8)),
        Array(Array(0.2, 0.1), Array(0.4, 0.3))),
      bits = 1, qNorm = 1.5)),
    "ivf_cell_residual" -> IvfPqAdc.cell_residual(col("vec"), col("cell"), cents),
    "jaro_winkler" -> JaroWinklerKernel.jaro_winkler(col("text"), lit("the cat sat")),
    "minhash_signature" -> MinHashSignature.minhash_signature(col("shingles"), 4),
    "minhash_word_shingles" -> MinHashText.minhash_word_shingles(col("text"), 2, 4),
    "minhash_char_shingles" -> MinHashText.minhash_char_shingles(col("text"), 3, 4),
    "multi_match_count" -> MultiMatch.multi_match_count(col("text"), Seq("cat", "dog", "è")),
    "nearest_cell_q" -> NearestCellQ.nearest_cell_q(col("lvec"),
      Seq(7L -> Array(0L, 0L, 0L, 0L), 3L -> Array(5L, -6L, 7L, 8L))),
    "pq_encode" -> PqCodes.pq_encode(col("vec4"),
      Seq(Seq(Seq(0f, 0f), Seq(1f, 2f)), Seq(Seq(3f, 4f), Seq(0f, 1f))), 2),
    "quantized_dot" -> QuantizedDot.quantized_dot(col("vec4"), Array(1L, -2L, 3L, 4L)),
    "score_hashed" -> ScoreHashed.score_hashed(col("text"), Array(0.5, -0.25, 1.0, 0.1), 3),
    "sparse_dot_w" -> SparseDot.sparse_dot_w(col("feats"), Array(0.5, 2.0, -1.0)),
    "sq8_encode" -> Sq8.sq8_encode(col("vec"), Seq(0f, 0f, 0f, 0f), Seq(4f, 4f, 4f, 4f)),
    "sq8_score" -> Sq8.sq8_score(col("bin"),
      Sq8Model(Array(0.0, 0.0, 0.0, 0.0), Array(0.01, 0.02, 0.03, 0.04),
        Array(1.0, -1.0, 0.5, 2.0), 2.5)),
    "stopword_votes" -> StopwordVotes.stopword_votes(col("text"),
      Seq("en" -> Seq("the", "a"), "de" -> Seq("der", "die"))),
    "redact" -> TextKernels.redact(col("text")),
    "squeeze_spaces" -> TextKernels.squeeze_spaces(col("text")),
    "subword_count" -> TextKernels.subword_count(col("text"), 3),
    "stopword_count" -> TextKernels.stopword_count(col("text"), Seq("the", "a")),
    "word_ngrams" -> TextKernels.word_ngrams(col("text"), 2),
    "word_shingles" -> TextKernels.word_shingles(col("text"), 2),
    "char_shingles" -> TextKernels.char_shingles(col("text"), 3),
    "chunk_windows" -> TextKernels.chunk_windows(col("text"), 3, 2),
    "unigram_tokens" -> UnigramOps.unigram_tokens(col("text"),
      Seq("the" -> -1.0, "t" -> -3.0, "he" -> -2.0, "cat" -> -1.5)),
    "wordpiece_stats" -> WordPieceOps.wordpiece_stats(col("text"),
      Seq("the", "##e", "c", "##at", "d", "##og")))

  private val sqlBuilders: Seq[(String, String)] = Seq(
    "cosine_similarity" -> "cosine_similarity(vec, vec4)",
    "audio_fingerprint" -> "audio_fingerprint(bin)",
    "dot_product" -> "dot_product(vec, vec4)",
    "minhash_signature" -> "minhash_signature(shingles, 4)",
    "minhash_word_shingles" -> "minhash_word_shingles(text, 2, 4)",
    "minhash_char_shingles" -> "minhash_char_shingles(text, 3, 4)",
    "stopword_votes" -> "stopword_votes(text)",
    "subword_count" -> "subword_count(text, 3)",
    "bloom_filter_agg" -> "(SELECT bloom_filter_agg(xxhash64(text)) FROM kernel_input)",
    "might_contain" ->
      "might_contain((SELECT bloom_filter_agg(xxhash64(text)) FROM kernel_input), xxhash64(text))",
    "stopword_count" -> "stopword_count(text, array('the', 'a'))",
    "multi_match_count" -> "multi_match_count(text, array('cat', 'g r'))")

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  /** The kernel expressions of `df`'s plan. */
  private def kernels(df: DataFrame): Seq[Kernel] =
    df.queryExecution.analyzed.expressions.flatMap(_.collect { case k: Kernel => k })

  /** Asserts the two modes agree and each kernel's static call appears
    * once in the generated code; returns the kernels seen.
    */
  private def check(name: String, gen: DataFrame, interp: DataFrame): Seq[Kernel] = {
    assert(!interp.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]),
      name)
    val expected = sorted(interp)
    assert(expected.length == rows.length, name)
    assert(sorted(gen) == expected, name)
    val found = kernels(gen)
    if (found.nonEmpty) assert(expected.head.isNullAt(1), s"$name: null row")
    val code = gen.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    found.foreach { k =>
      val call = s"${k.kernel.owner.getClass.getName.stripSuffix("$")}.${k.kernel.method}("
      assert(code.split(java.util.regex.Pattern.quote(call), -1).length - 1 == 1,
        s"$name: $call in generated code")
    }
    found
  }

  test("every Column kernel: generated and interpreted rows agree, one static call each") {
    val seen = columnKernels.flatMap { case (name, c) =>
      check(name,
        generated.table("kernel_input").select(col("id"), c.as(name)),
        interpreted.table("kernel_input").select(col("id"), c.as(name)))
    }
    // every case class that mixes in Kernel is covered above
    val root = Paths.get("src/main/scala/graft/functions")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val declared = Files.list(root).iterator().asScala.toSeq.flatMap { f =>
      """(?s)case class (\w+)\((?:(?!case class).)*?\bwith Kernel\b""".r
        .findAllMatchIn(Files.readString(f)).map(_.group(1))
    }.toSet
    assert(declared.size >= 30, declared)
    assert(seen.map(_.getClass.getSimpleName).toSet == declared)
  }

  test("every SQL builder: generated and interpreted rows agree, one static call each") {
    assert(sqlBuilders.map(_._1).sorted == GraftExtensions.builders.map(_._1).sorted)
    val seen = sqlBuilders.flatMap { case (name, e) =>
      val q = s"SELECT id, $e AS $name FROM kernel_input"
      check(name, generated.sql(q), interpreted.sql(q))
    }
    assert(seen.nonEmpty)
  }

  test("src/main generates code only in Kernel and BloomProbe") {
    graft.OneHome.assertOnlyIn(
      Seq("functions/Kernel.scala", "functions/BloomProbe.scala"),
      Seq("""\b(doGenCode|nullSafeCodeGen|defineCodeGen)\b""".r))
  }
}
