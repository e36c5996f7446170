package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("language id votes by stopwords") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "le chat est dans la maison et les oiseaux"),
      (3L, "der hund und die katze das ist ein haus"),
      (4L, "el perro y la casa de los gatos es grande")
    ).toDF("id", "text")
    val got = df.select(col("id"), TextAnalysis.langId(col("text")).as("pred"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "fr")
    assert(got(3L) == "de")
    assert(got(4L) == "es")
  }

  test("fused stopword-vote expression matches the composable HOF form corpus-wide") {
    // same contract as the fused-vs-composable MinHash parity: the fused
    // single-pass kernel must agree with the array_max/HOF spec form on
    // every document, including tie-breaks (max score, then largest code)
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val mismatches = docs.select(
        TextAnalysis.langId(col("text")).as("fused_lang"),
        TextAnalysis.langIdScore(col("text")).as("fused_score"),
        TextAnalysis.langIdComposable(col("text")).as("ref_lang"),
        TextAnalysis.langIdScoreComposable(col("text")).as("ref_score"))
      .filter(col("fused_lang") =!= col("ref_lang") ||
        col("fused_score") =!= col("ref_score"))
      .count()
    assert(mismatches == 0L)
    // targeted tie-break case: 'de' appears in both de and zh lists → on
    // an equal-vote text the larger code (zh) must win in both forms
    val tie = Seq(Tuple1("de de")).toDF("text")
      .select(TextAnalysis.langId(col("text")).as("f"),
        TextAnalysis.langIdComposable(col("text")).as("r")).head()
    assert(tie.getString(0) == tie.getString(1) && tie.getString(0) == "zh")
  }

  test("token counting: whitespace + subword proxy") {
    val df = Seq(("a bb ccc dddd eeeeeeee", 5L)).toDF("text", "expected")
    val row = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.subwordCount(col("text")).as("s")).head()
    assert(row.getLong(0) == 5L)
    // ceil(1/4)=1, 1, 1, 1, ceil(8/4)=2 → 6
    assert(row.getLong(1) == 6L)
  }

  test("fused word-ngram kernel matches the composable HOF form corpus-wide") {
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select(col("text"))
      .union(Seq("", " ", "a", "a b", "a  b c", "héllo wörld 中文 ok x")
        .toDF("text"))
    for (n <- Seq(2, 3, 8)) {
      val mismatch = docs.select(
          TextAnalysis.wordNgramsExpr("text", n).as("f"),
          TextAnalysis.wordNgramsComposable("text", n).as("r"))
        .filter(col("f") =!= col("r")).count()
      assert(mismatch == 0L, s"n=$n")
    }
  }

  test("fused chunk-window kernel matches the composable HOF form corpus-wide") {
    val edge = Seq((9000001L, Some("")), (9000002L, Some(" ")),
      (9000003L, Some("a b c")), (9000004L, None)) // incl. NULL text
      .toDF("doc_id", "text")
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .union(edge)
    for ((w, s) <- Seq((32, 16), (8, 8), (5, 2))) {
      val f = TextAnalysis.chunkWindows(docs, "doc_id", "text", w, s)
        .orderBy("doc_id", "window_no").collect().toSeq
      val r = TextAnalysis.chunkWindowsComposable(docs, "doc_id", "text", w, s)
        .orderBy("doc_id", "window_no").collect().toSeq
      assert(f == r, s"window=$w stride=$s")
    }
  }

  test("fused subword/stopword kernels match the composable HOF forms corpus-wide") {
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select(col("text"))
      // unicode + irregular-spacing edges on top of the corpus
      .union(Seq("", " ", "  a  ", "héllo wörld 中文 it", "the the the")
        .toDF("text"))
    val en = TextAnalysis.stopwords("en")
    val mismatch = docs.select(
        TextAnalysis.subwordCount(col("text")).as("fs"),
        TextAnalysis.subwordCountComposable(col("text")).as("rs"),
        graft.functions.TextKernels.stopword_count(col("text"), en).as("fh"),
        size(filter(split(col("text"), " "),
          t => t.isin(en.map(lit(_)): _*))).cast("long").as("rh"))
      .filter(col("fs") =!= col("rs") || col("fh") =!= col("rh")).count()
    assert(mismatch == 0L)
  }

  test("quality features are bounded and deterministic") {
    val df = Seq((1L, "the data is big and the model is nice today ok")).toDF("doc_id", "text")
    val row = TextAnalysis.qualityFeatures(df, "text").head()
    val score = row.getAs[Double]("quality_score")
    assert(score >= 0.0 && score <= 1.0)
    assert(row.getAs[Double]("stopword_ratio") > 0.0)
  }

  test("rolling hash is order-sensitive; bag hash is not") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha")
    ).toDF("id", "text")
    val rh = df.select(col("id"), TextAnalysis.rollingHash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rh(1L) != rh(2L))
    val same = df.select(TextAnalysis.rollingHash(col("text")).as("h"))
      .union(df.select(TextAnalysis.rollingHash(col("text")).as("h")))
    assert(same.distinct().count() == 2) // stable across evaluations
  }

  test("fingerprints: md5 matches reference value") {
    val df = Seq("hello world").toDF("text")
    val fp = df.select(TextAnalysis.fingerprintMd5(col("text"))).head().getString(0)
    assert(fp == "5eb63bbbe01eeed093cb22bb8f5acdc3") // well-known md5
  }

  test("redact scrubs emails, urls and long digit runs; leaves clean text alone") {
    val df = Seq(
      (1L, "mail me at a.user+x@sub.example.org today"),
      (2L, "see https://ex.org/a?b=c#d and http://plain.io/x for docs"),
      (3L, "card 123456789012 pin 12345 year 2024 ok 1234"),
      (4L, "perfectly clean text with no secrets")
    ).toDF("id", "text")
    val got = df.select(col("id"), TextAnalysis.redact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail me at <EMAIL> today")
    assert(got(2L) == "see <URL> and <URL> for docs")
    assert(got(3L) == "card <NUM> pin <NUM> year 2024 ok 1234") // <5 digits kept
    assert(got(4L) == "perfectly clean text with no secrets")
  }

  test("packSequences bins by running token offset within each shard") {
    val df = Seq(
      (1L, "a", 1000L), (2L, "a", 1000L), (3L, "a", 100L), // a: 0,1000,2000
      (4L, "b", 2049L), (5L, "b", 1L)                      // b: 0,2049
    ).toDF("doc_id", "shard", "n_tokens")
    val got = TextAnalysis.packSequences(df, "shard", "doc_id", col("n_tokens"), 2048L)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((0L, 0L)))
    assert(got(2L) == ((0L, 1000L)))
    assert(got(3L) == ((0L, 2000L)))  // starts inside window 0
    assert(got(4L) == ((0L, 0L)))     // shard b packs independently
    assert(got(5L) == ((1L, 1L)))     // 2049 % 2048 = 1, window 1
  }

  test("chunkWindows produces overlapping strided windows; short docs yield one") {
    val df = Seq(
      (1L, (1 to 64).map(i => s"t$i").mkString(" ")),
      (2L, "tiny doc")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.chunkWindows(df, "doc_id", "text", 32, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // windows start at tokens 1,17,33 → ceil((64-31)/16) = 3 windows
    assert(d1.length == 3)
    assert(d1(0)._3.startsWith("t1 ") && d1(1)._3.startsWith("t17 ") &&
      d1(2)._3.startsWith("t33 "))
    assert(d1.forall(_._3.split(" ").length == 32))
    val d2 = rows.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._3 == "tiny doc")
  }

  test("mixtureSample keeps sources at their rates, deterministically") {
    val df = (0L until 2000L).map(i => (i, s"src${i % 2}")).toDF("doc_id", "source")
    val kept = TextAnalysis.mixtureSample(df, "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.25))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("src0") == 1000L) // rate 1.0 keeps everything
    assert(math.abs(kept("src1") - 250L) < 60, s"src1 kept ${kept("src1")}")
    // re-run on a different partitioning → identical selection
    val again = TextAnalysis.mixtureSample(df.repartition(7), "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.25))
      .agg(sum("doc_id")).head().getLong(0)
    val first = TextAnalysis.mixtureSample(df, "doc_id", "source",
        Map("src0" -> 1.0, "src1" -> 0.25))
      .agg(sum("doc_id")).head().getLong(0)
    assert(again == first)
  }

  test("decontaminate flags only docs sharing an n-gram with the eval set") {
    val evalSet = Seq("the quick brown fox jumps over the lazy dog tonight")
      .toDF("text")
    val corpus = Seq(
      (1L, "prefix the quick brown fox jumps over the lazy dog suffix"), // shares 8-grams
      (2L, "completely unrelated content about database systems and storage"),
      (3L, "short doc") // fewer than 8 tokens → no grams, never flagged
    ).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(corpus, "doc_id", "text", evalSet, "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L)._2 && got(1L)._1 > 0)
    assert(got(2L) == ((0L, false)))
    assert(got(3L) == ((0L, false)))
    assert(got.size == 3) // every corpus doc present, flagged or not
  }

  test("decontaminateScore reports shared-gram fraction and drops only above threshold") {
    val evalSet = Seq("one two three four").toDF("text")
    val corpus = Seq(
      (1L, "one two three four"),            // both 3-grams shared → frac 1.0 → dropped
      (2L, "one two three padA padB padC"),  // 1 of 4 grams shared → 0.25 → kept
      (3L, "x y")                            // < n tokens → no grams, frac 0, kept
    ).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminateScore(corpus, "doc_id", "text",
        evalSet, "text", n = 3, threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) == ((2L, 2L, 1.0, true)))
    assert(got(2L) == ((4L, 1L, 0.25, false)))
    assert(got(3L) == ((0L, 0L, 0.0, false)))
  }

  test("decontaminateSpans prunes exactly the eval-overlapping spans, keeps the doc") {
    val evalSet = Seq("alpha beta gamma delta epsilon").toDF("text")
    val corpus = Seq(
      // 5-gram leak mid-document: positions 2..6 cut, flanks survive
      (1L, "intro words alpha beta gamma delta epsilon closing words"),
      (2L, "completely unrelated content about database systems and storage"),
      (3L, "tiny doc") // shorter than the window → untouched
    ).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminateSpans(corpus, "doc_id", "text",
        evalSet, "text", n = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 9L && out(0).getLong(2) == 5L)
    assert(out(0).getString(4) == "intro words closing words")
    assert(out(1).getLong(2) == 0L)
    assert(out(1).getString(4) == corpus.filter(col("doc_id") === 2)
      .head().getString(1))
    assert(out(2).getLong(2) == 0L && out(2).getString(4) == "tiny doc")
    // a FULLY contaminated doc empties but is still present (kept, not dropped)
    val full = TextAnalysis.decontaminateSpans(
        Seq((9L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
        "doc_id", "text", evalSet, "text", n = 5)
      .collect()
    assert(full.length == 1 && full(0).getString(4) == "" &&
      full(0).getDouble(3) == 1.0)
  }

  test("heavyHitters finds exactly the tokens above support; CMS twin never undercounts") {
    val df = Seq("a a a a b b c", "a b d").toDF("text")
    // counts: a=5, b=3, c=1, d=1 of 10 tokens; support 0.25 → {a, b}
    val got = TextAnalysis.heavyHitters(df, "text", support = 0.25)
      .orderBy(desc("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("a", 5L, 0.5), ("b", 3L, 0.3)))

    // the sketch twin (the one-pass bounded-memory form for when exact
    // counts don't fit): a distributed count_min_sketch partial agg whose
    // driver-side probe must never undercount, and at this eps has no
    // collisions — estimates equal the exact counts
    val toks = df.select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    toks.createOrReplaceTempView("hh_toks")
    val bytes = spark.sql(
      "SELECT count_min_sketch(tok, 0.001d, 0.99d, 42) FROM hh_toks")
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val exact = Map("a" -> 5L, "b" -> 3L, "c" -> 1L, "d" -> 1L)
    exact.foreach { case (tok, n) =>
      assert(cms.estimateCount(tok) >= n, s"CMS undercounted $tok")
      assert(cms.estimateCount(tok) == n, s"CMS collided on $tok at eps=0.001")
    }
  }

  test("oovRate scores tokens outside the top-V vocab, with a total tiebreak") {
    val df = Seq((1L, "a a b z"), (2L, "a b b q z")).toDF("doc_id", "text")
    // counts: a=3, b=3, z=2, q=1; V=2 → vocab {a, b} (count desc, token asc)
    val got = TextAnalysis.oovRate(df, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 4L, 1L, 0.25), (2L, 5L, 2L, 0.4)))
  }

  test("mixtureUpsample repeats sources by weight with a distinct copy index") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "source")
    val got = TextAnalysis.mixtureUpsample(df, "doc_id", "source",
        Map("a" -> 3, "b" -> 2))
      .orderBy("doc_id", "copy").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.toSeq == Seq(
      (1L, "a", 1), (1L, "a", 2), (1L, "a", 3),
      (2L, "b", 1), (2L, "b", 2),
      (3L, "c", 1))) // unweighted source defaults to one copy
  }

  test("stratifiedSample caps each group, keeps small groups whole, is partition-stable") {
    val df = spark.range(0, 50).select(col("id"), lit("big").as("g"))
      .unionByName(spark.range(100, 103).select(col("id"), lit("small").as("g")))
    val out = TextAnalysis.stratifiedSample(df, "id", "g", cap = 5)
    val counts = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big" -> 5L, "small" -> 3L))
    // deterministic: the same ids are chosen regardless of partitioning
    val again = TextAnalysis.stratifiedSample(df.repartition(7), "id", "g", cap = 5)
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("quantileGate keeps per-group upper quantiles, never cross-contaminates thresholds") {
    // group a: values 1..8 (p50 = 4.5 → keep 5,6,7,8); group b: 100..103
    // (p50 = 101.5 → keep 102,103). An absolute threshold could not
    // produce this split.
    val df = (1 to 8).map(v => ("a", v.toLong)) ++ Seq(("b", 100L), ("b", 101L), ("b", 102L), ("b", 103L))
    val out = TextAnalysis.quantileGate(df.toDF("g", "v"), "v", "g", 0.5)
      .select("g", "v").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("a", 5L), ("a", 6L), ("a", 7L), ("a", 8L),
      ("b", 102L), ("b", 103L)))
  }

  test("write-path sharding reproduces the window-form permutation file-for-file") {
    val df = spark.range(0, 300).select(col("id"))
    val byWindow = TextAnalysis.shuffleShards(df, "id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(0)))  // (shard, pos, id)
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_shards_").toString
    try {
      TextAnalysis.shuffleShardsWritePath(df, "id")
        .write.partitionBy("shard").parquet(s"$tmp/out")
      byWindow.foreach { case (shard, wantIds) =>
        // every row of a shard hashes to one partition → one file per
        // shard dir; its physical row order must BE the pos order
        val gotIds = spark.read.parquet(s"$tmp/out/shard=$shard")
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(gotIds == wantIds, s"shard $shard order mismatch")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("lmScore ranks repetitive common-token docs below rare-token soup") {
    val docs = Seq(
      (0L, "the the the the the the the the"),     // all high-frequency
      (1L, "the cat sat on the mat"),              // mixed
      (2L, "zyx qwv jkl pqr mno abc")              // all singletons
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._2).toSeq == Seq(8L, 6L, 6L))
    // surprisal strictly increases from all-common to all-rare
    assert(out(0)._3 < out(1)._3 && out(1)._3 < out(2)._3)
    // partitioning-stable: same quantized scores from a different layout
    val again = TextAnalysis.lmScore(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("lmScore vocab-persist form equals its inline reference") {
    // lmScore persists the vocab aggregate and derives the corpus token
    // total from it instead of re-running the explode. This pins its
    // output to the inline form below (vocab and total as plain
    // subtrees) on a corpus with heavy repetition, an empty doc and a
    // single-token doc, under the input's own layout and a 7-partition
    // one.
    val docs = Seq(
      (0L, "a a a a a a b"),
      (1L, "a b c d e f g h"),
      (2L, "b b b c c zz"),
      (3L, ""),                       // zero tokens: absent from both
      (4L, "zz zz zz zz zz zz zz zz zz zz zz")
    ).toDF("doc_id", "text")
    import org.apache.spark.sql.functions._
    def reference(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] = {
      val toks = df
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("_c"))
      val total = vocab.agg(sum(col("_c")).as("_n"))
      toks.join(vocab, "tok")
        .crossJoin(broadcast(total))
        .select(col("doc_id"),
          round(-log(col("_c").cast("double") / col("_n")), 6)
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("_nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          round(sum(col("_nll")).cast("double") / count(lit(1)), 4).as("avg_nll"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val got = TextAnalysis.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == reference(docs))
    // and under a different physical layout (partitioning-stability)
    val got7 = TextAnalysis.lmScore(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got7 == got)
  }

  test("lmScoreBackoff: every backoff arm lands on hand-computed scores") {
    val train = Seq((10L, "a b c a b d")).toDF("doc_id", "text")
    // N=6; uni a:2 b:2 c:1 d:1; bi (a,b):2 (b,c):1 (c,a):1 (b,d):1;
    // tri (a,b,c):1 (b,c,a):1 (c,a,b):1 (a,b,d):1
    val score = Seq(
      (0L, "a b c"), // unigram start, exact bigram, trigram hit
      (1L, "x b")    // OOV start, bigram miss → α·unigram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreBackoff(score, train, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    def q(x: Double) = math.rint(x * 1e6) / 1e6
    // the AVERAGE is quantized two decimals coarser than the per-token
    // surprisal (cross-engine ln-tie hardening)
    def qAvg(x: Double) = math.rint(x * 1e4) / 1e4
    // doc 0: S = [3/7, c(a,b)/c(a)=1, ct/c(a,b)=1/2]
    val want0 = qAvg((q(-math.log(3.0 / 7)) + 0.0 + q(math.log(2.0))) / 3)
    assert(out(0) == ((0L, 3L, 1L, 2L, want0)))
    // doc 1: S = [1/7 (OOV add-one), 0.4·(2+1)/7 (bigram miss)]
    val want1 = qAvg((q(-math.log(1.0 / 7)) + q(-math.log(0.4 * 3 / 7))) / 2)
    assert(out(1) == ((1L, 2L, 0L, 0L, want1)))
    // partitioning-stable (the quantization contract)
    val again = TextAnalysis.lmScoreBackoff(score.repartition(5), train, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == again.toSeq)
  }

  test("selfRepetitionPrune removes later occurrences of repeated windows") {
    val docs = Seq(
      (0L, "menu menu menu menu"),       // classic loop → one token survives
      (1L, "a b a b c"),                 // "a b" repeats at pos 2 → covers 2,3
      (2L, "x y"),                       // no repeats → unchanged
      (3L, "x")                          // shorter than the window → unchanged
    ).toDF("doc_id", "text")
    val out = TextAnalysis.selfRepetitionPrune(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getString(4) == "menu" && out(0).getLong(2) == 3L)
    assert(out(1).getString(4) == "a b c" && out(1).getLong(2) == 2L)
    assert(out(2).getString(4) == "x y" && out(2).getLong(2) == 0L)
    assert(out(3).getString(4) == "x" && out(3).getLong(2) == 0L)
    assert(out(1).getDouble(3) == 0.4) // 2 of 5 tokens pruned
  }

  test("shuffleShards assigns bounded shards with contiguous positions, partition-stable") {
    val df = spark.range(0, 500).select(col("id"))
    val out = TextAnalysis.shuffleShards(df, "id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall { case (_, shard, _) => shard >= 0 && shard < 16 })
    // positions are 1..n within every shard (a true permutation)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    val again = TextAnalysis.shuffleShards(spark.range(0, 500).select(col("id"))
        .repartition(9), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }
  test("stripBoilerplate drops high-df lines, keeps order, vanishes all-chrome docs") {
    import spark.implicits._
    // footer in every doc (df=4 > maxDf=2); 'rare' in 2 docs (kept);
    // doc 4 is all chrome and must vanish; doc 1 has an intra-doc
    // repeated line (df counts DISTINCT docs, so it survives, twice)
    val docs = Seq(
      (1L, "alpha\ndup\ndup\nFOOTER"),
      (2L, "beta\nrare\nFOOTER"),
      (3L, "gamma\nrare\nFOOTER"),
      (4L, "FOOTER")
    ).toDF("id", "page")
    val out = TextAnalysis.stripBoilerplate(docs, "id", "page", maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), "doc 4 must vanish")
    assert(out(0)._2 == "alpha\ndup\ndup" && out(0)._3 == 3L)
    assert(out(1)._2 == "beta\nrare" && out(1)._3 == 2L)
    assert(out(2)._2 == "gamma\nrare")
  }
  test("normalizeUrl canonicalizes ports, params, case, slashes; urlDomain keys sites") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://WWW.Foo.COM:80/A/b/?z=1&a=2#x", "http://foo.com/A/b?a=2&z=1"),
      ("https://foo.com:443/", "https://foo.com"),
      ("https://foo.com:8443/p", "https://foo.com:8443/p"), // non-default port kept
      ("http://a.b.foo.com/p/", "http://a.b.foo.com/p"),
      ("https://foo.com/p?utm_source=x&utm_medium=y&gclid=1&fbclid=2", "https://foo.com/p"),
      ("https://foo.com/p?only=1", "https://foo.com/p?only=1")
    ).toDF("url", "want")
    val got = cases.select(
      TextAnalysis.normalizeUrl(col("url")).as("got"), col("want")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"${r.getString(0)} != ${r.getString(1)}"))
    val dom = Seq("https://www.a.b.foo.co/x", "http://foo.co/y").toDF("url")
      .select(TextAnalysis.urlDomain(col("url"))).collect().map(_.getString(0))
    assert(dom.toSeq == Seq("foo.co", "foo.co"))
  }
  test("normalizeUrl: unparseable URLs keep a distinct deterministic key") {
    import spark.implicits._
    // malformed URLs must NOT collapse onto one NULL key (a dedup
    // pipeline would merge them all) — they pass through verbatim
    val cases = Seq("not a url at all", "://missing-scheme", "x", "")
      .toDF("url")
    val got = cases.select(col("url"),
      TextAnalysis.normalizeUrl(col("url")).as("got")).collect()
    got.foreach(r => assert(r.getString(1) == r.getString(0),
      s"malformed '${r.getString(0)}' must pass through, got '${r.getString(1)}'"))
    // bare-host URL (null/empty PATH) still canonicalizes
    val bare = Seq("https://WWW.Foo.com").toDF("url")
      .select(TextAnalysis.normalizeUrl(col("url"))).collect().head.getString(0)
    assert(bare == "https://foo.com")
  }
}
