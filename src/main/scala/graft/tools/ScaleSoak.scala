package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak: runs the dedup/text family on a synthetic corpus 10–100×
  * the sf0.1 test data to measure how per-document cost and shuffle sizes
  * behave as the corpus grows — the evidence behind PERF.md's 100 TB
  * extrapolation claims.
  *
  * The corpus is deterministic (seeded columns derived from the row id):
  * ~30-token documents over a small vocabulary, with a planted 5% exact-
  * duplicate rate and 5% near-duplicate rate (one token changed), so the
  * dedup pipelines have real work at every scale.
  *
  * Usage: runMain graft.tools.ScaleSoak [numDocs] (default 500000)
  */
object ScaleSoak {

  def corpus(spark: SparkSession, n: Long): DataFrame = {
    // seeded, partition-independent: every column is a pure function of
    // the row id. ~10% of docs copy the text of a nearby SELF-SOURCED doc
    // (one whose text derives from its own id): id≡0 (mod 20) copies
    // id-1 verbatim (exact dup), id≡1 copies id-2 with the last token
    // perturbed (near dup, jaccard ≈ 0.93 for 28 shingles). Sourcing
    // id≡1 from id-1 would be wrong: id-1 is itself a copier, so the
    // base text would exist in no document and the "near dups" would
    // never pair with anything.
    val base = spark.range(0, n, 1, 64)
    val srcId = when(pmod(col("id"), lit(20)) === 0, col("id") - 1)
      .when(pmod(col("id"), lit(20)) === 1, col("id") - 2)
      .otherwise(col("id"))
    base
      .withColumn("srcId", greatest(srcId, lit(0L)))
      .withColumn("toks", expr(
        "transform(sequence(1, 30), i -> concat('w', pmod(hash(srcId, i), 600)))"))
      .withColumn("toks",
        when(pmod(col("id"), lit(20)) === 1, // near-dup: perturb the last token
          concat(slice(col("toks"), 1, 29), array(concat(lit("u"), col("id")))))
          .otherwise(col("toks")))
      .select(col("id").as("doc_id"), concat_ws(" ", col("toks")).as("text"))
  }

  /** BUMP whenever corpus() or vectors() changes: both are written once
    * to paths keyed by it, and every soak re-reads what is there.
    */
  private val CorpusGen = 2

  def docsDir(n: Long): String = s"/tmp/graft_soak_g${CorpusGen}_$n"
  def vectorsDir(n: Long): String = s"/tmp/graft_soak_vec_g${CorpusGen}_$n"

  /** The `n`-doc corpus as parquet, so every stage reads from disk like a
    * real pipeline (not from a cached in-memory range); shared by every
    * soak that runs on documents.
    */
  def docs(spark: SparkSession, n: Long): DataFrame =
    Harness.materialize(spark, docsDir(n))(corpus(spark, n))

  /** `n` synthetic 64-dim embeddings with clustered structure: 32 seeded
    * anchor directions plus per-vector noise, so IVF cells are meaningful.
    */
  def vectors(spark: SparkSession, n: Long): DataFrame =
    Harness.materialize(spark, vectorsDir(n)) {
      spark.range(0, n, 1, 64)
        .withColumn("embedding", expr(
          """transform(sequence(1, 64),
             i -> cast(pmod(hash(pmod(id, 32), i), 1000) / 500.0 - 1.0
                       + pmod(hash(id, i), 100) / 250.0 as float))"""))
        .select(col("id").as("vec_id"), col("embedding"))
    }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    // NOTE: driver heap cannot be set from inside a running JVM — it
    // comes from the forked JVM's -Xmx (build.sbt run settings)
    val spark = Harness.session(32, 64)
    // optional 2nd arg: comma-separated substrings — only stages whose
    // name contains one of them run (fast re-measurement of one family)
    val stages = new Harness.Stages(spark, "soak", args.lift(1))
    import stages.selected
    def timed(name: String)(body: => Long): Unit = stages(name, n)(body)

    val dir = docsDir(n)
    val docs = ScaleSoak.docs(spark, n)

    println(s"[soak] corpus: $n docs at $dir")
    timed("exact_dedup") {
      graft.ext.Dedup.exact(docs, "text", "doc_id").count()
    }
    timed("minhash_signatures") {
      // aggregate over the signature column so column pruning can't elide
      // the kernel under a bare count()
      graft.ext.Dedup.minHashSignatures(docs, "doc_id", "text",
          64, graft.ext.Dedup.WordShingles(3), widen = false)
        .agg(expr("bit_xor(sig[0])")).collect().length.toLong // xor: no ANSI overflow
    }
    timed("neardup_pairs") {
      graft.ext.Dedup.nearDupMinHash(docs, "doc_id", "text",
        threshold = 0.5, shingler = graft.ext.Dedup.WordShingles(3)).count()
    }
    timed("neardup_clusters") {
      graft.ext.Dedup.nearDupClusters(docs, "doc_id", "text",
        threshold = 0.5, shingler = graft.ext.Dedup.WordShingles(3)).count()
    }
    timed("simhash") {
      graft.ext.Dedup.simHash(docs, "doc_id", "text").count()
    }
    timed("simhash_pairs") {
      // fingerprint + Hamming blocking end-to-end at the corpus-sized
      // setting: the default 4×16-bit layout collides ~n²/65k random
      // pairs (measured: a disk-filling ~2B candidates at 8M docs);
      // nBlocks=6 keys on C(6,3)=20 ~32-bit block-subsets instead —
      // same exact recall, collision term gone
      graft.ext.Dedup.nearDupSimHash(docs, "doc_id", "text",
        maxHamming = 3, nBlocks = 6).count()
    }
    def buildBandIndex(): Unit =
      graft.ext.Dedup.writeBandIndex(docs, "doc_id", "text",
        "soak_band_idx", numHashes = 64, bands = 16,
        shingler = graft.ext.Dedup.WordShingles(3), numBuckets = 64,
        basePath = Some(s"$dir-bandidx"))
    timed("band_index_write") {
      // the write-once LSH index: corpus bands bucketed by
      // (band_id, band_hash) + sigs bucketed by id
      buildBandIndex()
      spark.table("soak_band_idx_bands").count()
    }
    // probe-only runs (stage filter skipped the write) build the index
    // OUTSIDE the timed block — the catalog is per-JVM, so the table
    // can't come from a prior run, and the build must not pollute the
    // probe's number
    if ((selected("band_index_probe") || selected("band_index_absorb")) &&
        !spark.catalog.tableExists("soak_band_idx_bands")) buildBandIndex()
    timed("band_index_absorb") {
      // index maintenance: absorb a 1% accepted batch into the bucketed
      // band index — cost must be O(batch), not O(index)
      val batch = docs.filter(pmod(col("doc_id"), lit(100)) === 3)
        .select((col("doc_id") + n * 20).as("doc_id"),
          concat(col("text"), lit(" absorbed")).as("text"))
      graft.ext.Dedup.absorbIntoBandIndex(spark, "soak_band_idx", batch, "text")
      batch.count()
    }
    timed("band_index_probe") {
      // daily-batch near-dup against the materialized index: ~1% of the
      // corpus re-id'd with an appended tail (each a true near-dup of
      // its source); only the batch is shingled — the index side joins
      // exchange-free from the bucketed tables
      val batch = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select((col("doc_id") + n * 10).as("doc_id"),
          concat(col("text"), lit(" probetail")).as("text"))
      graft.ext.Dedup.nearDupAgainstIndex(spark, "soak_band_idx", batch,
        "doc_id", "text", threshold = 0.5, corpusText = Some(docs)).count()
    }
    def buildHammingIndex(): Unit =
      graft.ext.Dedup.writeHammingIndex(
        graft.ext.Dedup.simHash(docs, "doc_id", "text"),
        "doc_id", "simhash", "soak_ham_idx",
        maxHamming = 3, nBlocks = 6, numBuckets = 64,
        basePath = Some(s"$dir-hamidx"))
    timed("hamming_index_write") {
      // the write-once Hamming fingerprint index: corpus block-subset
      // bands bucketed by (band_id, band_hash) + fps bucketed by id
      buildHammingIndex()
      spark.table("soak_ham_idx_bands").count()
    }
    if (selected("hamming_index_probe") &&
        !spark.catalog.tableExists("soak_ham_idx_bands")) buildHammingIndex()
    timed("hamming_index_probe") {
      // daily-batch fingerprint dedup against the materialized index:
      // ~1% of the corpus re-id'd (each fingerprint is a hamming-0 dup
      // of its source); only the batch is fingerprinted + banded — the
      // index side joins exchange-free from the bucketed tables
      val batch = graft.ext.Dedup.simHash(
        docs.filter(pmod(col("doc_id"), lit(97)) === 0)
          .select((col("doc_id") + n * 10).as("doc_id"), col("text")),
        "doc_id", "text")
      graft.ext.Dedup.hammingAgainstIndex(spark, "soak_ham_idx", batch,
        "doc_id", "simhash").count()
    }
    // adversarial mass-duplicate family that (hypothetically) survived
    // exact dedup: `famSize` byte-identical docs share every band hash →
    // unbounded, every bucket's reducer MATERIALIZES all famSize²/2
    // pairs before the explode. famSize 6000 > the default cap, so the
    // bounded stage emits capped-full + min-id star pairs while the
    // unbounded twin (opt-in below) demonstrates the failure mode.
    def degenerateBands = {
      val famSize = 6000
      val family = spark.range(0, famSize).select(
        (col("id") + n * 20).as("doc_id"),
        lit("identical boilerplate page body repeated across the whole crawl today").as("text"))
      val tail = docs.filter(pmod(col("doc_id"), lit(40)) === 7)
      val sigs = graft.ext.Dedup.minHashSignatures(
        family.unionByName(tail.select("doc_id", "text")), "doc_id", "text",
        64, graft.ext.Dedup.WordShingles(3))
      graft.ext.Dedup.lshBands(sigs, "doc_id", 16, 4)
    }
    timed("degenerate_bucket_bounded") {
      graft.ext.Dedup.candidatePairs(degenerateBands, "doc_id").count()
    }
    // opt-in ONLY (never part of a full sweep): measured outcome at 8 M
    // docs is java.lang.OutOfMemoryError — 16 band buckets × an 18M-pair
    // materialized array each. That OOM is the finding the bounded form
    // exists for; running it kills the whole soak JVM by design.
    // EXACT name required (not the substring filter): "degenerate_bucket"
    // must select only the bounded stage, never the JVM-killing twin
    if (stages.names.contains("degenerate_bucket_unbounded"))
      timed("degenerate_bucket_unbounded") {
        graft.ext.Dedup.candidatePairs(degenerateBands, "doc_id",
          maxBucket = Int.MaxValue).count()
      }
    timed("text_features") {
      // quality_score depends on every feature column — nothing prunable
      graft.ext.TextAnalysis.qualityFeatures(docs, "text")
        .agg(sum("quality_score"), sum("n_tokens"), sum("mean_word_len"))
        .collect().length.toLong
    }
    timed("lang_id") {
      docs.select(graft.ext.TextAnalysis.langId(col("text")).as("l"))
        .groupBy("l").count().count()
    }
    timed("ngram_freq_top100") {
      docs.select(explode(graft.ext.TextAnalysis.wordNgramsExpr("text", 2)).as("g"))
        .groupBy("g").count().orderBy(col("count").desc).limit(100).count()
    }
    timed("incremental_dedup") {
      // the daily-batch shape: 1/10 of the corpus deduped against the rest
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 2)
      val corpusSide = docs.filter(pmod(col("doc_id"), lit(10)) =!= 2)
      graft.ext.Dedup.incremental(batch, corpusSide, "text", "doc_id").count()
    }
    timed("stratified_cap") {
      // 16 synthetic strata; cap far below the group size so the
      // WindowGroupLimit truncation actually bites
      docs.withColumn("g", pmod(col("doc_id"), lit(16)))
        .transform(d => graft.ext.TextAnalysis.stratifiedSample(d, "doc_id", "g", 1000))
        .count()
    }
    timed("shuffle_shard_writepath") {
      graft.ext.TextAnalysis.shuffleShardsWritePath(docs.select("doc_id"), "doc_id")
        .write.mode("overwrite").parquet(s"$dir-shards")
      spark.read.parquet(s"$dir-shards").count()
    }
    timed("quantile_gate") {
      graft.ext.TextAnalysis.quantileGate(
        docs.withColumn("g", pmod(col("doc_id"), lit(16)))
          .withColumn("n_tokens", graft.ext.TextAnalysis.tokenCount(col("text"))),
        "n_tokens", "g", 0.25).count()
    }
    // bench set = 20% of the corpus: big enough that its raw fingerprints
    // exceed the broadcast threshold, so the baseline anti-join must
    // SHUFFLE the whole corpus — the cost the bloom path exists to avoid
    // (a 1% bench broadcasts and both paths are map-only ties)
    timed("decontaminate_antijoin") {
      val bench = docs.filter(pmod(col("doc_id"), lit(5)) === 3).select("text")
      val corpusSide = docs.filter(pmod(col("doc_id"), lit(5)) =!= 3)
      corpusSide.withColumn("_fp", md5(col("text")))
        .join(bench.select(md5(col("text")).as("_fp")).distinct(), Seq("_fp"), "left_anti")
        .count()
    }
    timed("decontaminate_bloom") {
      // same semantics via the sketch: one distributed agg to train, a
      // ~1 MB broadcast, a map-only probe; only suspects pay the anti-join
      val bench = docs.filter(pmod(col("doc_id"), lit(5)) === 3).select("text")
      val corpusSide = docs.filter(pmod(col("doc_id"), lit(5)) =!= 3)
      val sketch = graft.ext.Bloom.trainSketch(bench, "text",
        expectedItems = math.max(n / 5, 1024L), numBits = math.max(n / 5 * 16, 16384L))
      graft.ext.Bloom.decontaminateExact(corpusSide, "text", bench, "text", sketch)
        .count()
    }
    timed("lm_score") {
      graft.ext.TextAnalysis.lmScore(docs, "doc_id", "text")
        .agg(sum("avg_nll")).collect().length.toLong
    }
    timed("edit_distance_grid") {
      // successor-grid candidates, banded kernel on 128-char prefixes
      val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      graft.ext.Dedup.editDistancePairs(pairs, docs, "doc_id", "text",
        threshold = 20, prefixLen = 128).filter(col("edit_distance") >= 0).count()
    }
    timed("span_dedup") {
      // duplicated 5-token windows across docs + span-pruned text; the
      // planted dup families are the docs whose windows recur. Aggregate
      // over the computed columns so pruning can't elide the kernel.
      graft.ext.Dedup.spanDuplicates(docs, "doc_id", "text", n = 5)
        .agg(sum("dup_tokens"), sum(length(col("pruned_text"))))
        .collect().length.toLong
    }
    def buildGramIndex(): Unit =
      graft.ext.Dedup.writeGramIndex(docs, "doc_id", "text", n = 5,
        "soak_gram_idx", minDocs = 1, numBuckets = 64,
        basePath = Some(s"$dir-gramidx"))
    timed("gram_index_write") {
      // the write-once duplicated-gram index (minDocs=1 cross-batch
      // semantic): every corpus window hash, bucketed by gram hash
      buildGramIndex()
      spark.table("soak_gram_idx_grams").count()
    }
    if (selected("gram_index_probe") &&
        !spark.catalog.tableExists("soak_gram_idx_grams")) buildGramIndex()
    timed("gram_index_probe") {
      // daily-batch span dedup against the materialized index: ~1% of
      // the corpus re-id'd with a novel tail; only the batch is
      // windowed — the index side joins exchange-free
      val batch = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select((col("doc_id") + n * 10).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2 zq3")).as("text"))
      graft.ext.Dedup.spanDuplicatesAgainstIndex(spark, "soak_gram_idx",
          batch, "doc_id", "text")
        .agg(sum("dup_tokens")).collect().length.toLong
    }
    timed("tfidf_top5") {
      val terms = docs
        .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(20))))
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
      val tf = terms.groupBy("source", "term").agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("tfidf").desc, col("term"))
      tf.join(dft, "term")
        .withColumn("tfidf", col("tf") * log(lit(20.0) / col("df")))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5).count()
    }

    timed("keep_best_dedup") {
      graft.ext.Dedup.keepBest(docs, "text", "doc_id").count()
    }
    timed("heavy_hitters") {
      graft.ext.TextAnalysis.heavyHitters(docs, "text", support = 0.001).count()
    }
    timed("oov_rate") {
      graft.ext.TextAnalysis.oovRate(docs, "doc_id", "text", vocabSize = 300)
        .agg(sum("n_oov")).collect().length.toLong
    }
    timed("contamination_score") {
      // fixed-size benchmark (eval sets don't grow with the corpus), so
      // the broadcast gram set stays ~MBs at any n
      val bench = docs.filter(col("doc_id") < 20000)
      val corpusSide = docs.filter(col("doc_id") >= 20000)
      graft.ext.TextAnalysis.decontaminateScore(corpusSide, "doc_id", "text",
        bench, "text", n = 8, threshold = 0.2).filter(col("drop_doc")).count()
    }
    timed("interval_join") {
      // probe density 0.5/unit over a 2n domain; interval span 10 at
      // bucket width 16 → ≤2 exploded buckets per interval, ~8 probes
      // per bucket, ~n output pairs — the keyed-shuffle containment join
      val domain = n * 2
      val probes = docs.select(col("doc_id").as("probe_id"),
        pmod(hash(col("doc_id")), lit(domain)).cast("long").as("x"))
      val ivs = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id").as("interval_id"),
          pmod(hash(col("doc_id"), lit(1)), lit(domain)).cast("long").as("s"))
        .withColumn("e", col("s") + 10)
      graft.ops.IntervalJoin.containment(probes, "x", ivs, "s", "e",
        bucketWidth = 16).count()
    }
    timed("mixture_upsample") {
      graft.ext.TextAnalysis.mixtureUpsample(
        docs.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(20))))
          .select("doc_id", "source"),
        "doc_id", "source", Map("s0" -> 3, "s1" -> 2)).count()
    }
    timed("paragraph_dedup") {
      // 10-token segments over 30-token docs: exact-dup docs lose all 3
      // paragraphs, near-dups lose their first 2 → ~15% of docs shrink
      graft.ext.Dedup.paragraphDedup(docs, "doc_id",
        graft.ext.TextAnalysis.fixedTokenSegments(col("text"), 10)).count()
    }
    timed("vocab_coverage") {
      graft.ext.TextAnalysis.vocabCoverage(docs, "text", 1000).count()
    }
    timed("token_budget") {
      // per-source budget = half the source's ~1.5n/20 tokens → real
      // partial keeps on all 20 window partitions
      val budgets = (0 until 20).map(i => s"s$i" -> n * 3 / 80).toMap
      graft.ext.TextAnalysis.tokenBudgetSample(
        docs.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(20)))),
        "doc_id", "source", "text", budgets).count()
    }

    timed("corpus_diff") {
      // v2 = 5% removed (id tail), 5% changed, 5% added → ~15% of n rows
      // in the delta report
      val v2 = docs.filter(col("doc_id") < n * 19 / 20)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(20)) === 3, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(20)) === 4)
          .select((col("doc_id") + n * 2).as("doc_id"), col("text")))
      graft.ext.Dedup.corpusDiff(docs, v2, "doc_id", "text").count()
    }

    // ------------------------------------------------- similarity family
    timed("classifier_train") {
      // hashed logistic regression: featurize (2 keyed aggs, persisted)
      // + 5 full-batch Adagrad passes, each one map-only scoring pass +
      // one dim-bounded gradient shuffle. Labels are an arbitrary
      // deterministic split — training COST is label-independent, and
      // the soak measures cost, not fit.
      val labeled = docs.withColumn("_y", pmod(col("doc_id"), lit(2)).cast("int"))
      val m = graft.ext.Classifier.train(labeled, "doc_id", "text", "_y",
        dim = 1 << 12, iters = 5, lr = 1.0)
      m.weights.length.toLong
    }
    timed("classifier_score") {
      // the serving gate: map-only over the corpus, weight vector as one
      // literal plan object
      val w = Array.tabulate((1 << 12) + 1)(j => (j % 7 - 3) * 0.1)
      graft.ext.Classifier.score(docs, "doc_id", "text",
        graft.ext.Classifier.Model(w, 1 << 12),
        graft.ext.Classifier.hashIndex(_, 1 << 12)).count()
    }

    // names exactly as printed, so a stage name copied from a previous
    // soak log always selects what it names
    val vectorStages =
      Seq("brute_force_top10", "ivf_train_on_sample", "ivf_assign",
        "ivf_search_nprobe4", "ivf_index_write", "ivf_index_probe",
        "ann_lsh_top10", "semantic_dedup_ivf", "semantic_decontaminate",
        "mining_sets", "knn_join",
        "pq_train_on_sample", "pq_index_write", "pq_adc_serve",
        "ivfpq_train_on_sample", "ivfpq_index_write", "ivfpq_adc_serve",
        "sq_train_bounds", "sq_index_write", "sq_adc_serve")
    if (!vectorStages.exists(selected)) { spark.stop(); return }
    val nVec = math.max(n / 2, 100000L)
    val emb = vectors(spark, nVec)
    val vecDir = vectorsDir(nVec)
    println(s"[soak] vectors: $nVec x 64 at $vecDir")
    def vtimed(name: String)(body: => Long): Unit = stages(name, nVec, "vec")(body)
    // the quantizers train when a stage first needs them; the train is a
    // step of its own, printed when selected by name
    def trained[A](name: String)(body: => A): A = {
      val s = Harness.step(spark)(body)
      if (selected(name)) s.report("soak", name) else s.value
    }
    val q = Array.tabulate(64)(i => ((i * 2654435761L % 1000) / 500.0 - 1.0).toFloat)
    vtimed("brute_force_top10") {
      graft.ext.Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10).count()
    }
    // trained only when an IVF stage needs it (train time printed when
    // explicitly selected or when running unfiltered)
    lazy val centroids = trained("ivf_train_on_sample") {
      graft.ext.Similarity.trainIvfCentroids(
        emb.sample(0.02, 42), "embedding", k = 32, iters = 2)
    }
    if (selected("ivf_train_on_sample")) centroids // force the train + print
    vtimed("ivf_assign") {
      graft.ext.Similarity.ivfAssign(emb, "embedding", centroids)
        .agg(expr("bit_xor(cast(ivf_cell as bigint))")).collect().length.toLong
    }
    vtimed("ivf_search_nprobe4") {
      graft.ext.Similarity.ivfSearch(emb, "vec_id", "embedding", q, 10,
        centroids, nprobe = 4).count()
    }
    def buildIvfIndex(): Unit =
      graft.ext.Similarity.writeIvfIndex(emb, "embedding", "soak_ivf_idx",
        k = centroids.length, cellCol = "ivf_cell",
        basePath = Some(s"$vecDir-ivfidx"), centroids = Some(centroids))
    vtimed("ivf_index_write") {
      // the write-once serve path: quantizer trained ONCE on the sample
      // above, full corpus assigned + written cell-partitioned with the
      // centroid artifact beside it — paid at corpus build, never per query
      buildIvfIndex()
      spark.table("soak_ivf_idx_cells").count()
    }
    // probe-only runs build the index outside the timed block (per-JVM
    // catalog — the table can't come from a prior run, and the build
    // must not pollute the probe's number)
    if (selected("ivf_index_probe") &&
        !spark.catalog.tableExists("soak_ivf_idx_cells")) buildIvfIndex()
    vtimed("ivf_index_probe") {
      // per-query serve cost against the materialized index: reloaded
      // centroids + literal probes that prune cell directories at the scan
      graft.ext.Similarity.ivfSearchIndex(spark, "soak_ivf_idx",
        "vec_id", "embedding", q, 10, nprobe = 4).count()
    }
    vtimed("ann_lsh_top10") {
      graft.ext.Similarity.annTopK(emb, "vec_id", "embedding", q, 10).count()
    }
    // product quantization: 64-dim float (256 B) → one packed BIGINT
    // (8 B) — the compression serve path (m=8 × 256 codes)
    lazy val pqBooks = trained("pq_train_on_sample") {
      graft.ext.Pq.trainCodebooks(
        emb.sample(0.02, 42), "embedding", m = 8, codes = 256, iters = 2)
    }
    if (selected("pq_train_on_sample")) pqBooks
    def buildPqIndex(): Unit =
      graft.ext.Pq.writePqIndex(emb, "vec_id", "embedding", "soak_pq_idx",
        m = 8, codes = 256, basePath = Some(s"$vecDir-pqidx"),
        books = Some(pqBooks))
    vtimed("pq_index_write") {
      // sample-trained codebooks + map-only full-corpus encode: the codes
      // table is the 8-byte-per-vector scan every later query reads
      buildPqIndex()
      spark.table("soak_pq_idx_codes").count()
    }
    if (selected("pq_adc_serve") &&
        !spark.catalog.tableExists("soak_pq_idx_codes")) buildPqIndex()
    vtimed("pq_adc_serve") {
      // per-query serve cost: LUT-projected ADC over the packed codes +
      // exact re-rank of the top candidates against the raw corpus
      graft.ext.Pq.rerankScoresIndex(spark, "soak_pq_idx", emb, "vec_id",
          "embedding", q, candidates = 1000)
        .orderBy(col("score").desc, col("vec_id")).limit(10).count()
    }
    // IVFADC: cell-pruned probes over 12-byte (cell, code) rows — the
    // composed serve layout (cells=256, m=8 × 256 codes on residuals)
    lazy val ivfPqModel = trained("ivfpq_train_on_sample") {
      graft.ext.IvfPq.train(
        emb.sample(0.02, 42), "embedding", cells = 256, m = 8, codes = 256, iters = 2)
    }
    if (selected("ivfpq_train_on_sample")) ivfPqModel
    def buildIvfPqIndex(): Unit =
      graft.ext.IvfPq.writeIvfPqIndex(emb, "vec_id", "embedding",
        "soak_ivfpq_idx", cells = 256, m = 8, codes = 256,
        basePath = Some(s"$vecDir-ivfpqidx"), model = Some(ivfPqModel))
    vtimed("ivfpq_index_write") {
      // sample-trained quantizers + one fused assign+encode map-only scan;
      // the codes table is cell-partitioned for probe-time pruning
      buildIvfPqIndex()
      spark.table("soak_ivfpq_idx_codes").count()
    }
    if (selected("ivfpq_adc_serve") &&
        !spark.catalog.tableExists("soak_ivfpq_idx_codes")) buildIvfPqIndex()
    vtimed("ivfpq_adc_serve") {
      // per-query serve cost: nprobe cell directories read, codegen'd LUT
      // ADC over packed codes, exact re-rank of the top candidates
      graft.ext.IvfPq.rerankScoresIndex(spark, "soak_ivfpq_idx", emb,
          "vec_id", "embedding", q, nprobe = 8, candidates = 1000)
        .orderBy(col("score").desc, col("vec_id")).limit(10).count()
    }
    // SQ8: per-dimension byte quantization — 4× scan compression with
    // near-exact ranking (the cheap point on the compression curve)
    lazy val sqBounds = trained("sq_train_bounds") {
      graft.ext.Sq.trainBounds(emb.sample(0.02, 42), "embedding")
    }
    if (selected("sq_train_bounds")) sqBounds
    def buildSqIndex(): Unit =
      graft.ext.Sq.writeSqIndex(emb, "vec_id", "embedding", "soak_sq_idx",
        basePath = Some(s"$vecDir-sqidx"), bounds = Some(sqBounds))
    vtimed("sq_index_write") {
      buildSqIndex()
      spark.table("soak_sq_idx_codes").count()
    }
    if (selected("sq_adc_serve") &&
        !spark.catalog.tableExists("soak_sq_idx_codes")) buildSqIndex()
    vtimed("sq_adc_serve") {
      graft.ext.Sq.rerankScoresIndex(spark, "soak_sq_idx", emb, "vec_id",
          "embedding", q, candidates = 100)
        .orderBy(col("score").desc, col("vec_id")).limit(10).count()
    }
    vtimed("mining_sets") {
      // contrastive mining for one anchor: two TakeOrdered scans of the
      // corpus (band + md5-drawn negatives), zero corpus shuffles
      graft.ext.Similarity.miningSets(
        emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding",
        emb.filter(col("vec_id") === 0).select("embedding"), "embedding",
        posK = 10, hardK = 20, randK = 20).count()
    }
    vtimed("knn_join") {
      // batch ANN join: ~250-vector cells keep the cell-local quadratic
      // term at ~nVec×250 scored pairs; WindowGroupLimit pre-truncates
      // each vector's candidates to k before the rank shuffle
      val k = math.max(32, (nVec / 250L).toInt)
      val cells = graft.ext.Similarity.trainIvfCentroids(
        emb.sample(0.02, 44), "embedding", k = k, iters = 1)
      val withCell = graft.ext.Similarity.ivfAssign(emb, "embedding", cells)
      graft.ext.Similarity.knnJoinWithinCells(withCell, "vec_id", "embedding",
        "ivf_cell", k = 5).count()
    }
    vtimed("semantic_dedup_ivf") {
      // SemDeDup at scale: the cluster count grows with the corpus so
      // cell sizes stay bounded (the paper's design point) — k here
      // targets ~1k vectors/cell at 1M vectors; the within-cell
      // self-join is the only quadratic term and it is cell-local.
      val k = math.max(32, (nVec / 1000L).toInt)
      val cells = graft.ext.Similarity.trainIvfCentroids(
        emb.sample(0.02, 43), "embedding", k = k, iters = 1)
      val withCell = graft.ext.Similarity.ivfAssign(emb, "embedding", cells)
      graft.ext.Similarity.semanticDedup(withCell, "vec_id", "embedding",
        "ivf_cell", threshold = 0.95).count()
    }
    vtimed("semantic_decontaminate") {
      // exact form: every corpus vector scored against a broadcast 0.1%
      // eval set (nVec/1000 rows) in one map-only anti-join pass — the
      // nVec × |eval| cosine product is the honest exact baseline; an
      // eval set too big to broadcast goes through the celled form
      // (ivfAssign both sides) like semantic_dedup_ivf
      graft.ext.Similarity.decontaminateSemantic(
        emb.filter(pmod(col("vec_id"), lit(1000)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(1000)) === 0),
        "vec_id", "embedding", threshold = 0.95).count()
    }
    spark.stop()
  }
}
