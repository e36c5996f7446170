package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All pure column
  * expressions (codegen'd, map-only — no shuffle until the caller
  * aggregates), so they run at scan speed over a 100 TB corpus.
  */
object TextAnalysis {

  /** Tiny per-language stopword inventories for the heuristic language ID
    * (n-gram/stopword-vote approach; public-knowledge lists).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist", "nicht", "mit"),
    "es" -> Seq("el", "la", "de", "y", "los", "un", "una", "es"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "zai", "you", "he"))

  private def tokens(text: Column): Column = split(text, " ")

  private def stopwordHits(text: Column, words: Seq[String]): Column = {
    val list = words.map(w => s"'$w'").mkString(", ")
    size(filter(tokens(text), t => t.isin(words.map(lit(_).cast("string")): _*)))
  }

  /** Heuristic language ID: vote by stopword hits per language; the winner
    * (score, then language code as tiebreak) is the prediction.
    *
    * Production form: the fused [[graft.functions.StopwordVotes]]
    * expression — every token looked up once in a stopword→language
    * bitmask table, all counters advancing in one compiled pass (the
    * composable HOF form below re-splits the text per language per output
    * column — 2×|languages| interpreted lambda passes per row).
    */
  def langVotes(text: Column): Column =
    graft.functions.StopwordVotes.stopword_votes(text, stopwords.toSeq)

  def langId(text: Column): Column = langVotes(text).getField("lang")

  def langIdScore(text: Column): Column =
    langVotes(text).getField("score").cast("long")

  /** Composable reference form (array_max over (score, lang) structs of
    * HOF stopword counts) — kept as the semantic spec the fused expression
    * must match (asserted in TextAnalysisSpec), same role as the
    * composable shingling path vs the fused MinHash kernels.
    */
  def langIdComposable(text: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(text, words).as("score"), lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  def langIdScoreComposable(text: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(text, words).as("score"), lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("score").cast("long")
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: words plus an extra token per 4 chars of long
    * words — a cheap deterministic proxy for tokenizer budgeting.
    * Production form is the fused single-pass kernel
    * ([[graft.functions.TextKernels]]); the composable HOF reference form
    * below is the semantic spec it must match (TextAnalysisSpec).
    */
  def subwordCount(text: Column): Column =
    graft.functions.TextKernels.subword_count(text, 4)

  def subwordCountComposable(text: Column): Column =
    aggregate(
      transform(tokens(text), t => greatest(ceil(length(t) / 4.0), lit(1L))),
      lit(0L), (acc, x) => acc + x).cast("long")

  /** Quality features + composite score in [0,1]:
    * length band, mean word length band, stopword ratio.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nTok = tokenCount(t)
    val nChars = length(t).cast("long")
    val meanWordLen = (length(regexp_replace(t, " ", "")).cast("double") / nTok)
    // fused one-pass counter (the HOF stopwordHits form re-splits the text
    // through an interpreted lambda — this scan runs corpus-wide)
    val stopRatio = graft.functions.TextKernels
      .stopword_count(t, stopwords("en")).cast("double") / nTok
    df.withColumn("n_tokens", nTok)
      .withColumn("n_chars_calc", nChars)
      .withColumn("mean_word_len", meanWordLen)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("quality_score",
        (when(nChars.between(50, 5000), 0.4).otherwise(0.0)
          + when(meanWordLen.between(3.0, 10.0), 0.3).otherwise(0.0)
          + when(stopRatio.between(0.01, 0.6), 0.3).otherwise(0.0)))
  }

  /** Unigram language-model quality score: each document's mean token
    * surprisal `avg(-ln p(tok))` under a unigram model trained on the
    * corpus itself — the classic LM-filtering curation signal (low =
    * natural high-frequency text, high = gibberish/rare-token soup). One
    * lazy plan: tokenize → token-frequency aggregate → join the
    * frequencies back → per-document mean. At 100 TB the vocab aggregate
    * becomes a top-V broadcast table with an OOV floor probability
    * (replace the frequency join with a broadcast lookup); the plan shape
    * is otherwise unchanged.
    *
    * Per-token surprisals are QUANTIZED (`round(·, decimals)` to an exact
    * DECIMAL) before the exact-sum mean: double summation order varies
    * with partitioning, so an unquantized mean would flicker across
    * cluster widths and re-runs — a curation gate must make the same
    * keep/drop decision every time. Quantization also makes the score
    * engine-portable (oracle-checked by q_lm_score).
    */
  def lmScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      decimals: Int = 6): DataFrame = {
    // NOT persisted, deliberately: the token table feeds the vocab
    // aggregate and the probe side, and re-running the codegen'd explode
    // off the columnar scan measures no worse than materializing 240 M
    // exploded rows (8 M-doc soak, repeated runs within I/O noise) while
    // holding zero cache memory — at real scale an executor-cached
    // row-exploded corpus is strictly worse than a second parquet scan
    val toks = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // The MODEL (vocab) is persisted, not the exploded corpus: without
    // it the `total` scalar below re-runs the whole explode + frequency
    // aggregate as its own subtree (a third full corpus pass — visible
    // as three Generate chains in the round-17 before-plan), because
    // DataFrame reuse is per-plan, not per-object. The vocab is
    // |distinct tokens| rows — the top-V broadcast table of the 100 TB
    // note above — so the cache is model-sized, never corpus-sized.
    // (Round-17 measured-and-reverted alternative: pre-aggregating the
    // explode to per-(doc, tok) counts before every exchange — guide
    // §2.3 — was bit-identical but 20-25% SLOWER at 10× bench scale
    // standalone (1.36 → 1.76 s floor at sf1): the added hash-aggregate
    // pass over every token instance costs more than the compressed
    // probe saves while the vocab join is a broadcast. Numbers in
    // OPTIMIZATION_r17.md.)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("_c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus token total = sum over the vocab rows — |vocab| is tiny, so
    // this never rescans (let alone re-explodes) the corpus
    val total = vocab.agg(sum(col("_c")).as("_n"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        round(-log(col("_c").cast("double") / col("_n")), decimals)
          .cast(org.apache.spark.sql.types.DecimalType(18, decimals)).as("_nll"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_toks"),
        // coarser final quantum than the per-token surprisal — the
        // [[lmScoreBackoff]] tie rationale
        round(sum(col("_nll")).cast("double") / count(lit(1)),
          math.max(0, decimals - 2))
          .as("avg_nll"))
  }

  /** Stupid-backoff n-gram LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the backoff scheme DESIGNED
    * for distributed count-based training: no discount normalization, so
    * the model is just three count tables produced by map-side-combined
    * groupBys, and scoring is three keyed joins; nothing touches the
    * driver). The CCNet-style corpus-quality gate at 100 TB: train counts
    * on a reference slice, score every document, drop the high-surprisal
    * tail.
    *
    * Scheme (α = 0.4, the published constant; S is a score, not a
    * normalized probability — exactly why it distributes):
    *   - position 0 (no context):     S = (c(w)+1) / (N+1)   [add-one
    *     against corpus size: out-of-vocabulary tokens get 1/(N+1),
    *     never log 0]
    *   - position 1 (bigram context): S = c(w1 w)/c(w1), else α·unigram
    *   - position ≥2:  S = c(w2 w1 w)/c(w2 w1), else α·bigram chain
    *
    * Per-token surprisal is quantized ([[lmScore]] discipline: round 6 →
    * DECIMAL sum → rounded mean) so the gate is partitioning- and
    * engine-stable. `tri_hits`/`bi_hits` (exact integers) report
    * coverage — the fraction of positions whose full-order n-gram was
    * seen in training, itself a quality feature.
    *
    * Scale shape: counts are hash-partitioned aggregates of the TRAIN
    * slice only; scoring joins shuffle on the n-gram keys. At 100 TB the
    * join keys become xxhash64(n-gram) (the boilerplate-removal
    * narrowing), and the unigram/total factors broadcast.
    */
  def lmScoreBackoff(
      score: DataFrame,
      train: DataFrame,
      idCol: String,
      textCol: String,
      decimals: Int = 6): DataFrame = {
    import org.apache.spark.sql.functions.{filter => afilter}
    def toksWithId(df: DataFrame): DataFrame = {
      val arr = afilter(split(col(textCol), " "), t => t =!= "")
      df.select(col(idCol), arr.as("_arr"))
        .select(col(idCol), col("_arr"), posexplode(col("_arr")))
        .withColumnRenamed("col", "_w")
        .withColumn("_w1", when(col("pos") >= 1, element_at(col("_arr"), col("pos"))))
        .withColumn("_w2", when(col("pos") >= 2, element_at(col("_arr"), col("pos") - 1)))
        .drop("_arr")
    }
    val trainToks = toksWithId(train)
    val uni = trainToks.groupBy("_w").agg(count(lit(1)).as("_cw"))
    val total = uni.agg(sum(col("_cw")).as("_n"))
    val bi = trainToks.filter(col("_w1").isNotNull)
      .groupBy("_w1", "_w").agg(count(lit(1)).as("_cb"))
    val tri = trainToks.filter(col("_w2").isNotNull)
      .groupBy("_w2", "_w1", "_w").agg(count(lit(1)).as("_ct"))

    // count tables get disjoint key names before the probe joins: probe
    // and counts share the same source scan, and Spark's self-join
    // column resolution is ambiguous on same-name keys
    val probe = toksWithId(score)
    val uniW = uni.select(col("_w").as("_uw"), col("_cw"))
    val uniW1 = uni.select(col("_w").as("_u1w"), col("_cw").as("_cw1"))
    val triK = tri.select(col("_w2").as("_tw2"), col("_w1").as("_tw1"),
      col("_w").as("_tw"), col("_ct"))
    val biK = bi.select(col("_w1").as("_bw1"), col("_w").as("_bw"), col("_cb"))
    val biCtx = bi.select(col("_w1").as("_bcw2"), col("_w").as("_bcw1"),
      col("_cb").as("_cbctx"))
    val joined = probe
      .join(triK, col("_w2") === col("_tw2") && col("_w1") === col("_tw1") &&
        col("_w") === col("_tw"), "left")
      .drop("_tw2", "_tw1", "_tw")
      .join(biK, col("_w1") === col("_bw1") && col("_w") === col("_bw"), "left")
      .drop("_bw1", "_bw")
      .join(biCtx, col("_w2") === col("_bcw2") &&
        col("_w1") === col("_bcw1"), "left")
      .drop("_bcw2", "_bcw1")
      .join(uniW1, col("_w1") === col("_u1w"), "left").drop("_u1w")
      .join(uniW, col("_w") === col("_uw"), "left").drop("_uw")
      .crossJoin(broadcast(total))
    val dbl = (c: String) => col(c).cast("double")
    val addOneUni = (dbl("_cw") + lit(1.0)) / (dbl("_n") + lit(1.0))
    val sScore =
      when(col("_w1").isNull, coalesce(addOneUni, lit(1.0) / (dbl("_n") + lit(1.0))))
        .when(col("_w2").isNull,
          when(col("_cb").isNotNull, dbl("_cb") / dbl("_cw1"))
            .otherwise(lit(0.4) * coalesce(addOneUni, lit(1.0) / (dbl("_n") + lit(1.0)))))
        .otherwise(
          when(col("_ct").isNotNull, dbl("_ct") / dbl("_cbctx"))
            .when(col("_cb").isNotNull, lit(0.4) * dbl("_cb") / dbl("_cw1"))
            .otherwise(lit(0.16) * coalesce(addOneUni, lit(1.0) / (dbl("_n") + lit(1.0)))))
    joined
      .select(col(idCol),
        round(-log(sScore), decimals)
          .cast(org.apache.spark.sql.types.DecimalType(18, decimals)).as("_nll"),
        col("_ct"), col("_cb"), col("_w2"), col("_w1"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_toks"),
        count(col("_ct")).as("tri_hits"),
        count(when(col("_w1").isNotNull, col("_cb"))).as("bi_hits"),
        // the AVERAGE is quantized two decimals coarser than the
        // per-token surprisal: a single per-token rounding tie (Spark's
        // and an oracle engine's ln differing in the last ulp exactly on
        // a .5 boundary — observed once in ~10M tokens at sf0.1) shifts
        // the true average by ~1e-6/n_toks, far inside the coarser
        // quantum, so it can no longer flip the reported value
        round(sum(col("_nll")).cast("double") / count(lit(1)),
          math.max(0, decimals - 2))
          .as("avg_nll"))
  }

  /** 128-bit content fingerprint (md5 hex — portable across engines). */
  def fingerprintMd5(text: Column): Column = md5(text)

  /** 64-bit xxhash fingerprint (fast path for shuffle keys / dedup). */
  def fingerprint64(text: Column): Column = xxhash64(text)

  /** Word n-grams of a text column. Production form is the fused
    * zero-copy kernel ([[graft.functions.TextKernels.word_ngrams]]):
    * each n-gram is a byte-range view of the input (an n-gram joined
    * with the separator it was split on is a contiguous substring), one
    * compiled pass, no token array. Rows with fewer than n tokens yield
    * an empty array.
    */
  def wordNgramsExpr(textCol: String, n: Int): Column =
    graft.functions.TextKernels.word_ngrams(col(textCol), n)

  /** Composable reference form (the semantic spec the fused kernel must
    * match — asserted in TextAnalysisSpec). The guard lives HERE because
    * Spark's sequence(1, 0) counts DOWN (it is not empty) and unguarded
    * element_at would fail the whole job.
    */
  def wordNgramsComposable(textCol: String, n: Int): Column = {
    val parts = (0 until n).map(j => s"element_at(toks, i + $j)").mkString(", ")
    expr(s"""transform(array(split($textCol, ' ')),
             toks -> CASE WHEN size(toks) < $n THEN array()
                          ELSE transform(sequence(1, size(toks) - ${n - 1}),
                                         i -> concat_ws(' ', $parts)) END)[0]""")
  }

  /** Canonical text normalization for dedup preprocessing: Spark's
    * `lower`, then runs of spaces squeezed to one and the ends trimmed.
    * The squeeze-and-trim is the single-pass kernel
    * [[graft.functions.TextKernels.squeeze_spaces]], byte-identical to
    * `trim(regexp_replace(_, " +", " "))`; that regex form is the portable
    * spec and lives in the oracle SQL and the test reference.
    */
  def normalize(text: Column): Column =
    graft.functions.TextKernels.squeeze_spaces(lower(text))

  /** Deterministic, content-addressed train/val/test split: the first hex
    * nibble of md5(key) buckets rows 13/2/1 (≈81%/12.5%/6.25%). Stable
    * across runs, engines, partitionings, and data additions — the
    * property a training pipeline needs so examples never migrate between
    * splits when the corpus grows.
    */
  def stableSplit(key: Column): Column = {
    val nib = substring(md5(key.cast("string")), 1, 1)
    when(nib.isin("d", "e"), "val")
      .when(nib === "f", "test")
      .otherwise("train")
  }

  /** PII-style scrubbing for training text: emails → `<EMAIL>`,
    * URLs → `<URL>`, long digit runs → `<NUM>`, as three leftmost-greedy
    * replacements applied in that order:
    * `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`, `https?://[^ ]+`,
    * `[0-9]{5,}`. The patterns stay in the RE2-compatible subset (no
    * backrefs/lookarounds) so the same regexes run identically on
    * Java-regex and RE2 (DuckDB, Go tooling) engines — scrubbing must be
    * reproducible across the stack that touches the corpus; they live in
    * the oracle SQL and the test reference. Here they run as one
    * codegen'd byte pass, [[graft.functions.TextKernels.redact]],
    * byte-identical to the `regexp_replace` chain: map-only, scan-speed
    * at any scale.
    */
  def redact(text: Column): Column = graft.functions.TextKernels.redact(text)

  /** Eval-set decontamination: flag corpus documents sharing any word
    * n-gram with a held-out evaluation set (the standard guard against
    * benchmark leakage into training data).
    *
    * Shape at 100 TB: the eval side is a benchmark — MBs, not TBs — so
    * its distinct n-gram set is explicitly `broadcast()`; the corpus side
    * is a map-only explode into a broadcast-hash semi-join, no shuffle of
    * corpus data at all. Output keeps every corpus document with its
    * shared-n-gram count so thresholds are a downstream filter, not baked
    * in here.
    */
  def decontaminate(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 8): DataFrame = {
    val corpusGrams = corpus.select(col(idCol),
      explode(array_distinct(wordNgramsExpr(textCol, n))).as("_g"))
    val evalGrams = evalSet
      .select(explode(array_distinct(wordNgramsExpr(evalTextCol, n))).as("_g"))
      .distinct()
    val shared = corpusGrams
      .join(broadcast(evalGrams), "_g")
      .groupBy(idCol)
      .agg(count_distinct(col("_g")).as("n_shared"))
    corpus.select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Scored decontamination: [[decontaminate]]'s policy form. Reports the
    * FRACTION of each document's distinct n-grams that appear in the eval
    * set, plus the drop decision at `threshold` — a document quoting one
    * benchmark sentence survives, wholesale leakage is dropped. Same
    * 100 TB shape as [[decontaminate]] (broadcast eval grams, map-only
    * corpus side); the one difference is a left join instead of a semi
    * join so the per-document gram TOTAL falls out of the same pass.
    */
  def decontaminateScore(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 8,
      threshold: Double = 0.2): DataFrame = {
    val corpusGrams = corpus.select(col(idCol),
      explode(array_distinct(wordNgramsExpr(textCol, n))).as("_g"))
    val evalGrams = evalSet
      .select(explode(array_distinct(wordNgramsExpr(evalTextCol, n))).as("_g"))
      .distinct()
    val perDoc = corpusGrams
      .join(broadcast(evalGrams.withColumn("_hit", lit(1))), Seq("_g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_shared"))
    // docs with < n tokens have no gram rows: restore them at 0 overlap
    val frac = col("n_shared").cast("double") / col("n_grams").cast("double")
    corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_grams").isNotNull, round(frac, 6)).otherwise(0.0)
          .as("overlap_frac"),
        when(col("n_grams").isNotNull, frac >= threshold).otherwise(false)
          .as("drop_doc"))
  }

  /** SPAN-level decontamination — the curation-complete form of
    * [[decontaminate]]: instead of dropping or scoring whole documents,
    * prune the contaminated SPANS (token runs covered by any word n-gram
    * shared with the eval set) and KEEP the document. A doc quoting one
    * benchmark sentence loses that sentence, not its training value.
    * Returns per document: token count, contaminated-token count and
    * fraction (the gate signals), and the text with contaminated spans
    * removed (the cleaned payload) — the [[graft.ext.Dedup.spanDuplicates]]
    * machinery pointed at a benchmark side.
    *
    * Shape at 100 TB: eval n-grams are a benchmark (MBs) → md5'd,
    * deduped, and explicitly `broadcast()`; the corpus side is a map-only
    * positional gram projection (zero-copy slices, 16-byte hashes) into
    * the broadcast join, so NO corpus data shuffles for candidate
    * detection. Only contaminated documents pay the coverage explode
    * (bounded by n × matched grams) and the per-doc aggregation.
    */
  def decontaminateSpans(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 8): DataFrame = {
    val toks = corpus.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_nt", size(col("_toks")))
    val grams = toks.select(col(idCol),
      posexplode(when(col("_nt") >= n,
          transform(sequence(lit(0), col("_nt") - n),
            i => md5(array_join(slice(col("_toks"), i + 1, lit(n)), " "))))
        .otherwise(array().cast("array<string>"))).as(Seq("_pos", "_g")))
    val evalGrams = evalSet
      .select(explode(array_distinct(wordNgramsExpr(evalTextCol, n))).as("_eg"))
      .select(md5(col("_eg")).as("_g"))
      .distinct()
    val cover = grams.join(broadcast(evalGrams), "_g")
      .select(col(idCol), explode(sequence(col("_pos"), col("_pos") + n - 1)).as("_p"))
      .distinct()
    val stats = cover.groupBy(idCol)
      .agg(count(lit(1)).as("_dup"), collect_set(col("_p")).as("_cov"))
    toks.join(stats, Seq(idCol), "left")
      .select(col(idCol),
        col("_nt").cast("long").as("n_tokens"),
        coalesce(col("_dup"), lit(0L)).as("contaminated_tokens"),
        round(coalesce(col("_dup"), lit(0L)) / col("_nt"), 6)
          .as("contaminated_frac"),
        array_join(filter(col("_toks"),
            (_: Column, i: Column) =>
              !array_contains(coalesce(col("_cov"), array().cast("array<int>")), i)),
          " ").as("pruned_text"))
  }

  /** Exact frequent-token mining at a relative support threshold — the
    * corpus-statistics pass before tokenizer/vocabulary work. The total
    * is a broadcast scalar, so the plan is one shuffle family keyed on
    * the token (partial + final agg) plus a broadcast join; no driver
    * loop, no collect. Support is reported as a fraction of all tokens.
    */
  def heavyHitters(df: DataFrame, textCol: String, support: Double): DataFrame = {
    val toks = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val total = toks.agg(count(lit(1)).as("_n_total"))
    toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n").cast("double") >= col("_n_total").cast("double") * support)
      .select(col("tok"), col("n"),
        round(col("n").cast("double") / col("_n_total").cast("double"), 6)
          .as("support"))
  }

  /** Tokenizer-vocabulary coverage: vocab = the top-`vocabSize` corpus
    * tokens (total order: count desc, token asc), then each document's
    * out-of-vocabulary token fraction. Scale shape: the vocab derivation
    * is a keyed count + distributed top-V (TakeOrdered — V rows to the
    * driver, never the counts table), broadcast back against the map-only
    * token explode; the per-document agg is the only corpus-wide shuffle.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String, vocabSize: Int): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(vocabSize)
      .select("tok")
    toks.join(broadcast(vocab.withColumn("_in", lit(1))), Seq("tok"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_toks"),
        count(when(col("_in").isNull, 1)).as("n_oov"))
      .select(col(idCol), col("n_toks"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_toks").cast("double"), 6)
          .as("oov_frac"))
  }

  /** Fixed-size token segmentation: splits a document into consecutive
    * `k`-token paragraphs (the last one may be shorter) — the segmenter
    * [[graft.ext.Dedup.paragraphDedup]] uses on the newline-free test
    * tables. Map-only array projection; real corpora would pass
    * `split(text, "\n\n")` instead.
    */
  def fixedTokenSegments(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    transform(
      sequence(lit(0), floor((size(toks) - 1) / k).cast("int")),
      g => array_join(slice(toks, g * k + 1, lit(k)), " "))
  }

  /** Vocabulary build with a coverage curve: the top-`topV` corpus tokens
    * by frequency (total order: count desc, token asc) with rank,
    * cumulative token count, and the fraction of ALL corpus tokens the
    * vocabulary covers through that rank — the "how big must V be"
    * diagnostic behind tokenizer/vocab sizing.
    *
    * Scale shape: one keyed token count (partial-agg'd — the shuffle
    * carries (token, count), never positions), a distributed top-V
    * (TakeOrdered: V rows, not the counts table), and the corpus total
    * from the same counts aggregate. The rank/cumsum window runs over the
    * V survivors only — bounded by V, independent of corpus size.
    */
  def vocabCoverage(df: DataFrame, textCol: String, topV: Int): DataFrame = {
    val counts = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("_total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("tok"))
    counts
      .orderBy(col("n").desc, col("tok"))
      .limit(topV)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_n", sum(col("n")).over(w))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("tok"), col("n"), col("cum_n"),
        round(col("cum_n").cast("double") / col("_total").cast("double"), 6)
          .as("coverage"))
  }

  /** Per-source token-budget sampling: documents are taken in a
    * content-addressed deterministic order (md5 of the id — re-runs and
    * partitionings agree) and kept while the source's running token count
    * is still under `budgetTokens`; the document that crosses the budget
    * is the last one kept. The mixture-construction step when targets are
    * TOKEN budgets, not document counts or rates — [[mixtureSample]]'s
    * complement for corpora with wildly varying document lengths.
    *
    * Scale shape: one window sort keyed by source (each source packs
    * independently on its own reducer — the [[packSequences]] sharding
    * argument); the token count is a map-only expression. Sources absent
    * from `budgets` are dropped.
    */
  def tokenBudgetSample(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      budgets: Map[String, Long]): DataFrame = {
    val budget = budgets.foldLeft(lit(-1L)) { case (acc, (src, b)) =>
      when(col(sourceCol) === src, lit(b)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("_before") < budget)
      .withColumn("cum_tokens", col("_before") + col("n_tokens"))
      .drop("_before")
  }

  /** Epoch-weighting upsample: the complement of [[mixtureSample]]'s
    * down-sampling. Each source's documents are REPEATED `weight` times
    * (integer weights, default 1), tagged with a copy index so
    * downstream shard shuffling treats copies as distinct examples.
    * Map-only explode — no shuffle at any scale; the standard way
    * high-quality sources get more than one epoch in a mixed corpus
    * without a driver loop or a self-union per epoch.
    */
  def mixtureUpsample(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      weights: Map[String, Int]): DataFrame = {
    val w = weights.foldLeft(lit(1)) { case (acc, (src, k)) =>
      when(col(sourceCol) === src, lit(k)).otherwise(acc)
    }
    df.withColumn("copy", explode(sequence(lit(1), w)))
  }

  /** Sequence packing for training batches: documents, taken in a
    * deterministic order, are assigned to fixed-token-budget training
    * sequences by their running token OFFSET (a document belongs to the
    * window its first token falls in; a straddling document spills into
    * the next window at materialization time). Pure window algebra — one
    * keyed sort, no driver loop — and deterministic, so re-runs pack
    * identically.
    *
    * Packing runs per SHARD (`shardCol`) — each shard is one window
    * partition, so the work distributes: at 100 TB, shard by
    * `stableSplit`/hash bucket and every shard packs independently on its
    * own reducer. (A shard-less global pack would serialize the corpus
    * through one window partition — deliberately not offered.)
    */
  def packSequences(
      df: DataFrame,
      shardCol: String,
      orderCol: String,
      tokenCol: Column,
      budgetTokens: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol)
      .orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("_start_offset", coalesce(sum(tokenCol).over(w), lit(0L)))
      .withColumn("seq_id", (col("_start_offset") / budgetTokens).cast("long"))
      .withColumn("seq_offset", col("_start_offset") % budgetTokens)
      .drop("_start_offset")
  }

  /** Context-window chunking: split each document into overlapping
    * token windows (the embedding-pipeline shape: window size = model
    * context, stride < window for overlap). One row per (doc, window),
    * map-only explode — no shuffle.
    */
  def chunkWindows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      strideTokens: Int): DataFrame =
    df
      .select(col(idCol),
        // fused byte-range kernel; the composable HOF spec it must match
        // is chunkWindowsComposable (parity asserted in TextAnalysisSpec).
        // NULL text emits one (0, null) row — the kernel expression is
        // null-safe (returns NULL, which posexplode would DROP), so the
        // composable form's keep-the-document behavior is restored here.
        posexplode(
          when(col(textCol).isNull, array(lit(null).cast("string")))
            .otherwise(graft.functions.TextKernels
              .chunk_windows(col(textCol), windowTokens, strideTokens)))
          .as(Seq("window_no", "chunk")))
      .withColumn("n_tokens", size(split(col("chunk"), " ")).cast("long"))

  /** Composable reference form of [[chunkWindows]]. */
  def chunkWindowsComposable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      strideTokens: Int): DataFrame =
    df
      .withColumn("_toks", split(col(textCol), " "))
      .select(col(idCol),
        posexplode(expr(
          s"""transform(sequence(1, greatest(size(_toks) - ${windowTokens - 1}, 1), $strideTokens),
              i -> array_join(slice(_toks, i, $windowTokens), ' '))"""))
          .as(Seq("window_no", "chunk")))
      .withColumn("n_tokens", size(split(col("chunk"), " ")).cast("long"))

  /** Deterministic mixture sampling: each source kept at its own target
    * rate via a content-addressed md5 bucket — the data-mixing step of a
    * training pipeline. Reproducible across runs/partitionings (no
    * rand()), and a document's fate never changes as the corpus grows.
    * Sources absent from `weights` are dropped.
    */
  def mixtureSample(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      weights: Map[String, Double]): DataFrame = {
    // md5's first 4 hex chars → uniform bucket in [0, 0x10000), compared
    // LEXICOGRAPHICALLY against the weight's 4-digit hex threshold:
    // fixed-width lowercase hex orders exactly like the number it
    // encodes, so no engine-specific hex→int conversion is needed and
    // any SQL engine replays the same keep/drop decisions. w ≥ 1 maps to
    // "g", which every hex string sorts below (hex digits stop at 'f').
    val bucket = substring(md5(col(idCol).cast("string")), 1, 4)
    def hexThreshold(w: Double): String =
      if (w >= 1.0) "g" else f"${math.round(w * 65536)}%04x"
    val threshold = weights.foldLeft(lit("")) { case (acc, (src, w)) =>
      when(col(sourceCol) === src, lit(hexThreshold(w))).otherwise(acc)
    }
    df.filter(bucket < threshold)
  }

  /** Stratified per-group capped sampling: keep at most `cap` rows per
    * group, chosen by content-addressed md5 order — deterministic across
    * runs, engines, and partitionings (the per-source/per-language cap
    * step of corpus curation, where one dominant source must not swamp
    * the mixture).
    *
    * Scale shape: a rank-filter window. Spark 4 plans `row_number ≤ k`
    * as WindowGroupLimit — each map partition pre-truncates every group
    * to `cap` rows BEFORE the shuffle, so the exchange carries at most
    * `cap × maps` rows per group, not the group's full population.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap)
      .drop("_rk")
  }

  /** Deterministic global shuffle + shard assignment for training-data
    * ordering: shard = first hex nibble of md5(id) (16 shards), pos =
    * rank within the shard by the full md5 — together a reproducible
    * random permutation of the corpus, independent of input order and
    * partitioning (training runs must see the same example order on
    * every re-run and after any upstream repartition).
    *
    * At scale the `pos` window is the production write path itself:
    * `repartition($"shard").sortWithinPartitions(md5)` gives each shard
    * file its position order with ONE shuffle and NO global sort — the
    * window form here exists so the permutation is oracle-checkable
    * row-by-row.
    */
  def shuffleShards(df: DataFrame, idCol: String): DataFrame = {
    val h = shardRankKey(idCol)
    val shardCol = shardOf(idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(h, col(idCol))
    df.withColumn("shard", shardCol)
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** Shard id = first hex nibble of md5(id), 16 shards. ONE definition
    * shared by [[shuffleShards]] and [[shuffleShardsWritePath]] — their
    * whole contract is emitting the SAME permutation, so the keys must be
    * identical by construction, not by parallel edits.
    */
  private def shardOf(idCol: String): Column =
    expr(s"CAST(locate(substring(md5(CAST($idCol AS STRING)), 1, 1), " +
      "'0123456789abcdef') - 1 AS BIGINT)")

  /** Within-shard rank key for the deterministic permutation. */
  private def shardRankKey(idCol: String): Column =
    md5(col(idCol).cast("string"))

  /** Per-group quantile gate: keep rows whose `valueCol` reaches their
    * group's q-quantile — the "drop the shortest/lowest-quality quartile
    * per language/source" curation step, where an absolute threshold
    * would over-prune low-resource groups.
    *
    * Scale shape: the thresholds aggregate is |groups| rows (one keyed
    * shuffle; `percentile` is exact/sort-based — swap in
    * `approx_percentile` at 100 TB, same plan shape, see q_agg_approx for
    * the sketch family) and is broadcast back, so the corpus side is one
    * scan + a broadcast-hash semi-filter, never reshuffled.
    *
    * Output schema: `groupCol` first (USING-join key ordering), then the
    * remaining input columns, then the group's threshold as `_thr` —
    * `_thr` is part of the contract (callers report the applied cutoff,
    * e.g. q_quality_gate's `lang_p25`), not an accidental leak.
    */
  def quantileGate(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      q: Double): DataFrame = {
    val thr = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, $q)").as("_thr"))
    df.join(broadcast(thr), groupCol)
      .filter(col(valueCol) >= col("_thr"))
  }

  /** Write-path twin of [[shuffleShards]]: the SAME permutation produced
    * the way a production job writes it — ONE shuffle
    * (`repartition(shard)`) plus a partition-local sort by the md5 rank
    * key, no window, no global sort. Every row of a shard hashes to the
    * same partition, so `write.partitionBy("shard")` emits one file per
    * shard whose row order IS the shard's `pos` order
    * (parity asserted in TextAnalysisSpec).
    */
  def shuffleShardsWritePath(df: DataFrame, idCol: String): DataFrame = {
    val h = shardRankKey(idCol)
    val shardCol = shardOf(idCol)
    // shard leads the sort: partitioned writers REQUIRE rows ordered by
    // the partition column and would otherwise insert their own
    // (non-stable) re-sort, destroying the md5 order the shard files
    // exist to carry. With shard as the sort prefix the writer's
    // requirement is already satisfied and no extra sort is planned.
    df.withColumn("shard", shardCol)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), h, col(idCol))
  }

  /** Within-document repeated-span pruning: remove every later occurrence
    * of an n-token window already seen earlier in the SAME document — the
    * cleanup counterpart of the Gopher duplicate-bigram SIGNAL (which only
    * flags), aimed at templated/looping web text ("menu menu menu …").
    * Cross-document span dedup is [[graft.ext.Dedup.spanDuplicates]]; this
    * is its document-local form.
    *
    * Scale design: entirely per-row array algebra (windows, prefix-match
    * flags, coverage, rebuild) — a map-only scan with no shuffle at any
    * corpus size; cost is O(L·n) window text + O(W²) prefix scans per doc,
    * bounded by document length, and the codegen'd HOFs keep it inside
    * whole-stage codegen.
    *
    * Output per doc: n_tokens, rep_tokens (positions covered by a repeated
    * window), rep_frac, pruned_text.
    */
  def selfRepetitionPrune(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val grams = when(size(col("_toks")) >= n,
        transform(sequence(lit(0), size(col("_toks")) - n),
          i => array_join(slice(col("_toks"), i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    // flags(i): window i textually equals some window j < i. Guarded: on
    // an empty gram array, sequence(0, -1) DESCENDS and element_at would
    // throw under ANSI.
    val flags = when(size(col("_grams")) > 0,
        transform(sequence(lit(0), size(col("_grams")) - 1),
          i => array_position(slice(col("_grams"), lit(1), i),
            element_at(col("_grams"), i + 1)) > 0))
      .otherwise(array().cast("array<boolean>"))
    // covered(p): some flagged window i spans token position p
    def covered(p: Column): Column =
      exists(sequence(greatest(p - n + 1, lit(0)),
          least(p, size(col("_flags")) - 1)),
        i => element_at(col("_flags"), i + 1))
    df.select(col(idCol), col(textCol))
      .withColumn("_toks", toks)
      .withColumn("_grams", grams)
      .withColumn("_flags", flags)
      .withColumn("_cov", when(size(col("_grams")) > 0,
          transform(sequence(lit(0), size(col("_toks")) - 1), covered(_)))
        .otherwise(array().cast("array<boolean>")))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(filter(col("_cov"), c => c)).cast("long").as("rep_tokens"),
        round(size(filter(col("_cov"), c => c)) / size(col("_toks")), 6).as("rep_frac"),
        array_join(filter(col("_toks"),
            (t: Column, p: Column) =>
              // get(): 0-based and null (not an ANSI error) past the end —
              // _cov is empty for docs shorter than the window
              !coalesce(get(col("_cov"), p), lit(false))),
          " ").as("pruned_text"))
  }

  /** Rolling polynomial hash over tokens (Rabin-Karp style, base 31) —
    * order-sensitive, unlike a bag-of-words hash. Expressed with
    * aggregate() so it is codegen'd. Arithmetic stays below 2^39 (mod 2^33
    * per step) because Spark 4's ANSI mode makes silent long wraparound an
    * overflow error.
    */
  def rollingHash(text: Column): Column = {
    val m = lit(1L << 33)
    aggregate(tokens(text), lit(0L),
      (acc, tok) => pmod(acc * lit(31L) + pmod(xxhash64(tok), m), m))
  }

  /** URL canonicalization for web-corpus dedup — pure built-in column
    * algebra (`parse_url` + array ops, fully codegen-composable, no UDF):
    * lowercase scheme and authority, strip default ports (:80 http,
    * :443 https) and a leading `www.`, drop the fragment, drop tracking
    * parameters (`utm_*`, `gclid`, `fbclid`), SORT the surviving query
    * parameters (param order is not identity), and trim trailing
    * slashes from the path. Percent-encoding is preserved as written
    * (documented envelope: normalizing %-escapes needs a decode table;
    * the canonical form is still deterministic, which is what dedup
    * keys need).
    */
  def normalizeUrl(url: Column): Column = {
    val scheme = lower(try_parse_url(url, lit("PROTOCOL")))
    val auth0 = lower(try_parse_url(url, lit("AUTHORITY")))
    val auth = when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val host = regexp_replace(auth, "^www\\.", "")
    val path = regexp_replace(try_parse_url(url, lit("PATH")), "/+$", "")
    val params = filter(split(try_parse_url(url, lit("QUERY")), "&"),
      p => !(p.startsWith("utm_") || p.startsWith("gclid=") ||
        p.startsWith("fbclid=") || p === ""))
    val q = array_join(array_sort(params), "&")
    // Unparseable URLs (parse_url → NULL scheme/authority) must NOT
    // collapse onto one NULL key — in a dedup pipeline that would merge
    // every malformed URL into a single group (or silently drop them).
    // They pass through verbatim: still a distinct deterministic key.
    val canonical = concat(scheme, lit("://"), host, coalesce(path, lit("")),
      when(coalesce(q, lit("")) === "", lit("")).otherwise(concat(lit("?"), q)))
    when(scheme.isNull || auth0.isNull, url).otherwise(canonical)
  }

  /** Registered-domain approximation (last two host labels after the
    * `www.` strip) — the grouping key for per-site statistics and
    * per-domain boilerplate scopes. A public-suffix list upgrade changes
    * only this function.
    */
  def urlDomain(url: Column): Column = {
    val host = regexp_replace(lower(try_parse_url(url, lit("HOST"))), "^www\\.", "")
    array_join(slice(split(host, "\\."), -2, 2), ".")
  }

  /** Corpus-level line-frequency boilerplate removal (the CCNet /
    * RefinedWeb pattern): a line appearing in more than `maxDf` distinct
    * documents is boilerplate (nav bars, cookie banners, footers) and is
    * dropped from every document; each document is reassembled from its
    * surviving lines in order. Documents whose every line is boilerplate
    * disappear from the output (the usual pipeline semantics — they were
    * all chrome).
    *
    * Scale shape: one line explode (map-side), one distinct-count
    * aggregation keyed by line hash (the count table is bounded by the
    * number of DISTINCT lines, not the corpus), one keyed join back, and
    * a per-document array_sort reassembly — no window functions, no
    * driver state, every stage a plain keyed shuffle that partitions by
    * content at any corpus size. Line identity uses the full line text;
    * at 100 TB swap the join key for xxhash64(line) to shrink shuffle
    * width (same plan shape).
    */
  def stripBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDf: Long): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
    val docFreq = lines.groupBy("_line")
      .agg(countDistinct(col(idCol)).as("_df"))
    lines.join(docFreq, "_line")
      .filter(col("_df") <= maxDf)
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
          x => x.getField("_line")), "\n").as("clean_text"),
        count(lit(1)).cast("long").as("n_lines_kept"))
  }
}
