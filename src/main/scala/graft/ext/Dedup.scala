package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.sources.IndexTables

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All variants are DataFrame algebra (no driver-side loops, no UDFs in
  * the hot path) so every stage is codegen'd and scales by partitioning;
  * the one typed step is candidate pairing's ordered scan per partition:
  *
  *   - exact: hash groupBy on the content (or its md5) — one shuffle keyed
  *     by content hash; at 100 TB the shuffle carries (hash, min_id, count)
  *     after partial aggregation, not documents;
  *   - MinHash+LSH: shingle → k minhashes (a map-only array projection) →
  *     b bands → bucket scan. Candidate generation never compares all
  *     pairs: the only shuffle is one exchange of the band rows on the
  *     bucket key, and pair generation per bucket is capped;
  *   - SimHash: 64 sign-sums over token hashes, reassembled into one
  *     64-bit fingerprint; near-dup = small Hamming distance;
  *   - n-gram Jaccard: exact verification on candidate pairs only.
  */
object Dedup {

  /** Exact dedup: keep the smallest doc_id per identical content.
    * Deterministic (unlike dropDuplicates, which keeps an arbitrary row).
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), md5(col(contentCol)).as("fp"))

  /** Canonical-document selection: dedup on a normalized content-prefix
    * fingerprint, keeping the BEST member of each group instead of the
    * smallest id. "Best" here is the keep-longest policy common in web
    * curation (the longest variant usually carries the most content);
    * ties break to the smallest id so the choice is total and
    * deterministic. Grouping on `md5(prefix(normalize(text)))` collapses
    * near-identical variants — same opening after case/whitespace
    * canonicalization, different casing or tail — that byte-exact dedup
    * keeps apart.
    *
    * Scale shape: the fingerprint is map-only; the survivor choice is a
    * single `max_by` aggregation, so partial aggregation makes the
    * shuffle carry one (len, id) candidate per group per mapper — never
    * the texts.
    */
  def keepBest(
      df: DataFrame,
      textCol: String,
      idCol: String,
      prefixLen: Int = 120): DataFrame = {
    val fp = md5(substring(TextAnalysis.normalize(col(textCol)), 1, prefixLen))
    df.select(col(idCol), fp.as("fp"), length(col(textCol)).cast("long").as("len"))
      .groupBy("fp")
      .agg(
        max_by(col(idCol), struct(col("len"), negate(col(idCol)).as("_neg"))).as("keep_id"),
        count(lit(1)).as("n_members"),
        max(col("len")).as("best_len"))
      .select("keep_id", "n_members", "best_len", "fp")
  }

  /** Incremental exact dedup: dedup a NEW batch against an existing
    * reference corpus — the production shape of exact dedup, where the
    * historical corpus is deduped once and each new crawl/delivery only
    * needs (a) within-batch dedup and (b) an anti-join against the
    * corpus's content fingerprints.
    *
    * Scale design: the corpus side collapses to DISTINCT fingerprints
    * before the join (partial agg makes that shuffle carry fingerprints,
    * not documents), and at 100 TB that fingerprint set is exactly the
    * index you materialize once at write time, bucketed by `fp` — then
    * every batch's anti-join co-locates with it shuffle-free, and the
    * whole historical corpus is never re-scanned. Fingerprint is md5 of
    * the content (engine-portable), matching [[exact]]'s output.
    */
  def incremental(
      newBatch: DataFrame,
      corpus: DataFrame,
      contentCol: String,
      idCol: String,
      corpusIsFingerprintIndex: Boolean = false): DataFrame = {
    // corpusIsFingerprintIndex: `corpus` is already the materialized
    // fingerprint table (an `fp` column — the write-time index this
    // scaladoc describes, e.g. a bucketed table from
    // IndexTables.bucketed). The historical corpus is then never
    // re-scanned, and a bucketed index side joins without reshuffling
    // (DedupSpec proves the plan).
    val corpusFp =
      if (corpusIsFingerprintIndex) corpus.select("fp")
      else corpus.select(md5(col(contentCol)).as("fp")).distinct()
    newBatch
      .groupBy(col(contentCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), md5(col(contentCol)).as("fp"))
      .join(corpusFp, Seq("fp"), "left_anti")
      // Spark's USING-column join moves the key first in the output — for
      // anti joins too (verified by DedupSpec); restore the exact-dedup
      // column order
      .select("keep_id", "n_copies", "fp")
  }

  /** Shingling strategy. Character shingles are robust to tokenization;
    * word shingles (the common choice for text near-dup) are far more
    * selective on natural text — fewer spurious LSH candidates.
    *
    * Production forms are the fused byte-range kernels
    * ([[graft.functions.TextKernels]]): a shingle joined with the
    * separator it was split on is a contiguous substring, so each shingle
    * is a zero-copy view of the input — one compiled pass, no interpreted
    * lambdas and no token array. The composable SQL-lambda forms are kept
    * below as the semantic specs (parity asserted in PropertySpec).
    */
  sealed trait Shingler {
    def apply(textCol: String): Column
    /** Composable HOF reference form — the spec `apply` must match. */
    def composable(textCol: String): Column
  }

  final case class CharShingles(k: Int = 5) extends Shingler {
    def apply(textCol: String): Column =
      array_distinct(graft.functions.TextKernels.char_shingles(col(textCol), k))
    def composable(textCol: String): Column =
      expr(s"array_distinct(transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), " +
        s"i -> substring($textCol, i, $k)))")
  }

  final case class WordShingles(n: Int = 3) extends Shingler {
    def apply(textCol: String): Column =
      array_distinct(graft.functions.TextKernels.word_shingles(col(textCol), n))
    // the outer single-element transform binds the token array ONCE per
    // row — naively referencing split() inside the index lambda re-splits
    // the text per shingle (O(tokens²) interpreted work per document)
    def composable(textCol: String): Column =
      expr(s"""array_distinct(transform(array(split($textCol, ' ')),
               toks -> transform(sequence(1, greatest(size(toks) - ${n - 1}, 1)),
                                 i -> array_join(slice(toks, i, $n), ' ')))[0])""")
  }

  /** MinHash signature per document as ONE `array<bigint>` column `sig`.
    *
    * MAP-ONLY: each shingle string is hashed once, and the k seeded
    * variants are derived by hashing the resulting 8-byte long — all
    * inside nested array lambdas, so the whole signature computation is
    * one codegen'd projection with no explode, no aggregation, and no
    * shuffle: it runs at scan speed and parallelizes embarrassingly at
    * 100 TB. Packing the signature as a single array (rather than k
    * columns) keeps the generated code a small loop instead of k
    * unrolled expressions — k-column unrolling made Janino compilation
    * dominate the wall time at k=64.
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      shingler: Shingler = CharShingles(5),
      widen: Boolean = true): DataFrame = {
    // CPU-heavy map stage: a small parquet file scans as ONE partition,
    // which would serialize the hashing onto one core. Widen only when
    // the scan under-partitions. The partition probe is driver-side
    // planning only (queryExecution.toRdd — no job, no row
    // deserialization); callers whose inputs are already well-partitioned
    // (any real-scale scan) pass widen = false to skip the extra planning
    // pass entirely.
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val src =
      if (widen && df.queryExecution.toRdd.getNumPartitions < parallelism)
        df.repartition(parallelism)
      else df
    // Both shinglers take the FUSED kernel (one compiled pass over the
    // text bytes, no shingle strings materialized — bit-identical output,
    // see MinHashText).
    val sigCol = shingler match {
      case WordShingles(n) =>
        graft.functions.MinHashText.minhash_word_shingles(col(textCol), n, numHashes)
      case CharShingles(k) =>
        graft.functions.MinHashText.minhash_char_shingles(col(textCol), k, numHashes)
    }
    src.select(col(idCol), sigCol.as("sig"))
  }

  /** LSH banding: (id, band_id, band_hash) rows. Docs sharing a band hash
    * are candidate pairs. bands*rowsPerBand must equal numHashes.
    */
  def lshBands(
      signatures: DataFrame,
      idCol: String,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    // band hash = hash of the signature slice (xxhash64 hashes array
    // values natively). The band array is STATICALLY UNROLLED — `bands`
    // is a plan-time constant, and a `transform(sequence(...), b -> ...)`
    // HOF form would run 16 interpreted lambda calls per row corpus-wide
    // (the round-1 key finding: SQL lambdas never codegen; measured as
    // the dominant cost of the band stage at 2M docs).
    val bandHashes = array((0 until bands).map { b =>
      xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    }: _*)
    signatures
      .select(col(idCol), posexplode(bandHashes).as(Seq("band_id", "band_hash")))
  }

  /** Candidate pairs from LSH buckets: distinct (id1, id2) with id1 < id2
    * (id1 = id2 only from duplicate band rows, see below).
    *
    * Sort-scan form, not a self-join and not a bucket aggregation: the raw
    * (band_id, band_hash, id) rows cross ONE hash exchange on the bucket
    * key, each partition sorts them by (band_id, band_hash, id), and one
    * ordered pass ([[RunPairs]]) walks each bucket's run and emits its
    * pairs. Singleton buckets emit nothing and cost one row of the scan.
    * The join form shuffled and sorted the full band table TWICE (both
    * join sides) and emitted a (x,x) row per band row just to filter it —
    * measured 6× slower at 2M docs; the `collect_list` aggregation form
    * built every bucket as one array and paired it through interpreted
    * array lambdas — the orientation anchor's executor CPU per run was
    * about twice this form's (2.1–2.6 s against 1.05–1.31 s at sf0.05).
    *
    * DEGENERATE-BUCKET BOUND: a mass-duplicate family that survives exact
    * dedup shares every band hash, so each of its buckets would emit all
    * O(n²) pairs from one reducer task (a planted 6000-member family × 16
    * band buckets OOMed a full executor heap at 8 M docs when the bucket's
    * pair array was materialized; the bounded form finished in 69 s).
    * Pair generation is therefore capped: a bucket over `maxBucket`
    * members emits full pairs among its first `maxBucket` (ascending-id)
    * members plus a min-id STAR pair for every member past the cap —
    * ≤ maxBucket²/2 + n pairs per bucket instead of n²/2. The scan holds
    * at most `maxBucket` ids per bucket and streams every pair, so no
    * bucket, however hot, is ever built as one array. For the realistic
    * degenerate case (byte-identical boilerplate families) the star pairs
    * verify at Jaccard 1 and keep the whole family one connected
    * component, so downstream clustering/dedup is UNCHANGED; only an
    * adversarial mixed mega-bucket loses pair recall beyond the cap,
    * gracefully instead of exploding one task. The cap costs nothing when
    * no bucket exceeds it.
    *
    * Null ids are dropped (a null is no document). Duplicate (band, id)
    * rows are emitted as (x, x) or repeated pairs, which the terminal
    * `distinct` collapses but does not filter; callers that band one id
    * under several values drop `id1 = id2` themselves.
    *
    * The scan's function is a case class, equal by value: two builds of
    * this plan canonicalize equal (`sameResult`), so a persisted result is
    * found again by the cache manager. A closure would make every build a
    * new plan.
    */
  def candidatePairs(
      bandsDf: DataFrame,
      idCol: String,
      maxBucket: Int = 1024): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val rows = bandsDf
      .select(col("band_id"), col("band_hash"), col(idCol))
      .filter(col(idCol).isNotNull)
    val idType = rows.schema(2).dataType
    val pairSchema = StructType(Seq(StructField("id1", idType), StructField("id2", idType)))
    rows
      .repartition(col("band_id"), col("band_hash"))
      .sortWithinPartitions(col("band_id"), col("band_hash"), col(idCol))
      .mapPartitions(RunPairs(maxBucket))(Encoders.row(pairSchema))
      .distinct()
  }

  /** The ordered scan behind [[candidatePairs]]. Its input is the band
    * rows (band_id, band_hash, id) sorted by all three, so each bucket is
    * one run of ascending ids. The k-th id of a run (from 0) pairs with
    * every id before it while k < `cap` — together the full clique over
    * the first `cap` ids — and with the run's first id from then on (the
    * min-id star). Only the first `cap` ids of a run are held.
    */
  private final case class RunPairs(cap: Int) extends (Iterator[Row] => Iterator[Row]) {
    // by content, so a binary band hash compares by its bytes
    private def sameKey(a: Any, b: Any): Boolean = java.util.Objects.deepEquals(a, b)

    def apply(rows: Iterator[Row]): Iterator[Row] = new Iterator[Row] {
      private val head = scala.collection.mutable.ArrayBuffer.empty[Any]
      private var band: Any = null
      private var hash: Any = null
      private var id: Any = null
      // (head(i), id) is the next pair to emit while i < until
      private var i = 0
      private var until = 0

      def hasNext: Boolean = {
        while (i >= until && rows.hasNext) {
          val r = rows.next()
          id = r.get(2)
          i = 0
          if (head.isEmpty || !sameKey(r.get(0), band) || !sameKey(r.get(1), hash)) {
            head.clear()
            band = r.get(0)
            hash = r.get(1)
            until = 0
          } else until = if (head.size < cap) head.size else 1
          if (head.size < cap) head += id
        }
        i < until
      }

      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException("candidate pair")
        val p = Row(head(i), id)
        i += 1
        p
      }
    }
  }

  /** Materialize the LSH index as first-class WRITE-ONCE tables — the
    * 100 TB production shape the scaladocs above describe: the corpus'
    * band table bucketed by (band_id, band_hash) and its signature table
    * bucketed by the id, written once, so every subsequent batch's
    * near-dup check ([[nearDupAgainstIndex]]) joins the index
    * EXCHANGE-FREE on the index side — the historical corpus is never
    * re-shingled, re-hashed, or re-shuffled per batch.
    *
    * `basePath` places the table data outside the warehouse (external
    * table) — e.g. the curated-dataset prefix on object storage; None
    * writes a managed table. Bucket counts are the usual bucketing
    * trade-off: enough buckets that one bucket ≈ one task's worth of
    * band rows at the corpus' scale.
    */
  private def shinglerTag(s: Shingler): String = s match {
    case CharShingles(k) => s"char:$k"
    case WordShingles(n) => s"word:$n"
  }
  private def parseShingler(tag: String): Shingler = tag.split(":") match {
    case Array("char", k) => CharShingles(k.toInt)
    case Array("word", n) => WordShingles(n.toInt)
    case _ => throw new IllegalArgumentException(s"unknown shingler tag: $tag")
  }

  def writeBandIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tablePrefix: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingler: Shingler = CharShingles(5),
      numBuckets: Int = 8,
      basePath: Option[String] = None): Unit = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) or band hashes drop coverage")
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, shingler)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val idx = IndexTables.Index(tablePrefix, basePath)
    idx.bucketed("bands", lshBands(sigs, idCol, bands, numHashes / bands),
      Seq("band_id", "band_hash"), numBuckets)
    idx.bucketed("sigs", sigs, Seq(idCol), numBuckets)
    // the index's build parameters, recorded beside it: a probe with
    // mismatched hashing/banding/shingling produces band hashes that
    // match NOTHING — recall silently 0 — so the prefix overload of
    // [[nearDupAgainstIndex]] reads this table and self-configures
    val spark = df.sparkSession
    import spark.implicits._
    idx.plain("meta", Seq((numHashes, bands, shinglerTag(shingler), idCol))
      .toDF("num_hashes", "bands", "shingler", "id_col"))
    sigs.unpersist(blocking = false)
  }

  /** Index MAINTENANCE: absorb an ACCEPTED batch into a materialized
    * [[writeBandIndex]] index — the step that closes the incremental
    * dedup lifecycle (probe with [[nearDupAgainstIndex]] → drop the
    * matches → absorb the survivors, so tomorrow's batch dedups against
    * today's). Only the batch is shingled/hashed; its band and signature
    * rows are APPENDED into the bucketed index tables under the index's
    * own recorded build parameters (`_meta`) and the tables' own catalog
    * bucket specs, so the exchange-free probe property is preserved
    * verbatim — cost is O(|batch|), the corpus is never rewritten. Each
    * absorb adds one file per bucket; compact periodically
    * ([[graft.sources.Sources.compactParquet]]) on a long-running ingest.
    */
  def absorbIntoBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      batch: DataFrame,
      textCol: String): Unit = {
    val meta = spark.table(s"${tablePrefix}_meta").head()
    val (numHashes, bands, shingler, idCol) =
      (meta.getAs[Int]("num_hashes"), meta.getAs[Int]("bands"),
        parseShingler(meta.getAs[String]("shingler")), meta.getAs[String]("id_col"))
    val sigs = minHashSignatures(batch, idCol, textCol, numHashes, shingler)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      IndexTables.append(
        lshBands(sigs, idCol, bands, numHashes / bands), s"${tablePrefix}_bands")
      IndexTables.append(sigs, s"${tablePrefix}_sigs")
    } finally sigs.unpersist(blocking = false)
  }

  /** Probe a [[writeBandIndex]] index BY NAME: the build parameters come
    * from the index's own `_meta` table, so the probe cannot silently
    * mis-hash (the failure mode of hand-passing numHashes/bands/shingler
    * that don't match the build: zero candidates, no error).
    */
  def nearDupAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      newBatch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      corpusText: Option[DataFrame]): DataFrame = {
    val meta = spark.table(s"${tablePrefix}_meta").head()
    nearDupAgainstIndex(newBatch,
      spark.table(s"${tablePrefix}_bands"), spark.table(s"${tablePrefix}_sigs"),
      idCol, textCol, threshold,
      numHashes = meta.getAs[Int]("num_hashes"), bands = meta.getAs[Int]("bands"),
      shingler = parseShingler(meta.getAs[String]("shingler")),
      corpusText = corpusText)
  }

  /** Near-dup a NEW batch against a materialized band index
    * ([[writeBandIndex]]) — the incremental MinHash shape: only the batch
    * is shingled and hashed; candidate generation joins the batch's band
    * rows against the bucketed index band table (the index side scans
    * WITHOUT an Exchange — proven on the plan in DedupSpec), and the
    * estimate joins corpus signatures from the id-bucketed signature
    * table, again exchange-free on the index side.
    *
    * With `corpusText` provided, candidates are exact-verified
    * (est-prefilter at threshold−0.2 like [[nearDupMinHash]], then exact
    * shingle Jaccard ≥ threshold); without it — e.g. the index owner
    * doesn't retain payloads — pairs are thresholded on the signature
    * estimate alone. Returns (batch_id, corpus_id, jaccard|est_jaccard).
    * Batch and corpus ids must be disjoint (they are distinct id spaces
    * in the incremental shape by construction).
    */
  def nearDupAgainstIndex(
      newBatch: DataFrame,
      indexBands: DataFrame,
      indexSigs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingler: Shingler = CharShingles(5),
      corpusText: Option[DataFrame] = None): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) or band hashes drop coverage")
    val batchSigs = minHashSignatures(newBatch, idCol, textCol, numHashes, shingler)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val batchBands = lshBands(batchSigs, idCol, bands, numHashes / bands)
    val cand = batchBands
      .select(col("band_id"), col("band_hash"), col(idCol).as("batch_id"))
      .join(indexBands
          .select(col("band_id"), col("band_hash"), col(idCol).as("corpus_id")),
        Seq("band_id", "band_hash"))
      .select("batch_id", "corpus_id")
      .distinct()
    val est = cand
      .join(indexSigs.select(col(idCol).as("corpus_id"), col("sig").as("sig2")),
        "corpus_id")
      .join(batchSigs.select(col(idCol).as("batch_id"), col("sig").as("sig1")),
        "batch_id")
      .withColumn("est_jaccard",
        expr(s"size(filter(zip_with(sig1, sig2, (x, y) -> x = y), v -> v)) " +
          s"/ cast($numHashes as double)"))
      .select("batch_id", "corpus_id", "est_jaccard")
    corpusText match {
      case None => est.filter(col("est_jaccard") >= threshold)
      case Some(ct) =>
        val probable = est.filter(col("est_jaccard") >= threshold - 0.2)
          .select(col("batch_id").as("id1"), col("corpus_id").as("id2"))
        exactJaccard(probable,
            newBatch.select(col(idCol), col(textCol))
              .unionByName(ct.select(col(idCol), col(textCol))),
            idCol, textCol, shingler)
          .filter(col("jaccard") >= threshold)
          .select(col("id1").as("batch_id"), col("id2").as("corpus_id"),
            col("jaccard"))
    }
  }

  /** Estimated Jaccard from signatures: fraction of agreeing minhashes. */
  def estimatedJaccard(
      pairs: DataFrame,
      signatures: DataFrame,
      idCol: String,
      numHashes: Int): DataFrame = {
    val s1 = signatures.select(col(idCol).as("id1"), col("sig").as("sig1"))
    val s2 = signatures.select(col(idCol).as("id2"), col("sig").as("sig2"))
    pairs.join(s1, "id1").join(s2, "id2")
      .withColumn("est_jaccard",
        expr(s"size(filter(zip_with(sig1, sig2, (x, y) -> x = y), v -> v)) / cast($numHashes as double)"))
      .select("id1", "id2", "est_jaccard")
  }

  /** Exact n-gram Jaccard verification of candidate pairs (the only
    * quadratic step, and it runs on candidates, never the corpus).
    */
  /** Shared scaffolding of the pairwise verification kernels
    * ([[exactJaccard]], [[editDistancePairs]]): attach a per-document
    * payload column to both sides of a candidate-pair list, as
    * `(id1, id2, _v1, _v2)`.
    *
    * Payloads are built ONLY for documents that appear in a candidate
    * pair (semi-join first): payload construction is the CPU-heavy step,
    * and candidates are a vanishing fraction of the corpus — at 100 TB
    * materializing payloads for every document would dwarf the
    * verification itself. The payload table is persisted because it
    * feeds both the id1 and id2 join sides; pairs too, because upstream
    * they are themselves a multi-stage LSH pipeline. Both persists are
    * plan-local; callers release via CacheUtils.releaseAll.
    *
    * Join width pinned explicitly: the pair list is tiny in BYTES but
    * each row pays a heavy per-pair kernel, so AQE's byte-based
    * partition coalescing would funnel the verify joins onto a handful
    * of cores (measured 6s → 53s at 2M docs when the candidate stage
    * upstream started producing small-stats output). An explicit
    * repartition is an AQE barrier; the payload-side shuffles match it.
    */
  private def joinCandidatePayloads(
      pairs: DataFrame,
      df: DataFrame,
      idCol: String,
      payload: Column): DataFrame = {
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val candIds = p.select(col("id1").as(idCol))
      .union(p.select(col("id2").as(idCol)))
      .distinct()
    val payloads = df.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), payload.as("_v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val width = pairs.sparkSession.sparkContext.defaultParallelism
    p.repartition(width, col("id1"))
      .join(payloads.select(col(idCol).as("id1"), col("_v").as("_v1")), "id1")
      .repartition(width, col("id2"))
      .join(payloads.select(col(idCol).as("id2"), col("_v").as("_v2")), "id2")
  }

  def exactJaccard(
      pairs: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingler: Shingler = CharShingles(5)): DataFrame =
    joinCandidatePayloads(pairs, df, idCol, shingler(textCol))
      .withColumn("inter", size(array_intersect(col("_v1"), col("_v2"))).cast("double"))
      .withColumn("uni", size(array_union(col("_v1"), col("_v2"))).cast("double"))
      .select(col("id1"), col("id2"), (col("inter") / col("uni")).as("jaccard"))

  /** Exact shingle CONTAINMENT over candidate pairs — the asymmetric twin
    * of [[exactJaccard]]: `c(a,b) = |S(a) ∩ S(b)| / |S(a)|` (and the
    * reverse direction in the same pass). Broder's original distinction:
    * resemblance (Jaccard) is blind to doc-in-doc duplication — a document
    * fully embedded in a much larger one scores near-zero Jaccard but
    * containment ≈ 1 — and containment is the right verification kernel
    * for quote/boilerplate/subset dedup decisions. Like [[exactJaccard]],
    * this only ever runs on a candidate DataFrame from blocking/LSH, never
    * all-pairs. Empty shingle sets score 0 (not null) so the decision
    * column is total.
    */
  def exactContainment(
      pairs: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingler: Shingler = CharShingles(5)): DataFrame =
    joinCandidatePayloads(pairs, df, idCol, array_distinct(shingler(textCol)))
      .withColumn("inter", size(array_intersect(col("_v1"), col("_v2"))).cast("double"))
      .select(col("id1"), col("id2"),
        when(size(col("_v1")) > 0, col("inter") / size(col("_v1")))
          .otherwise(0.0).as("containment_12"),
        when(size(col("_v2")) > 0, col("inter") / size(col("_v2")))
          .otherwise(0.0).as("containment_21"))

  /** Threshold-bounded edit distance over candidate pairs — the
    * VERIFICATION kernel for character-level near-dup (OCR noise, small
    * in-place edits) where set-based Jaccard is blind to transpositions.
    *
    * Never all-pairs: like [[exactJaccard]], this only ever runs on a
    * candidate DataFrame from blocking/LSH. Two scale bounds on the
    * O(len²) kernel itself: Spark's `levenshtein(l, r, threshold)` is the
    * BANDED variant (O(threshold·len), returns -1 past the threshold —
    * exactly what a dedup decision needs), and `prefixLen > 0` caps the
    * compared text (prefix fingerprinting; document edits concentrate
    * early, and a full-document distance on book-length rows is never
    * worth its cost at 100 TB).
    */
  def editDistancePairs(
      pairs: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Int,
      prefixLen: Int = 0): DataFrame = {
    require(threshold >= 0, s"threshold must be >= 0, got $threshold")
    val content =
      if (prefixLen > 0) substring(col(textCol), 1, prefixLen) else col(textCol)
    joinCandidatePayloads(pairs, df, idCol, content)
      .select(col("id1"), col("id2"),
        levenshtein(col("_v1"), col("_v2"), threshold).as("edit_distance"))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates → exact verification →
    * pairs with jaccard ≥ threshold.
    *
    * Caching note: the persisted intermediates (signatures, band buckets,
    * shingle sets) are plan-local and stay cached for the session; a
    * long-lived caller running many batches should release them between
    * units of work via [[graft.ops.CacheUtils.releaseAll]].
    */
  /** Shingle-space occupancy on a bounded sample: distinct shingles /
    * emitted shingle instances over `sampleDocs` documents. Natural text
    * with char-5 or word-3 shingles sits well above 0.1 (most shingles
    * are novel); a LOW value means a tiny shingle vocabulary shared by
    * every document — MinHash signatures then collide regardless of the
    * band layout and LSH degenerates toward all-pairs. This is the
    * misconfiguration the 40 M-doc soak hit (char shingles over a
    * low-entropy corpus → 882 M candidate pairs); at 100 TB it is a
    * cluster-wide blow-up, so it is worth one bounded sample job to
    * detect BEFORE the corpus-wide shuffle. The sample is the first
    * `sampleDocs` rows (one small job, no full scan).
    */
  def shingleOccupancy(
      df: DataFrame,
      textCol: String,
      shingler: Shingler,
      sampleDocs: Int = 2048): Double = {
    val row = df.select(shingler(textCol).as("sh")).limit(sampleDocs)
      .select(explode(col("sh")).as("s"))
      .agg(approx_count_distinct(col("s")).as("d"), count(lit(1)).as("n"))
      .head()
    val n = row.getAs[Long]("n")
    if (n == 0L) 1.0 else row.getAs[Long]("d").toDouble / n
  }

  /** Entropy guard for the shingling choice: when a CharShingles corpus
    * samples below `minOccupancy`, auto-widen to word shingles (the
    * selective choice for repetitive text) and warn; otherwise keep the
    * caller's shingler. Word shingles pass through untouched — the guard
    * exists for the char-shingle default, whose failure mode is silent
    * until the candidate explosion.
    */
  def guardedShingler(
      df: DataFrame,
      textCol: String,
      shingler: Shingler,
      sampleDocs: Int = 2048,
      minOccupancy: Double = 0.05): Shingler = shingler match {
    case cs: CharShingles =>
      val occ = shingleOccupancy(df, textCol, cs, sampleDocs)
      if (occ >= minOccupancy) cs
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"char-shingle occupancy $occ < $minOccupancy on a $sampleDocs-doc " +
            "sample: low-entropy corpus, LSH would degenerate toward " +
            "all-pairs; widening to WordShingles(3)")
        WordShingles(3)
      }
    case other => other
  }

  def nearDupMinHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingler: Shingler = CharShingles(5),
      // default-ON: the guard is one bounded 2048-doc sample job, and the
      // misconfiguration it prevents (char shingles over a low-entropy
      // corpus -> 882 M candidate pairs in the 40 M-doc soak) is a
      // cluster-wide blow-up at 100 TB — silent-off is the wrong default
      // for the served path; callers that pre-vetted their corpus can
      // still opt out explicitly
      guardEntropy: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val effShingler =
      if (guardEntropy) guardedShingler(df, textCol, shingler) else shingler
    // Stage discipline for scale: (1) signatures materialized once (the
    // band self-join reads them from cache instead of re-aggregating the
    // shingle explode per side); (2) the cheap signature-agreement
    // estimate prunes candidates BEFORE the expensive exact shingle-set
    // intersection — only near-threshold pairs pay for verification.
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, effShingler)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = candidatePairs(lshBands(sigs, idCol, bands, numHashes / bands), idCol)
    val probable = estimatedJaccard(cand, sigs, idCol, numHashes)
      .filter(col("est_jaccard") >= threshold - 0.2)
      .select("id1", "id2")
    exactJaccard(probable, df, idCol, textCol, effShingler)
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected pair list (id1, id2) by
    * iterative min-label propagation, driver-orchestrated. Returns
    * (id, label) with label = min id of the component.
    *
    * Scale discipline (each round):
    *   - the new label frontier is `localCheckpoint`ed LAZILY, then the
    *     change count is the FIRST action over it — so one job per round
    *     both materializes the round's labels and detects convergence,
    *     and the materialized RDD TRUNCATES THE LINEAGE: round N's plan
    *     is one join over cached edges + round N-1's checkpointed RDD,
    *     never the accumulated DAG of all prior rounds (which would
    *     balloon planning and recomputation-on-failure cost at 100 TB);
    *   - rounds needed ≈ graph diameter (near-dup clusters are shallow);
    *     a non-converged exit (diameter > maxIter, e.g. a pathological
    *     chain) is LOGGED loudly rather than silently returning split
    *     clusters.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // The loop runs on a CLONED session (shared SparkContext, catalog and
    // cache; isolated runtime conf): it wants AQE off and a measured
    // shuffle width (below), and setting those on the caller's session
    // would silently apply to any concurrent query on it. The edge plan is
    // re-bound into the clone zero-copy (Bridge.rebind — same logical
    // plan, re-planned under the clone's conf; no RDD row round-trip).
    // pooled + leased per (context, purpose) — see [[LoopSessions]]: a
    // concurrent CC call gets its own clone, so this call's measured
    // width and AQE toggle are never observed mid-loop by another
    val caller = pairs.sparkSession
    LoopSessions.withLoopSession(caller, "dedup.cc") { spark =>
    // materialize the edge cache BEFORE the loop: the rounds' joins spawn
    // AQE broadcast-stage jobs concurrently, and against a lazily-persisted
    // edge list each of them races to recompute the full upstream pairs
    // pipeline (observed: the same 15-CPU-s signature pass running 10×
    // in parallel). CC is already driver-orchestrated/eager, so the
    // up-front count() costs nothing extra semantically.
    val srcEdges = pairs.select(col("id1"), col("id2"))
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val rawEdges = org.apache.spark.sql.graftbridge.Bridge.rebind(spark, srcEdges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = rawEdges.count()
    // Size the edge list from its MEASURED count — the union inherits the
    // upstream plan's partitioning (there is no shuffle for AQE to
    // re-coalesce), so a tiny pair list otherwise drags 64 near-empty
    // partitions through every round (observed as 128-task stages over
    // ~500 rows), while a huge one stays as wide as it was written.
    // coalesce() keeps it shuffle-free; ~1M edges per partition keeps a
    // partition's share of the per-round join comfortably in memory, and
    // a well-partitioned big edge list (count/1M ≥ current width) is left
    // alone. Only re-shape on >2× over-partitioning — churn below that
    // isn't worth re-caching.
    val targetParts = (edgeCount / 1000000L + 1L).toInt
    val edges =
      if (rawEdges.rdd.getNumPartitions > 2 * targetParts)
        rawEdges.coalesce(targetParts).persist(StorageLevel.MEMORY_AND_DISK)
      else rawEdges
    if (edges ne rawEdges) { edges.count(); rawEdges.unpersist(blocking = false) }
    val idType = edges.schema("id1").dataType
    val nullOwn = lit(null).cast(idType).as("own")
    // AQE off for the loop's actions — on the CLONE only: its shuffle keys
    // are document ids — uniform by construction, nothing for the skew
    // planner to fix — and the partition width is already set from the
    // measured edge count, so adaptive re-planning buys nothing while its
    // per-round query-stage re-optimization dominates wall time on small
    // graphs (each round is a separate action, so the cost repeats).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // with AQE off, the loop's shuffle width must be set explicitly —
    // and the measured edge count gives the right number directly (the
    // same ~1M-edges-per-partition sizing as the edge cache). Without
    // this, a ~1k-edge graph drags the session default width through
    // every chained round stage, and task-launch overhead dominates.
    spark.conf.set("spark.sql.shuffle.partitions", targetParts.toString)
    // Round 1 needs NO join: a neighbor's label IS its id, so the seed
    // round is one min-aggregation over (own id ∪ neighbor ids) — one
    // shuffle replaces the old identity-seed distinct plus a full
    // join round. The `own` marker (set only on own-label rows) carries
    // the previous label through the same aggregation, so convergence
    // detection costs no extra shuffle or job.
    var next = edges.select(col("id1").as("id"), col("id1").as("label"), col("id1").as("own"))
      .union(edges.select(col("id1").as("id"), col("id2").as("label"), nullOwn))
      .groupBy("id")
      .agg(min("label").as("label"), max("own").as("prev"))
      .localCheckpoint(eager = false)
    var changed = next.filter(col("label") < col("prev")).count()
    var labels = next.select("id", "label")
    var i = 1
    while (changed > 0 && i < maxIter) {
      // One round = TWO shuffles, not three: neighbor labels (join) are
      // UNIONed with own labels and a single min-aggregation both merges
      // them and carries the previous label for change detection. The
      // old join+groupBy+left-join shape paid a third shuffle per round
      // for the same result. `labels` is 1 row per id after aggregation,
      // so the mapping join never fans out.
      //
      // Convergence is checked every SECOND round: the count() is the
      // round's only job, so checking at stride 2 halves the job count.
      // Each round still lazily checkpoints, so the un-counted round's
      // checkpoint simply materializes inside the next count's job and
      // lineage stays one round deep. The only cost is at most one
      // wasted propagation round after convergence — a no-op on
      // already-stable labels, far cheaper than a per-round driver job.
      val rounds = math.min(2, maxIter - i)
      for (_ <- 0 until rounds) {
        val neighborLabels = edges
          .join(labels, edges("id2") === labels("id"))
          .select(edges("id1").as("id"), col("label"), nullOwn)
        // POINTER JUMP: also adopt the label of one's own label
        // (label(label(id))). Pure neighbor propagation moves a min one
        // hop per round — O(diameter) rounds, which on chain-shaped
        // components (the q_cc_chains case) meant dozens of driver
        // round-trips. Following the label pointer doubles the reach
        // each round instead: O(log diameter) rounds. Converges to the
        // same fixpoint (labels still only ever decrease, and only to
        // labels already held within the component).
        val jumped = labels.select(col("id"), col("label").as("_via"))
          .join(labels.select(col("id").as("_via"), col("label").as("_vlabel")), "_via")
          .select(col("id"), col("_vlabel").as("label"), nullOwn)
        next = labels
          .select(col("id"), col("label"), col("label").as("own"))
          .union(neighborLabels)
          .union(jumped)
          .groupBy("id")
          .agg(min("label").as("label"), max("own").as("prev"))
          .localCheckpoint(eager = false)
        labels = next.select("id", "label")
        i += 1
      }
      // `prev` spans only the LAST propagation round, so a change in the
      // first of the two rounds that settles by the second is invisible
      // here — correctly so: convergence means the last round changed
      // nothing, which is exactly what this counts.
      changed = next.filter(col("label") < col("prev")).count()
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents exited UNCONVERGED after $maxIter rounds " +
          s"($changed labels still changing) — returned clusters may be split; " +
          "raise maxIter for graphs with diameter > maxIter")
    edges.unpersist(blocking = false)
    // Re-bind the result to the CALLER's session (zero-copy): labels is
    // checkpointed (RDD-backed, one round of lineage), and downstream
    // plans over it run under the caller's conf, not the clone's
    // loop-tuned one.
    org.apache.spark.sql.graftbridge.Bridge.rebind(caller, labels)
    } // lease ends: labels are checkpoint-materialized, conf may be retuned
  }

  /** Near-dup clustering: MinHash-LSH pairs → connected components →
    * every document mapped to its cluster representative (min id; docs
    * with no near-dup map to themselves). Downstream keep-one dedup is
    * `filter(col(idCol) === col("cluster_rep"))`.
    */
  def nearDupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingler: Shingler = CharShingles(5)): DataFrame = {
    val pairs = nearDupMinHash(df, idCol, textCol, threshold, numHashes, bands, shingler)
      .select("id1", "id2")
    val cc = connectedComponents(pairs)
    df.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("cluster_rep"))
  }

  /** SimHash 64-bit fingerprint per document: per-token 64-bit hashes,
    * per-bit ±1 sums, sign → bit. Pure aggregates: one explode + one
    * groupBy with 64 codegen'd conditional sums.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(array_distinct(split(col(textCol), " "))).as("_tok"))
      .withColumn("_h", xxhash64(col("_tok")))
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("_h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    val summed = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val fingerprint = (0 until 64)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    summed.select(col(idCol), fingerprint.as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints (bit_count of xor). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Hamming-blocked near-dup pairs over ANY 64-bit fingerprint column
    * (SimHash text fingerprints, perceptual image hashes, …): the 64
    * bits split into `nBlocks` near-equal-width sub-keys, and candidates
    * are keyed on every `(nBlocks - maxHamming)`-subset of blocks — a
    * pair within the distance budget has flipped bits in at most
    * `maxHamming` blocks, so at least one such subset is error-free on
    * both sides (pigeonhole) and they MUST share that compound key.
    * Exact Hamming verifies every candidate, so recall is exact at any
    * `nBlocks`. The multi-table scheme is Manku/Jain/Sarma's simhash
    * blocking (WWW'07 §3).
    *
    * `nBlocks` is the collision-vs-fanout dial and the SCALE knob. The
    * default (`maxHamming + 1`, subsets of size 1) emits one key per
    * block but keys are only `64/(maxHamming+1)` bits wide — at
    * maxHamming=3 that is 16-bit keys, 65k buckets, and ~n²/65k random
    * candidate pairs, which measured as a disk-filling ~2 billion pairs
    * at 8 M docs. Raising `nBlocks` widens the compound key
    * (`64·(nBlocks-maxHamming)/nBlocks` bits) at the cost of
    * `C(nBlocks, maxHamming)` keys per row: at maxHamming=3,
    * `nBlocks = 6` is 20 keys of ~32 bits — a 5× band table that kills
    * the quadratic collision term entirely. Rule of thumb: pick the
    * smallest `nBlocks` whose compound key width exceeds log2(corpus).
    *
    * The block table is an LSH band table in all but name, so candidate
    * generation goes through [[candidatePairs]] and inherits its
    * degenerate-bucket bound: a mass family of identical fingerprints
    * (empty/constant payloads all hash to the same 64 bits) emits
    * capped-clique + min-id star pairs instead of an unbounded
    * one-reducer quadratic join — stars verify at Hamming 0, so the
    * family still surfaces and clusters whole.
    */
  private def resolveHammingBlocks(maxHamming: Int, nBlocks: Int): Int = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val blocksN = if (nBlocks == 0) maxHamming + 1 else nBlocks
    require(blocksN > maxHamming && blocksN <= 64,
      s"nBlocks must be in (maxHamming, 64], got $blocksN")
    blocksN
  }

  /** The Hamming block-subset band table for [[hammingPairs64]] /
    * [[writeHammingIndex]]: one (band_id, band_hash, id) row per
    * `(blocksN - maxHamming)`-subset of the fingerprint's blocks.
    * Index build and probe MUST run this with identical (maxHamming,
    * blocksN) or band hashes match nothing — which is why the index
    * records them in its `_meta` table.
    */
  /** Number of block subsets the pigeonhole banding emits per row. */
  private[graft] def hammingSubsetCount(maxHamming: Int, blocksN: Int): Int =
    (0 until blocksN).combinations(blocksN - maxHamming).size

  private[graft] def hammingBands(
      fp: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int,
      blocksN: Int,
      subsetFrom: Int = 0,
      subsetUntil: Int = Int.MaxValue): DataFrame = {
    // [subsetFrom, subsetUntil) selects a WAVE of the subset family so
    // high-fan-out callers (the D4 orbit pairing) can split one huge
    // band-row shuffle into bounded-footprint passes; the union of all
    // waves' candidate pairs equals the single-pass candidate set because
    // a pair is a candidate iff it shares ANY one subset band
    // keep GLOBAL subset indices as band ids so wave calls stay
    // join-compatible with full-range callers (the persisted indexes)
    val subsets = (0 until blocksN).combinations(blocksN - maxHamming)
      .toVector.zipWithIndex
      .filter { case (_, i) => i >= subsetFrom && i < subsetUntil }
    require(subsets.size <= 512,
      s"C($blocksN, $maxHamming) = ${subsets.size} block subsets — " +
        "per-row key fanout too high; lower nBlocks or raise maxHamming")
    // near-equal widths: the first (64 % blocksN) blocks get one extra bit
    val bounds = (0 until blocksN).scanLeft(0)((s, i) =>
      s + 64 / blocksN + (if (i < 64 % blocksN) 1 else 0))
    def blockVal(i: Int): Column = {
      val width = bounds(i + 1) - bounds(i)
      val mask = if (width == 64) -1L else (1L << width) - 1 // JVM shifts are mod 64
      shiftright(col(fpCol), bounds(i)).bitwiseAND(mask)
    }
    // compound key: the subset's block values bit-concatenated (exact, no
    // hash collisions; total width = 64·|subset|/blocksN ≤ 64 always fits)
    val keys = subsets.map { case (s, si) =>
      val compound = s.foldLeft(lit(0L): Column) { (acc, i) =>
        shiftleft(acc, bounds(i + 1) - bounds(i)).bitwiseOR(blockVal(i))
      }
      struct(lit(si).as("band_id"), compound.as("band_hash"))
    }
    fp.select(col(idCol), explode(array(keys: _*)).as("b"))
      .select(col("b.band_id"), col("b.band_hash"), col(idCol))
  }

  def hammingPairs64(
      fp: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1024,
      nBlocks: Int = 0): DataFrame = {
    val blocksN = resolveHammingBlocks(maxHamming, nBlocks)
    val bands = hammingBands(fp, idCol, fpCol, maxHamming, blocksN)
    candidatePairs(bands, idCol, maxBucket)
      .join(fp.select(col(idCol).as("id1"), col(fpCol).as("fp1")), "id1")
      .join(fp.select(col(idCol).as("id2"), col(fpCol).as("fp2")), "id2")
      .select(col("id1"), col("id2"), hamming64(col("fp1"), col("fp2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs: [[simHash]] fingerprints through the
    * [[hammingPairs64]] pigeonhole blocking. `nBlocks` passes through —
    * see [[hammingPairs64]] for sizing it to the corpus.
    */
  def nearDupSimHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      nBlocks: Int = 0): DataFrame =
    hammingPairs64(simHash(df, idCol, textCol), idCol, "simhash", maxHamming,
      nBlocks = nBlocks)

  /** Materialize a Hamming-space fingerprint index as WRITE-ONCE bucketed
    * tables — [[writeBandIndex]]'s 64-bit-fingerprint sibling, serving
    * SimHash text fingerprints and perceptual image hashes alike: the
    * corpus' block-subset band table bucketed by (band_id, band_hash) and
    * its fingerprint table bucketed by id, so every subsequent batch's
    * near-dup check ([[hammingAgainstIndex]]) joins the index
    * EXCHANGE-FREE on the index side — the historical corpus is never
    * re-banded or re-shuffled per batch. The build parameters
    * (maxHamming, nBlocks) are recorded in a `_meta` table because a
    * probe banded with different parameters matches NOTHING — recall
    * silently 0 — so the probe self-configures from the index.
    */
  def writeHammingIndex(
      fp: DataFrame,
      idCol: String,
      fpCol: String,
      tablePrefix: String,
      maxHamming: Int = 3,
      nBlocks: Int = 0,
      numBuckets: Int = 8,
      basePath: Option[String] = None): Unit = {
    val blocksN = resolveHammingBlocks(maxHamming, nBlocks)
    val idx = IndexTables.Index(tablePrefix, basePath)
    idx.bucketed("bands", hammingBands(fp, idCol, fpCol, maxHamming, blocksN),
      Seq("band_id", "band_hash"), numBuckets)
    idx.bucketed("fps", fp.select(col(idCol), col(fpCol)), Seq(idCol), numBuckets)
    val spark = fp.sparkSession
    import spark.implicits._
    idx.plain("meta", Seq((maxHamming, blocksN, idCol, fpCol))
      .toDF("max_hamming", "n_blocks", "id_col", "fp_col"))
  }

  /** Index MAINTENANCE for the Hamming family — [[absorbIntoBandIndex]]'s
    * fingerprint sibling: band an accepted batch under the index's own
    * `_meta` blocking parameters and append into the bucketed band/fp
    * tables (catalog bucket specs, exchange-free probes preserved).
    */
  def absorbIntoHammingIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      batchFp: DataFrame): Unit = {
    val meta = spark.table(s"${tablePrefix}_meta").head()
    val (maxHamming, nBlocks, idCol, fpCol) =
      (meta.getAs[Int]("max_hamming"), meta.getAs[Int]("n_blocks"),
        meta.getAs[String]("id_col"), meta.getAs[String]("fp_col"))
    IndexTables.append(hammingBands(batchFp, idCol, fpCol, maxHamming, nBlocks),
      s"${tablePrefix}_bands")
    IndexTables.append(batchFp.select(col(idCol), col(fpCol)), s"${tablePrefix}_fps")
  }

  /** Near-dup a NEW batch of fingerprints against a materialized
    * [[writeHammingIndex]] index — the incremental Hamming shape: only
    * the batch is banded; candidates join the batch's band rows against
    * the bucketed index band table and verify against the id-bucketed
    * fingerprint table, both WITHOUT an Exchange on the index side
    * (proven on the plan in DedupSpec). Blocking parameters come from the
    * index's own `_meta` table, so the probe cannot silently mis-band.
    * Returns (batch_id, corpus_id, hamming) with hamming ≤ the index's
    * maxHamming. Batch and corpus ids must be disjoint (distinct id
    * spaces in the incremental shape by construction).
    */
  def hammingAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      newBatch: DataFrame,
      idCol: String,
      fpCol: String): DataFrame = {
    val meta = spark.table(s"${tablePrefix}_meta").head()
    val (maxHamming, blocksN) =
      (meta.getAs[Int]("max_hamming"), meta.getAs[Int]("n_blocks"))
    val (idxId, idxFp) = (meta.getAs[String]("id_col"), meta.getAs[String]("fp_col"))
    val cand = hammingBands(newBatch, idCol, fpCol, maxHamming, blocksN)
      .select(col("band_id"), col("band_hash"), col(idCol).as("batch_id"))
      .join(spark.table(s"${tablePrefix}_bands")
          .select(col("band_id"), col("band_hash"), col(idxId).as("corpus_id")),
        Seq("band_id", "band_hash"))
      .select("batch_id", "corpus_id")
      .distinct()
    cand
      .join(spark.table(s"${tablePrefix}_fps")
          .select(col(idxId).as("corpus_id"), col(idxFp).as("fp2")), "corpus_id")
      .join(newBatch.select(col(idCol).as("batch_id"), col(fpCol).as("fp1")),
        "batch_id")
      .select(col("batch_id"), col("corpus_id"),
        hamming64(col("fp1"), col("fp2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Span-level (substring) deduplication over sliding word n-grams — the
    * distributed form of exact-substring dedup ("Deduplicating Training
    * Data Makes Language Models Better", Lee et al. 2021, which uses a
    * suffix array on one machine; the n-gram-window formulation is the
    * shuffle-friendly equivalent at a fixed match length). A span is
    * duplicated when its n-token window occurs in >= minDocs distinct
    * documents. Per document this reports the token coverage of
    * duplicated windows and the text with those spans removed — the two
    * shapes a curation pipeline consumes (a gate signal and the cleaned
    * text).
    *
    * Scale design: window generation is a map-only array projection (one
    * md5 per window over a zero-copy slice — no per-window string row
    * until the explode, which carries only (id, pos, 16-byte hash)). The
    * shuffles are (a) the window-frequency groupBy keyed by gram hash,
    * partial-agg'd so it moves (hash, doc-count) not text, and (b) the
    * hash-keyed join of occurrences against the duplicated-gram set. The
    * coverage explode is bounded by n x duplicated windows only, never
    * the corpus. At 100 TB the duplicated-gram set is what you
    * materialize once as a bucketed index keyed by gram hash (the
    * [[incremental]] pattern), so per-batch span dedup joins it
    * shuffle-free.
    */
  private def spanToks(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("_toks"))
      .withColumn("_nt", size(col("_toks")))

  private def spanGrams(toks: DataFrame, idCol: String, n: Int): DataFrame =
    toks.select(col(idCol),
      posexplode(when(col("_nt") >= n,
          transform(sequence(lit(0), col("_nt") - n),
            i => md5(array_join(slice(col("_toks"), i + 1, lit(n)), " "))))
        .otherwise(array().cast("array<string>"))).as(Seq("_pos", "_g")))

  /** Coverage + reassembly half of span dedup: mark every token position
    * covered by a window whose gram hash is in `dupGrams`, report per-doc
    * coverage stats and the text with covered spans removed.
    */
  private def spanAssemble(
      toks: DataFrame,
      grams: DataFrame,
      dupGrams: DataFrame,
      idCol: String,
      n: Int): DataFrame = {
    val cover = grams.join(dupGrams.select("_g"), "_g")
      .select(col(idCol), explode(sequence(col("_pos"), col("_pos") + n - 1)).as("_p"))
      .distinct()
    val stats = cover.groupBy(idCol)
      .agg(count(lit(1)).as("_dup"), collect_set(col("_p")).as("_cov"))
    toks.join(stats, Seq(idCol), "left")
      .select(col(idCol),
        col("_nt").cast("long").as("n_tokens"),
        coalesce(col("_dup"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("_dup"), lit(0L)) / col("_nt"), 6).as("dup_frac"),
        array_join(filter(col("_toks"),
            (t: Column, i: Column) =>
              !array_contains(coalesce(col("_cov"), array().cast("array<int>")), i)),
          " ").as("pruned_text"))
  }

  def spanDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minDocs: Int = 2): DataFrame = {
    val toks = spanToks(df, idCol, textCol)
    val grams = spanGrams(toks, idCol, n)
    val dupGrams = grams
      .groupBy("_g").agg(countDistinct(col(idCol)).as("_docs"))
      .filter(col("_docs") >= minDocs)
      .select("_g")
    spanAssemble(toks, grams, dupGrams, idCol, n)
  }

  /** Materialize the duplicated-gram set as a WRITE-ONCE bucketed index —
    * the 100 TB shape [[spanDuplicates]]'s scaladoc describes, now a
    * first-class write path like [[writeBandIndex]]/[[writeHammingIndex]]:
    * the corpus' n-token window hashes that occur in ≥ `minDocs` distinct
    * documents, bucketed by gram hash, with (n, minDocs) recorded in a
    * `_meta` table (a probe windowed with a different n matches NOTHING —
    * recall silently 0 — so the probe self-configures).
    *
    * `minDocs = 1` indexes EVERY corpus window — the cross-batch /
    * decontamination semantic, where a new batch's span is duplicate if
    * it occurs anywhere in the historical corpus; `minDocs = 2` (the
    * [[spanDuplicates]] default) indexes only corpus-internal repeats.
    * The index moves (16-byte hash, count) per gram, never text.
    */
  def writeGramIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      tablePrefix: String,
      minDocs: Int = 1,
      numBuckets: Int = 8,
      basePath: Option[String] = None): Unit = {
    val grams = spanGrams(spanToks(df, idCol, textCol), idCol, n)
      .groupBy("_g").agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    val idx = IndexTables.Index(tablePrefix, basePath)
    idx.bucketed("grams", grams, Seq("_g"), numBuckets)
    val spark = df.sparkSession
    import spark.implicits._
    idx.plain("meta", Seq((n, minDocs)).toDF("n", "min_docs"))
  }

  /** Span-dedup a NEW batch against a materialized [[writeGramIndex]]
    * index — the incremental span shape: only the batch is tokenized and
    * windowed; its gram hashes join the bucketed index WITHOUT an
    * Exchange on the index side (proven on the plan in DedupSpec), and
    * the historical corpus is never re-windowed per batch. A batch span
    * counts as duplicated when its window is IN THE INDEX — batch-internal
    * repeats are deliberately not counted (run [[spanDuplicates]] on the
    * batch for those). Output schema is [[spanDuplicates]]'s:
    * (id, n_tokens, dup_tokens, dup_frac, pruned_text).
    */
  def spanDuplicatesAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePrefix: String,
      newBatch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val n = spark.table(s"${tablePrefix}_meta").head().getAs[Int]("n")
    val toks = spanToks(newBatch, idCol, textCol)
    spanAssemble(toks, spanGrams(toks, idCol, n),
      spark.table(s"${tablePrefix}_grams"), idCol, n)
  }

  /** Paragraph-level cross-corpus dedup (the CCNet shape, Wenzek et al.
    * 2019: hash each paragraph, drop every occurrence after the first
    * ACROSS the whole corpus, reassemble documents from the surviving
    * paragraphs, drop documents left empty). "First" is by (doc id,
    * paragraph position) — total and content-independent, so re-runs and
    * engines agree on which copy survives.
    *
    * `parasCol` is any array-of-strings segmentation (newline paragraphs
    * in real corpora; [[TextAnalysis.fixedTokenSegments]] for the
    * newline-free test tables) — segmentation policy stays with the
    * caller, dedup semantics live here.
    *
    * Scale shape: explode is map-only; the first-occurrence choice is a
    * `min(struct(id, pos, para))` groupBy keyed by the paragraph hash —
    * the struct compares on (id, pos), unique, so the text rides along as
    * a payload and NO occurrence⋈first join is needed. Partial
    * aggregation makes this skew-proof by construction: a paragraph
    * duplicated a million times still sends at most ONE candidate per
    * mapper through the shuffle. Survivors are exactly the agg output,
    * so reassembly is one groupBy(id) collect of kept paragraphs —
    * bounded by each doc's own size — plus a co-partitioned join of the
    * light per-doc totals (both sides hashed on id). Docs with zero
    * survivors are absent from the kept side, so the inner join drops
    * them, as CCNet does.
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      parasCol: Column): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(parasCol).as(Seq("_pos", "_para")))
    // per-doc totals need no explode and no shuffle: ids key one doc each,
    // so the paragraph count is just the segmentation array's size
    val totals = df.select(col(idCol), size(parasCol).cast("long").as("n_paras"))
    val kept = paras
      .groupBy(md5(col("_para")).as("_fp"))
      .agg(min(struct(col(idCol).as("_id"), col("_pos").as("_p"),
        col("_para").as("_t"))).as("_first"))
      .select(col("_first._id").as(idCol), col("_first._p").as("_pos"),
        col("_first._t").as("_para"))
    kept
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        // struct sort orders by _pos first → original paragraph order
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("_pos"), col("_para")))),
            p => p.getField("_para"))).as("text"))
      .join(totals, Seq(idCol))
      .select(col(idCol), col("n_paras"), col("n_kept"), col("text"))
  }

  /** Corpus version diff: the added / removed / changed report between
    * two snapshots of a keyed corpus — the audit step before promoting a
    * new crawl or rebuild (how many documents did this pipeline change,
    * and which). Rows identical in both versions are omitted (at real
    * scale they are the overwhelming majority; the report is the delta).
    *
    * Scale shape: contents collapse to md5 fingerprints map-side, so the
    * full-outer join shuffles (id, 16-byte fp) pairs — never the texts —
    * and both sides co-locate if the snapshots are bucketed by id (the
    * [[incremental]] write-time pattern).
    */
  def corpusDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(col(contentCol)).as("old_fp"))
    val n = newDf.select(col(idCol), md5(col(contentCol)).as("new_fp"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"), col("old_fp"), col("new_fp"))
  }
}
