package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.{AudioFp, Bytes, Classifier, Dedup, Layout, Multimodal, Pq, Similarity, TextAnalysis}
import graft.functions.MinHashAggregator
import graft.sources.IndexTables
import Tables._

/** Mandated extension operators (BASELINE north star): deduplication,
  * similarity search, text analysis, multimodal columns — the operations a
  * large-scale training-data pipeline needs (see the ext/ package scaladocs
  * for the 100 TB design rationale of each).
  *
  * Model-defined operators (MinHash, SimHash, LSH, heuristic language ID,
  * stub decoders) are oracle-omitted per SURVEY §7.3 and covered by seeded
  * unit tests; everything SQL-expressible carries a DuckDB oracle.
  *
  * The certificates' shared fixture code lives in [[Plants]]: the aHash
  * grid raster, the four-block gray image and its quality-1.0 JPEG
  * encode, the zero-filled pair-count summary of the dedup anchors and
  * the vector-search top-k tail; their hash targets come from
  * `MinHashAggregator.splitmix64`. Per-doc synthesis over a narrow
  * `documents` scan goes through `Plants.spread`, the round-robin
  * exchange across the session's default parallelism.
  */
object ExtQueries {

  private val qDedupExact = Q(
    "q_dedup_exact",
    (s, d) =>
      Dedup.exact(documents(s, d), "text", "doc_id").orderBy("keep_id"),
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS fp
            FROM documents GROUP BY text ORDER BY keep_id"""),
    "exact dedup: deterministic keep-min-id per content group")

  private val qDedupIncremental = Q(
    "q_dedup_incremental",
    (s, d) => {
      // the production exact-dedup shape: a NEW batch deduped against the
      // already-deduped historical corpus. The synthetic documents table
      // has no cross-split duplicate texts, so the query PLANTS them (the
      // q_redact pattern): the batch = the %3==0 docs, plus re-id'd copies
      // of some corpus docs (must be dropped by the anti-join), plus
      // re-id'd copies of some batch docs (must collapse to keep-min-id).
      // The oracle replays the same planting, so the hash compare proves
      // both halves of the semantics cross-engine.
      val docs = documents(s, d).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(corpus.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 10 === 0)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      Dedup.incremental(batch, corpus, "text", "doc_id").orderBy("keep_id")
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
              batch AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                SELECT doc_id + 10000 AS doc_id, text FROM corpus WHERE doc_id % 7 = 0
                UNION ALL
                SELECT doc_id + 20000 AS doc_id, text FROM documents
                WHERE doc_id % 3 = 0 AND doc_id % 10 = 0),
              grouped AS (
                SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS fp
                FROM batch GROUP BY text)
            SELECT keep_id, n_copies, fp
            FROM grouped g
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE md5(c.text) = g.fp)
            ORDER BY keep_id"""),
    "incremental exact dedup: new batch vs historical corpus fingerprint " +
      "index (within-batch keep-min-id + anti-join on content md5)")

  private val qDedupKeepBest = Q(
    "q_dedup_keep_best",
    (s, d) => {
      // canonical-selection dedup: groups are normalized-PREFIX
      // fingerprints, the survivor is the LONGEST member (tie → min id) —
      // the keep-best policy, vs q_dedup_exact's keep-min-id. The
      // synthetic corpus has only byte-identical duplicates, so
      // prefix-sharing longer variants are PLANTED (the
      // q_dedup_incremental pattern): re-id'd copies with an appended
      // tail, which must WIN their group — proving the survivor choice
      // really is by length, not id. The oracle replays the planting.
      val docs = documents(s, d).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"),
            lit(" planted longer variant for canonical selection")).as("text"))
      Dedup.keepBest(docs.unionByName(planted), "text", "doc_id")
        .orderBy("keep_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 30000 AS doc_id,
                     text || ' planted longer variant for canonical selection' AS text
              FROM documents WHERE doc_id % 11 = 0),
            k AS (SELECT doc_id,
                         CAST(length(text) AS BIGINT) AS len,
                         md5(substring(trim(regexp_replace(lower(text), ' +', ' ', 'g')),
                                       1, 120)) AS fp
                  FROM corpus),
            r AS (SELECT fp, doc_id, len,
                         row_number() OVER (PARTITION BY fp ORDER BY len DESC, doc_id) AS rk,
                         count(*) OVER (PARTITION BY fp) AS n_members,
                         max(len) OVER (PARTITION BY fp) AS best_len
                  FROM k)
            SELECT doc_id AS keep_id, n_members, best_len, fp
            FROM r WHERE rk = 1 ORDER BY keep_id"""),
    "keep-best canonical dedup: normalized-prefix fingerprint groups, " +
      "longest member survives (single max_by agg — the shuffle carries " +
      "one candidate per group per mapper)")

  private val qDedupNear = Q(
    "q_dedup_near",
    (s, d) =>
      // word 3-shingles: the standard text-near-dup choice, and far more
      // selective than char shingles on this tiny-vocabulary corpus (char
      // 5-grams make ~12% of ALL pairs LSH candidates — a 6000× candidate
      // blowup with identical semantics)
      Dedup.nearDupMinHash(documents(s, d), "doc_id", "text",
          threshold = 0.5, numHashes = 64, bands = 16,
          shingler = Dedup.WordShingles(3))
        .select(col("id1"), col("id2"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2"),
    None, // model-defined (MinHash-LSH candidates); seeded unit tests
    "near-dup via MinHash+LSH with exact shingle-Jaccard verification")

  private val qDedupNearIncremental = Q(
    "q_dedup_near_incremental",
    (s, d) => {
      // the production NEAR-dup shape (q_dedup_incremental's MinHash
      // sibling): the historical corpus' LSH band + signature tables are
      // materialized ONCE as bucketed indexes (Dedup.writeBandIndex), and
      // the new batch is deduped against them — only the batch is
      // shingled/hashed, and the index side joins WITHOUT an Exchange
      // (plan-proven in DedupSpec). Near-dups are PLANTED (the
      // q_dedup_incremental pattern): re-id'd corpus docs with a short
      // appended tail, which must surface as high-Jaccard (batch, corpus)
      // pairs after exact verification. Model-defined candidates → rows
      // only; the estimate/verify kernels are anchored by q_dedup_jaccard
      // and q_dedup_near.
      val docs = documents(s, d).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(corpus.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 50000).as("doc_id"),
            concat(col("text"), lit(" small appended tail")).as("text")))
      val prefix = s"graft_bandidx_${Tables.corpusTag(d)}"
      // write-once semantics made literal: the index is built one time
      // per corpus dir and catalog, and probed thereafter — rebuilding a
      // write-once index on every invocation mis-states its serving cost
      IndexTables.ensure(s, s"${prefix}_bands", s"${prefix}_sigs", s"${prefix}_meta") {
        Dedup.writeBandIndex(corpus, "doc_id", "text", prefix,
          numHashes = 64, bands = 16, shingler = Dedup.WordShingles(3),
          numBuckets = 8, basePath = Some(s"/tmp/$prefix"))
      }
      // by-name probe: build parameters come from the index's _meta
      // table, so the probe cannot silently mis-hash
      Dedup.nearDupAgainstIndex(s, prefix, batch,
          "doc_id", "text", threshold = 0.5, corpusText = Some(corpus))
        .select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("batch_id", "corpus_id")
    },
    None, // model-defined (MinHash-LSH candidates); kernels oracle-anchored
    "incremental near-dup against a write-once bucketed LSH band index " +
      "(index side joins exchange-free; batch-only shingling)")

  private val qDedupClusters = Q(
    "q_dedup_clusters",
    (s, d) =>
      Dedup.nearDupClusters(documents(s, d), "doc_id", "text",
          threshold = 0.5, shingler = Dedup.WordShingles(3))
        .orderBy("doc_id"),
    None, // model-defined (LSH clusters); component semantics unit-tested
    "near-dup clustering: pairs → connected components → cluster reps " +
      "(keep-one dedup = filter id == cluster_rep)")

  private val qCcChains = Q(
    "q_cc_chains",
    (s, d) => {
      // Oracle-checked connected components: the pair rule (consecutive
      // doc_ids sharing a language) is deterministic and SQL-expressible,
      // and produces genuine multi-hop CHAINS — the adversarial case for
      // min-label propagation (cliques converge in one round; chains need
      // diameter rounds). Components of a consecutive-id pair graph are
      // intervals, which DuckDB labels exactly via gaps-and-islands — so
      // the distributed loop's output is hash-checked cross-engine.
      val docs = documents(s, d).select(col("doc_id"), col("lang"))
      val pairs = docs.as("a")
        .join(docs.as("b"),
          col("b.doc_id") === col("a.doc_id") + 1 &&
            col("a.lang") === col("b.lang"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      Dedup.connectedComponents(pairs).orderBy("id")
    },
    Some("""WITH pairs AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2
              FROM documents a
              JOIN documents b ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang),
            nodes AS (
              SELECT DISTINCT id FROM (
                SELECT id1 AS id FROM pairs UNION ALL SELECT id2 AS id FROM pairs)),
            flags AS (
              SELECT id, CASE WHEN EXISTS (SELECT 1 FROM pairs p WHERE p.id1 = id - 1)
                              THEN 0 ELSE 1 END AS brk
              FROM nodes),
            grp AS (
              SELECT id, sum(brk) OVER (ORDER BY id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM flags)
            SELECT id, CAST(min(id) OVER (PARTITION BY g) AS BIGINT) AS label
            FROM grp ORDER BY id"""),
    "connected components over deterministic same-lang chains, hash-checked " +
      "against a gaps-and-islands oracle (chains = worst case for label propagation)")

  private val qDedupSimhash = Q(
    "q_dedup_simhash",
    (s, d) =>
      Dedup.simHash(documents(s, d), "doc_id", "text").orderBy("doc_id"),
    None, // xxhash64-based fingerprint — not expressible in DuckDB
    "64-bit SimHash fingerprint per document")

  // Engine-portable 63-bit fingerprints for the Hamming-kernel anchors
  // (q_hamming_pairs / q_hamming_index): q_dedup_simhash's xxhash
  // fingerprints are oracle-inexpressible, so these derive two
  // multiplicative-hash halves bit-concatenated, with near-dup companions
  // PLANTED by xor-ing 1/2/3-bit masks (must pair at their exact
  // distance) plus a 4-bit-mask negative control (must NOT pair at
  // maxHamming=3). Identical derivation in Spark and DuckDB SQL below.
  private def hammingFps(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val base = documents(s, d).select(col("doc_id").as("id"))
      .withColumn("fp",
        shiftleft((col("id") * 2654435761L) % 2147483648L, 32)
          .bitwiseOR((col("id") * 40503L + 2654435769L) % 4294967296L))
    val mask = when(col("id") % 3 === 0, lit(1L))
      .when(col("id") % 3 === 1, lit((1L << 40) | (1L << 13)))
      .otherwise(lit((1L << 62) | (1L << 21) | (1L << 3)))
    val near = base.filter(col("id") % 10 === 0)
      .select((col("id") + 100000L).as("id"), col("fp").bitwiseXOR(mask).as("fp"))
    val far = base.filter(col("id") % 17 === 0)
      .select((col("id") + 200000L).as("id"),
        col("fp").bitwiseXOR(lit((1L << 50) | (1L << 30) | (1L << 10) | (1L << 5))).as("fp"))
    (base, near, far)
  }

  private val hammingFpsSql =
    """base AS (
         SELECT doc_id AS id,
                ((doc_id * 2654435761) % 2147483648) * 4294967296
                + ((doc_id * 40503 + 2654435769) % 4294967296) AS fp
         FROM documents),
       planted AS (
         SELECT id + 100000 AS id,
                xor(fp, CASE id % 3
                        WHEN 0 THEN 1
                        WHEN 1 THEN (1::BIGINT << 40) + (1::BIGINT << 13)
                        ELSE (1::BIGINT << 62) + (1::BIGINT << 21) + (1::BIGINT << 3)
                        END) AS fp
         FROM base WHERE id % 10 = 0
         UNION ALL
         SELECT id + 200000 AS id,
                xor(fp, (1::BIGINT << 50) + (1::BIGINT << 30)
                        + (1::BIGINT << 10) + (1::BIGINT << 5)) AS fp
         FROM base WHERE id % 17 = 0)"""

  private val qHammingPairs = Q(
    "q_hamming_pairs",
    (s, d) => {
      // oracle-checked anchor for the Hamming BLOCKING kernel itself (the
      // part that can silently lose recall). Runs the multi-block Manku
      // scheme (nBlocks=6, C(6,3)=20 compound keys) so the SCALE path is
      // what the oracle's brute-force bit_count(xor) all-pairs certifies.
      val (base, near, far) = hammingFps(s, d)
      val fps = base.unionByName(near).unionByName(far)
      Dedup.hammingPairs64(fps, "id", "fp", maxHamming = 3, nBlocks = 6)
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
        .orderBy("id1", "id2")
    },
    Some(s"""WITH $hammingFpsSql,
            fps AS (SELECT id, fp FROM base UNION ALL SELECT id, fp FROM planted)
            SELECT a.id AS id1, b.id AS id2,
                   CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
            FROM fps a JOIN fps b ON a.id < b.id
            WHERE bit_count(xor(a.fp, b.fp)) <= 3
            ORDER BY id1, id2"""),
    "Hamming-blocked near-dup pairs (multi-block pigeonhole keys) vs a " +
      "brute-force all-pairs bit_count oracle — certifies exact recall of " +
      "the scale blocking scheme on planted 1/2/3-bit flips")

  private val qHammingIndex = Q(
    "q_hamming_index",
    (s, d) => {
      // the WRITE-ONCE Hamming index serve path (Dedup.writeHammingIndex —
      // q_dedup_near_incremental's fingerprint sibling): the corpus'
      // block-subset band table and fingerprint table are materialized
      // bucketed, then a new batch (the planted variants) probes the
      // RELOADED index — only the batch is banded, the index side joins
      // exchange-free (plan-proven in DedupSpec). Brute-force
      // batch×corpus bit_count(xor) is the oracle.
      val (base, near, far) = hammingFps(s, d)
      val batch = near.unionByName(far)
      val prefix = s"graft_hamidx_${Tables.corpusTag(d)}"
      Dedup.writeHammingIndex(base, "id", "fp", prefix,
        maxHamming = 3, nBlocks = 6, numBuckets = 4,
        basePath = Some(s"/tmp/$prefix"))
      Dedup.hammingAgainstIndex(s, prefix, batch, "id", "fp")
        .select(col("batch_id"), col("corpus_id"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("batch_id", "corpus_id")
    },
    Some(s"""WITH $hammingFpsSql
            SELECT b.id AS batch_id, a.id AS corpus_id,
                   CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
            FROM planted b JOIN base a ON bit_count(xor(a.fp, b.fp)) <= 3
            ORDER BY batch_id, corpus_id"""),
    "incremental Hamming near-dup: a new fingerprint batch probed against " +
      "the materialized bucketed block-subset index, vs a brute-force " +
      "batch-by-corpus bit_count oracle")

  private val qHammingAbsorb = Q(
    "q_hamming_absorb",
    (s, d) => {
      // Index-maintenance certificate for the Hamming family (the
      // q_sim_ivf_append pattern): the index is built on HALF the corpus
      // fingerprints, the other half is absorbed later as an accepted
      // batch (Dedup.absorbIntoHammingIndex — appended into the bucketed
      // tables under the index's own _meta blocking parameters), and the
      // planted-variant probe against the MAINTAINED index must still
      // equal brute-force batch×corpus bit_count — the same oracle as
      // q_hamming_index, which only holds if absorbed rows band exactly
      // like built rows.
      val (base, near, far) = hammingFps(s, d)
      val batch = near.unionByName(far)
      val prefix = s"graft_hamabs_${Tables.corpusTag(d)}"
      Dedup.writeHammingIndex(base.filter(pmod(col("id"), lit(2)) === 0),
        "id", "fp", prefix, maxHamming = 3, nBlocks = 6, numBuckets = 4,
        basePath = Some(s"/tmp/$prefix"))
      Dedup.absorbIntoHammingIndex(s, prefix,
        base.filter(pmod(col("id"), lit(2)) === 1))
      Dedup.hammingAgainstIndex(s, prefix, batch, "id", "fp")
        .select(col("batch_id"), col("corpus_id"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("batch_id", "corpus_id")
    },
    Some(s"""WITH $hammingFpsSql
            SELECT b.id AS batch_id, a.id AS corpus_id,
                   CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
            FROM planted b JOIN base a ON bit_count(xor(a.fp, b.fp)) <= 3
            ORDER BY batch_id, corpus_id"""),
    "Hamming index maintenance: half the corpus absorbed as an accepted " +
      "batch into the bucketed index, then probed — hash-equal to the " +
      "brute-force batch-by-corpus bit_count oracle")

  private val qDedupNgram = Q(
    "q_dedup_ngram",
    (s, d) => {
      val docs = documents(s, d)
      val sh = Dedup.WordShingles(3)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 64, sh)
      val cand = Dedup.candidatePairs(Dedup.lshBands(sigs, "doc_id", 16, 4), "doc_id")
      Dedup.exactJaccard(cand, docs, "doc_id", "text", sh)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")
    },
    None, // candidate set is model-defined (LSH)
    "exact n-gram Jaccard over LSH candidate pairs")

  private val qDedupJaccard = Q(
    "q_dedup_jaccard",
    (s, d) => {
      // Oracle-able dedup-family query: the LSH candidate generation is
      // model-defined, but the VERIFICATION kernel (exact word-shingle
      // Jaccard) is pure set algebra — run it over a deterministic
      // candidate grid (each doc against its id-successor) so DuckDB can
      // replay it exactly.
      val docs = documents(s, d)
      val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      Dedup.exactJaccard(pairs, docs, "doc_id", "text", Dedup.WordShingles(3))
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1")
    },
    Some("""WITH sets AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' '))) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
            )
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
            FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
            ORDER BY id1"""),
    "exact word-3-shingle Jaccard on a deterministic candidate grid — the " +
      "near-dup verification kernel, cross-engine checked")

  private val qDedupEdit = Q(
    "q_dedup_edit",
    (s, d) => {
      // the character-level near-dup verification kernel on the same
      // deterministic successor grid as q_dedup_jaccard: banded
      // levenshtein over 128-char prefixes, -1 past the threshold (the
      // exact shape a dedup decision consumes)
      val docs = documents(s, d)
      val pairs = docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      Dedup.editDistancePairs(pairs, docs, "doc_id", "text",
          threshold = 40, prefixLen = 128)
        .select(col("id1"), col("id2"), col("edit_distance").cast("long").as("edit_distance"))
        .orderBy("id1")
    },
    Some("""WITH t AS (SELECT doc_id, substring(text, 1, 128) AS txt FROM documents)
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(CASE WHEN levenshtein(a.txt, b.txt) <= 40
                             THEN levenshtein(a.txt, b.txt) ELSE -1 END AS BIGINT)
                     AS edit_distance
            FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
            ORDER BY id1"""),
    "threshold-banded edit distance on a deterministic candidate grid — " +
      "the character-level near-dup verification kernel, cross-engine checked")

  private val qDedupSpan = Q(
    "q_dedup_span",
    (s, d) =>
      Dedup.spanDuplicates(documents(s, d), "doc_id", "text", n = 5)
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+4], ' ')) AS g
              FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) s
              WHERE len(w) >= 5),
            dupg AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
            cover AS (
              SELECT DISTINCT doc_id, p
              FROM grams JOIN dupg USING (g),
                   LATERAL (SELECT unnest(generate_series(pos, pos + 4)) AS p) t),
            stats AS (SELECT doc_id, count(*) AS dup_tokens FROM cover GROUP BY doc_id),
            tokpos AS (
              SELECT doc_id, i - 1 AS p, w[i] AS tok
              FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s),
            pruned AS (
              SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.p) AS pruned_text
              FROM tokpos tp ANTI JOIN cover c ON c.doc_id = tp.doc_id AND c.p = tp.p
              GROUP BY tp.doc_id)
            SELECT t.doc_id,
                   CAST(len(t.w) AS BIGINT) AS n_tokens,
                   CAST(coalesce(s.dup_tokens, 0) AS BIGINT) AS dup_tokens,
                   round(CAST(coalesce(s.dup_tokens, 0) AS DOUBLE) / len(t.w), 6) AS dup_frac,
                   coalesce(p.pruned_text, '') AS pruned_text
            FROM toks t
            LEFT JOIN stats s USING (doc_id)
            LEFT JOIN pruned p USING (doc_id)
            ORDER BY t.doc_id"""),
    "span-level (substring) dedup: 5-token windows duplicated across " +
      "documents, per-doc coverage + span-pruned text, cross-engine checked")

  private val qSpanIndex = Q(
    "q_span_index",
    (s, d) => {
      // the WRITE-ONCE gram index serve path (Dedup.writeGramIndex —
      // q_dedup_span's incremental sibling): the corpus' window hashes
      // are materialized bucketed by gram hash at minDocs=1 (the
      // cross-batch semantic: a batch span is duplicate if it occurs
      // ANYWHERE in the historical corpus), then a new batch — re-id'd
      // corpus docs with a guaranteed-novel tail — is span-deduped
      // against the RELOADED index: only the batch is windowed, the
      // index side joins exchange-free (plan-proven in DedupSpec). Every
      // original-text position must come back covered (the source doc is
      // in the index), no tail position may (novel tokens), which the
      // DuckDB replay checks to the token.
      val corpus = documents(s, d).select("doc_id", "text")
      val batch = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 40000L).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2 zq3 zq4 zq5 zq6")).as("text"))
      val prefix = s"graft_gramidx_${Tables.corpusTag(d)}"
      Dedup.writeGramIndex(corpus, "doc_id", "text", n = 5, prefix,
        minDocs = 1, numBuckets = 4, basePath = Some(s"/tmp/$prefix"))
      Dedup.spanDuplicatesAgainstIndex(s, prefix, batch, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents),
            batch AS (SELECT doc_id + 40000 AS doc_id,
                             text || ' zq1 zq2 zq3 zq4 zq5 zq6' AS text
                      FROM documents WHERE doc_id % 10 = 0),
            cw AS (SELECT string_split(text, ' ') AS w FROM corpus),
            idx AS (SELECT DISTINCT md5(array_to_string(w[i:i+4], ' ')) AS g
                    FROM cw, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) s
                    WHERE len(w) >= 5),
            toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
            grams AS (
              SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+4], ' ')) AS g
              FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) s
              WHERE len(w) >= 5),
            cover AS (
              SELECT DISTINCT doc_id, p
              FROM grams JOIN idx USING (g),
                   LATERAL (SELECT unnest(generate_series(pos, pos + 4)) AS p) t),
            stats AS (SELECT doc_id, count(*) AS dup_tokens FROM cover GROUP BY doc_id),
            tokpos AS (
              SELECT doc_id, i - 1 AS p, w[i] AS tok
              FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s),
            pruned AS (
              SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.p) AS pruned_text
              FROM tokpos tp ANTI JOIN cover c ON c.doc_id = tp.doc_id AND c.p = tp.p
              GROUP BY tp.doc_id)
            SELECT t.doc_id,
                   CAST(len(t.w) AS BIGINT) AS n_tokens,
                   CAST(coalesce(s.dup_tokens, 0) AS BIGINT) AS dup_tokens,
                   round(CAST(coalesce(s.dup_tokens, 0) AS DOUBLE) / len(t.w), 6) AS dup_frac,
                   coalesce(p.pruned_text, '') AS pruned_text
            FROM toks t
            LEFT JOIN stats s USING (doc_id)
            LEFT JOIN pruned p USING (doc_id)
            ORDER BY t.doc_id"""),
    "incremental span dedup: a new batch windowed against the " +
      "materialized bucketed duplicated-gram index (minDocs=1 " +
      "cross-batch semantic), cross-engine checked to the token")

  private val qDedupSemantic = Q(
    "q_dedup_semantic",
    (s, d) =>
      // cell = the deterministic label column so DuckDB can replay the
      // partition exactly; the IVF-celled production form is the same
      // call with ivfAssign's cell column (model-defined → not declared).
      // threshold 0.3 drops 95/500 at sf0.01; nearest within-cell pair
      // sits 1.9e-4 from the boundary, so float/double parity is safe.
      Similarity.semanticDedup(embeddings(s, d), "vec_id", "embedding",
          "label", threshold = 0.3)
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .orderBy("vec_id"),
    Some("""SELECT a.vec_id, CAST(a.label AS BIGINT) AS label
            FROM embeddings a
            WHERE NOT EXISTS (
              SELECT 1 FROM embeddings b
              WHERE b.label = a.label AND b.vec_id < a.vec_id
                AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])) >= 0.3)
            ORDER BY a.vec_id"""),
    "SemDeDup-style semantic dedup: within-cell cosine >= tau vs any " +
      "lower id drops the row; deterministic cells make it oracle-exact")

  private val qDecontaminateSemantic = Q(
    "q_decontaminate_semantic",
    (s, d) => {
      // the embedding-space member of the decontamination family
      // (exact / bloom / scored / span are n-gram-based): every 50th
      // vector plays the benchmark eval set; corpus rows within cosine
      // 0.3 of any eval row drop. tau=0.3 drops 48/490 at sf0.01 and the
      // nearest corpus-eval pair sits 1.9e-4 from the boundary, so
      // float/double parity is safe (the q_dedup_semantic pattern).
      val emb = embeddings(s, d)
      Similarity.decontaminateSemantic(
          emb.filter(col("vec_id") % 50 =!= 0),
          emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", threshold = 0.3)
        .select("vec_id")
        .orderBy("vec_id")
    },
    Some("""SELECT c.vec_id FROM embeddings c
            WHERE c.vec_id % 50 <> 0 AND NOT EXISTS (
              SELECT 1 FROM embeddings v
              WHERE v.vec_id % 50 = 0
                AND list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           CAST(v.embedding AS DOUBLE[])) >= 0.3)
            ORDER BY c.vec_id"""),
    "semantic decontamination: corpus rows within cosine tau of any eval " +
      "embedding dropped (broadcast eval, one map-only anti-join pass)")

  private val qClassifierScore = Q(
    "q_classifier_score",
    (s, d) => {
      // The hashed-linear-classifier SCORING kernel (hash → weight lookup
      // → mean logit → sigmoid) replayed cross-engine: the engine-portable
      // md5-nibble hash (D=256) with the deterministic weight ramp
      // w[j] = j/256 − 0.5, bias 0. Every per-token weight is a multiple
      // of 2^-8, so the token sum is EXACT in double on both engines
      // regardless of summation order — the logit is bit-identical, and
      // sigmoid/round of identical doubles match. Trained-model serving
      // (q_classifier_train) is this same expression with learned weights.
      val w = Array.tabulate(257)(j => if (j < 256) j / 256.0 - 0.5 else 0.0)
      Classifier.score(documents(s, d), "doc_id", "text",
          Classifier.Model(w, 256), Classifier.md5Index)
        .select(col("doc_id"), col("n_toks"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
            feat AS (SELECT doc_id,
                       (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS i
                     FROM t2)
            SELECT doc_id, count(*) AS n_toks,
                   round(1.0 / (1.0 + exp(-(sum(i / 256.0 - 0.5) / count(*)))), 6) AS score
            FROM feat GROUP BY doc_id ORDER BY doc_id"""),
    "hashed linear classifier scoring kernel (fastText-style quality gate): " +
      "md5-nibble feature hash + weight lookup + mean-logit sigmoid, " +
      "map-only; oracle replays hash and dot product exactly in DuckDB")

  private val qClassifierTrain = Q(
    "q_classifier_train",
    (s, d) => {
      // The CCNet/GPT-3-shaped quality-filter step as one operator:
      // DISTILL an expensive corpus-level signal (the unigram-LM surprisal
      // of q_lm_score — two keyed shuffles to compute) into a cheap
      // map-only linear gate. Labels: y=1 for docs at-or-below the median
      // avg_nll ("looks like the corpus"). The target is a mean of
      // per-token values, i.e. exactly linear in hashed bag-of-words up to
      // hash collisions, so the fit is real. Training is `iters` passes of
      // (map-only scoring + one dim-bounded gradient shuffle + driver
      // update on a 1025-float vector); DECIMAL-exact gradient aggregation
      // makes the learned weights partitioning-stable, so this query is
      // deterministic but oracle-inexpressible (the trained weights are a
      // model artifact, like q_bpe_merges). Anchored by ClassifierSpec
      // (planted-marker separation, closed-form gradient check,
      // determinism) and q_classifier_score (the serving kernel).
      val docs = documents(s, d)
      val lm = TextAnalysis.lmScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("avg_nll"))
      // exact median keeps the labels (and thus this rows-only output)
      // bit-deterministic at test scale; the 100 TB form is
      // approx_percentile, which changes nothing downstream (labels are
      // an input to training, not a checked artifact)
      val med = lm.agg(expr("percentile(avg_nll, 0.5)").as("_m"))
      // persisted: the labeled corpus (which embeds the two-shuffle
      // lmScore pipeline over ~10 M exploded tokens at sf0.1) feeds
      // training, scoring, AND the final label join — without the
      // persist each consumer re-runs the token explode (~3× the whole
      // query's scan cost; released by the harness' CacheUtils)
      val labeled = docs.join(lm, "doc_id")
        .crossJoin(broadcast(med))
        .withColumn("_y", (col("avg_nll") <= col("_m")).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dim = 1 << 10
      val m = Classifier.train(labeled, "doc_id", "text", "_y",
        dim = dim, iters = 10, lr = 2.0)
      // fused serve kernel — bit-equal to score(..., hashIndex(_, dim))
      // (ClassifierSpec property), one codegen pass per document. The
      // label rides the SAME projection instead of a doc_id self-join of
      // the cached table against itself (round 17, guide §2.4): doc_id is
      // unique in `labeled` (docs ⋈ one-row-per-doc lmScore), so
      // scoreFast(labeled) ⋈ labeled.select(doc_id, _y) is row-identical
      // to selecting _y alongside the score — minus one exchange and one
      // rescan of the persisted corpus. scoreFast's n_toks>0 filter is
      // reproduced verbatim (zero-token docs dropped either way: the old
      // inner join had no left row for them).
      labeled
        .select(col("doc_id"), col("_y").as("label"),
          graft.functions.ScoreHashed
            .score_hashed(col("text"), m.weights, m.dim).as("st"))
        .filter(col("st.n_toks") > 0)
        .select(col("doc_id"), col("label"),
          round(col("st.score"), 4).as("q_score"),
          (col("st.score") > 0.5).cast("int").as("pred"))
        .orderBy("doc_id")
    },
    None, // trained weights are a model artifact (not SQL-expressible)
    "corpus-trained hashed logistic quality classifier (English-vs-rest): " +
      "batch-gradient training with a dim-bounded shuffle per step, then " +
      "the map-only scoring gate over the same corpus")

  private val qLmScore = Q(
    "q_lm_score",
    (s, d) =>
      TextAnalysis.lmScore(documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
    Some("""WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            toks2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
            vocab AS (SELECT tok, count(*) AS c FROM toks2 GROUP BY tok),
            total AS (SELECT count(*) AS n FROM toks2)
            SELECT t.doc_id,
                   count(*) AS n_toks,
                   round(CAST(CAST(sum(CAST(round(-ln(CAST(v.c AS DOUBLE) / total.n), 6)
                                       AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                              / count(*), 4) AS avg_nll
            FROM toks2 t JOIN vocab v USING (tok) CROSS JOIN total
            GROUP BY t.doc_id
            ORDER BY t.doc_id"""),
    "unigram-LM quality score: mean token surprisal under corpus-trained " +
      "frequencies (quantized per-token so the gate is partitioning- and " +
      "engine-stable)")

  private val qDedupEmbed = Q(
    "q_dedup_embed",
    (s, d) =>
      // threshold tuned to the corpus: pairwise cosine tops out ≈0.51 on
      // the synthetic embeddings, so 0.25 exercises bucket-join + verify
      // with a non-empty result; production near-dup would use ~0.9
      Similarity.nearDupEmbedding(embeddings(s, d), "vec_id", "embedding",
          threshold = 0.25, numPlanes = 4, dim = 64)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id1", "id2"),
    None, // model-defined (hyperplane LSH buckets)
    "embedding-cosine near-dup via hyperplane LSH bucketing")

  private val qDedupEmbedGrid = Q(
    "q_dedup_embed_grid",
    (s, d) => {
      // The embedding near-dup VERIFICATION kernel (exact cosine +
      // threshold on candidate pairs) replayed over a deterministic grid
      // (each vector against its id-successor) — the cross-engine anchor
      // for q_dedup_embed, whose LSH candidate set is model-defined.
      // Same anchor pattern as q_dedup_jaccard for the text path.
      val emb = embeddings(s, d)
      val a = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
      val b = emb.select((col("vec_id") - 1).as("id1"),
        col("vec_id").as("id2"), col("embedding").as("e2"))
      a.join(b, "id1")
        .select(col("id1"), col("id2"),
          graft.functions.functions.cosine_similarity(col("e1"), col("e2")).as("c"))
        .filter(col("c") >= 0.2)
        .select(col("id1"), col("id2"), round(col("c"), 6).as("cosine"))
        .orderBy("id1")
    },
    Some("""SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_cosine_similarity(
                     CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.2
            ORDER BY id1"""),
    "exact-cosine near-dup verification on a deterministic candidate grid — " +
      "the embedding-dedup kernel, cross-engine checked")

  private val qVecCentroid = Q(
    "q_vec_centroid",
    (s, d) =>
      // per-label centroid, elementwise. Exactness trick: float → STRING
      // (shortest round-trip repr, identical in both engines) → DECIMAL,
      // so the sums are exact and order-insensitive; a direct
      // float→decimal cast diverges (Spark goes through the binary
      // double, DuckDB through the decimal string).
      embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
          col("v").cast("string").cast("decimal(25,10)").as("dv"))
        .groupBy("label", "dim")
        .agg((sum(col("dv")).cast("double") / count(lit(1))).as("centroid"),
          count(lit(1)).as("n"))
        .filter(col("dim") <= 4) // bounded output: first 4 dims per label
        .orderBy("label", "dim"),
    Some("""SELECT label, dim, centroid, n FROM (
              SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
                     CAST(CAST(sum(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE)
                       / count(*) AS centroid,
                     count(*) AS n
              FROM embeddings,
                   LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
              GROUP BY label, i)
            WHERE dim <= 4 ORDER BY label, dim"""),
    "per-label embedding centroids (elementwise exact-decimal mean) — the " +
      "IVF coarse-quantizer training step")

  private val qSimTopk = Q(
    "q_sim_topk",
    (s, d) => {
      val emb = embeddings(s, d)
      // query parameter: the vector of vec_id 0, as a broadcast one-row
      // join — the whole query is ONE lazy plan (no eager driver .head()
      // job at declaration time)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
      // round BEFORE the top-k cut so the selection key is exactly the
      // oracle's rounded ordering key (orderBy+limit still compiles to
      // TakeOrderedAndProject — k rows per partition, no global sort).
      Similarity.bruteForceScoresLazy(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, "embedding")
        .transform(Plants.top10)
    },
    Some("""SELECT vec_id,
                   round(list_cosine_similarity(
                     CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
            FROM embeddings
            WHERE vec_id <> 0
            ORDER BY score DESC, vec_id LIMIT 10"""),
    "brute-force cosine top-k (codegen'd expression + TakeOrdered)")

  private val qSimFiltered = Q(
    "q_sim_filtered",
    (s, d) => {
      // filtered vector search: top-k cosine restricted by a metadata
      // predicate (label), the retrieval-with-filters shape every vector
      // store needs. Pre-filtering BEFORE the distance kernel is the
      // scale-correct order: the predicate prunes at the scan (plain
      // pushed-down column filter), and the kernel only scores survivors —
      // post-filtering an unfiltered top-k would under-fill k.
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
      Similarity.bruteForceScoresLazy(
          emb.filter(col("vec_id") =!= 0 && col("label") === 1),
          "vec_id", "embedding", q, "embedding")
        .transform(Plants.top10)
    },
    Some("""SELECT vec_id,
                   round(list_cosine_similarity(
                     CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
            FROM embeddings
            WHERE vec_id <> 0 AND label = 1
            ORDER BY score DESC, vec_id LIMIT 10"""),
    "metadata-filtered vector search: pushed-down label predicate + " +
      "cosine top-k over the survivors")

  private val qSimAnn = Q(
    "q_sim_ann",
    (s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
      Similarity.annTopKLazy(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, "embedding",
          k = 10, dim = 64)
        .transform(Plants.ranked)
    },
    None, // model-defined (LSH probe set)
    "LSH-bucketed ANN top-k (multi-probe hyperplane buckets, lazy one-plan form)")

  private def ivfCentroids(
      s: org.apache.spark.sql.SparkSession, d: String, k: Int, iters: Int) =
    trainedModel(d, "ivf", k, iters)(
      Similarity.trainIvfCentroids(embeddings(s, d), "embedding", k, iters))

  private val brutForceOracleSql =
    """SELECT vec_id,
                   round(list_cosine_similarity(
                     CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
            FROM embeddings
            WHERE vec_id <> 0
            ORDER BY score DESC, vec_id LIMIT 10"""

  private val qSimAnnFull = Q(
    "q_sim_ann_full",
    (s, d) => {
      // Full-probe configuration: probeRadius = numPlanes admits every
      // bucket, so the ANN machinery (bucket signatures, broadcast query
      // row, probe filter, scoring kernel) provably degrades to exact
      // brute-force top-k — which DuckDB CAN check. Recall=1 is the
      // cross-engine anchor for the approximate configurations (q_sim_ann),
      // whose probe sets are model-defined and unit-tested instead.
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
      Similarity.annScoresLazy(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, "embedding",
          dim = 64, numPlanes = 8, probeRadius = 8)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "ANN top-k at full probe radius — the LSH pipeline's recall=1 anchor, " +
      "hash-checked against exact brute force")

  private val qSimIvfFull = Q(
    "q_sim_ivf_full",
    (s, d) => {
      // nprobe = k probes every cell: the IVF path (trained quantizer,
      // codegen'd cell assignment, probe-set filter) must return exactly
      // the brute-force answer — the oracle-checked recall=1 anchor for
      // the pruned configuration below.
      val emb = embeddings(s, d)
      val centroids = ivfCentroids(s, d, k = 8, iters = 2)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
      Similarity.ivfScoresLazy(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, "embedding",
          centroids, nprobe = 8)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "IVF top-k probing every cell — the quantizer pipeline's recall=1 " +
      "anchor, hash-checked against exact brute force")

  private val qSimIvf = Q(
    "q_sim_ivf",
    (s, d) => {
      val emb = embeddings(s, d)
      // train the coarse quantizer (distributed Lloyd passes; only the
      // k×dim model reaches the driver), then search the probed cells.
      // 8 cells / nprobe 3 exercises real pruning on the small corpus.
      val centroids = ivfCentroids(s, d, k = 8, iters = 2)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
      Similarity.ivfSearchLazy(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, "embedding",
          k = 10, centroids, nprobe = 3)
        .transform(Plants.ranked)
    },
    None, // model-defined (trained quantizer / probe set)
    "IVF ANN top-k: k-means coarse quantizer + cell-pruned exact search " +
      "(the cell column partition-prunes a cell-partitioned corpus at scale)")

  private def pqBooks(
      s: SparkSession, d: String, m: Int, codes: Int, iters: Int) =
    trainedModel(d, "pq", m, codes, iters)(
      Pq.trainCodebooks(embeddings(s, d), "embedding", m, codes, iters))

  private val qSimPqFull = Q(
    "q_sim_pq_full",
    (s, d) => {
      // candidates ≥ corpus: the ADC stage admits every vector, so the
      // full PQ machinery (per-subspace k-means codebooks, packed BIGINT
      // encode, LUT-projected approximate scores, TakeOrdered candidate
      // cut, broadcast-id exact re-rank) provably returns exact
      // brute-force top-k — the oracle-checked recall=1 anchor for the
      // pruned configuration (q_sim_pq), whose candidate set is
      // model-defined and measured/unit-pinned instead.
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val books = pqBooks(s, d, m = 8, codes = 16, iters = 2)
      val q = Plants.queryVector(emb)
      Pq.rerankScores(Pq.encode(corpus, "embedding", books), corpus,
          "vec_id", "embedding", "pq_code", books, q, candidates = 1 << 20)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "product-quantization ADC + exact re-rank at full candidate width — " +
      "the PQ pipeline's recall=1 anchor, hash-checked against brute force")

  private val qSimPq = Q(
    "q_sim_pq",
    (s, d) => {
      // the serve shape at 100 TB: the ADC stage scans ONLY the packed
      // 8-byte codes (32× less I/O than raw 64-dim floats), the exact
      // re-rank touches `candidates` rows. Candidate set is model-defined
      // (trained codebooks) → rows-only; q_sim_pq_full is the anchor and
      // PqSpec pins recall at this operating point.
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val books = pqBooks(s, d, m = 8, codes = 16, iters = 2)
      val q = Plants.queryVector(emb)
      Pq.searchRerank(Pq.encode(corpus, "embedding", books), corpus,
          "vec_id", "embedding", "pq_code", books, q, k = 10, candidates = 50)
        .transform(Plants.ranked)
    },
    None, // model-defined (trained codebooks / ADC candidate set)
    "product-quantization ANN: packed-code ADC scan + exact re-rank of " +
      "the top candidates")

  private val qSimPqIndex = Q(
    "q_sim_pq_index",
    (s, d) => {
      // the WRITE-ONCE PQ serve path (Pq.writePqIndex — the compression
      // sibling of q_sim_ivf_index): packed codes + codebooks are
      // materialized, then the query is served through the RELOADED model
      // with no retraining or re-encoding. Full candidate width makes the
      // result exactly brute force, which DuckDB CAN check.
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val prefix = s"graft_pqidx_${Tables.corpusTag(d)}"
      Pq.writePqIndex(corpus, "vec_id", "embedding", prefix, m = 8,
        codes = 16, iters = 2, basePath = Some(s"/tmp/$prefix"))
      val q = Plants.queryVector(emb)
      Pq.rerankScoresIndex(s, prefix, corpus, "vec_id", "embedding", q,
          candidates = 1 << 20)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "PQ top-k served from the materialized codes+codebooks index at full " +
      "candidate width — the write-once index path's recall=1 anchor")

  private val qSimIvfIndex = Q(
    "q_sim_ivf_index",
    (s, d) => {
      // the WRITE-ONCE index serve path (Similarity.writeIvfIndex —
      // q_dedup_near_incremental's vector sibling): the corpus is
      // materialized cell-partitioned with its centroid artifact beside
      // it, then searched through the RELOADED model — no retraining, and
      // the probe set prunes cell directories at the scan (plan-proven in
      // SimilaritySpec). Probing every cell makes the result exactly
      // brute force, which DuckDB CAN check: the recall=1 anchor for the
      // index path; pruned configurations are covered by q_sim_ivf.
      val emb = embeddings(s, d)
      val prefix = s"graft_ivfidx_${Tables.corpusTag(d)}"
      Similarity.writeIvfIndex(emb.filter(col("vec_id") =!= 0), "embedding",
        prefix, k = 8, iters = 2, basePath = Some(s"/tmp/$prefix"))
      val q = Plants.queryVector(emb)
      // rank on the ROUNDED score (the q_sim_ann_full pattern): a raw
      // float cut at k could keep a different boundary row than the
      // oracle's 6-dp double ordering
      Similarity.ivfScoresIndex(s, prefix, "vec_id", "embedding", q,
          nprobe = 8)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "IVF top-k served from the materialized cell-partitioned index at " +
      "full probe — the write-once index path's recall=1 anchor")

  private val qSimIvfAppend = Q(
    "q_sim_ivf_append",
    (s, d) => {
      // Index MAINTENANCE certificate: the index is built on HALF the
      // corpus, the other half arrives later as an ingest batch through
      // Similarity.appendToIvfIndex (reloaded frozen quantizer, O(batch)
      // append into the cell directories) — and a full-probe search over
      // the maintained index must STILL equal exact brute force over the
      // whole corpus, which DuckDB checks. Cells are assigned by the same
      // frozen centroids on both halves, so append-then-search ≡
      // build-all-then-search (spec-proven row-identical); this query is
      // the cross-engine anchor of that equivalence.
      val emb = embeddings(s, d)
      val prefix = s"graft_ivfapp_${Tables.corpusTag(d)}"
      val corpus = emb.filter(col("vec_id") =!= 0)
      Similarity.writeIvfIndex(corpus.filter(pmod(col("vec_id"), lit(2)) === 1),
        "embedding", prefix, k = 8, iters = 2,
        centroids = Some(ivfCentroids(s, d, k = 8, iters = 2)),
        basePath = Some(s"/tmp/$prefix"))
      Similarity.appendToIvfIndex(s,
        corpus.filter(pmod(col("vec_id"), lit(2)) === 0), "embedding", prefix)
      val q = Plants.queryVector(emb)
      Similarity.ivfScoresIndex(s, prefix, "vec_id", "embedding", q,
          nprobe = 8)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "IVF index maintenance: half the corpus appended as an ingest batch " +
      "through the frozen quantizer, then full-probe top-k from the " +
      "maintained index — hash-equal to exact brute force over everything")

  private def bpeMerges(s: SparkSession, d: String) =
    trainedModel(d, "bpe", 64)(
      graft.ext.Bpe.train(documents(s, d), "text", numMerges = 64))

  private val qBpeMerges = Q(
    "q_bpe_merges",
    (s, d) =>
      graft.ext.Bpe.mergesDf(s, bpeMerges(s, d)).orderBy("rank"),
    None, // model-defined (the merge loop is not SQL-expressible);
    // BpeSpec anchors the trainer on the textbook example and pins
    // determinism; the histogram kernel is oracle-checked by q_vocab_build
    "BPE tokenizer training on the corpus: distributed word histogram + " +
      "driver-side merge loop — the trained merge table as a first-class " +
      "model artifact")

  private val qBpeTokens = Q(
    "q_bpe_tokens",
    (s, d) => {
      // tokenize with the corpus-trained merges: one codegen'd map-only
      // scan, the merge table riding the plan as a reference object.
      // n_pieces is bounded by [n_words, n_chars] and the segmentation
      // is lossless (BpeSpec round-trip) — the token-budget accounting a
      // curation pipeline actually uses (q_sample_token_budget's unit).
      val merges = bpeMerges(s, d)
      documents(s, d)
        .select(
          col("doc_id"),
          size(graft.ext.Bpe.tokens(col("text"), merges)).as("n_pieces"),
          TextAnalysis.tokenCount(col("text")).as("n_words"))
        .orderBy("doc_id")
    },
    None, // model-defined (trained merges); q_token_count is the
    // oracle-checked counting twin and q_bpe_anchor is the driver-visible
    // conservation certificate over the same trained merges
    "BPE tokenization of the corpus against the trained merges " +
      "(map-only codegen'd scan) — per-doc piece counts")

  private val qBpeAnchor = Q(
    "q_bpe_anchor",
    (s, d) => {
      // Driver-visible certificate for the BPE encode path: BPE pieces
      // PARTITION each word's characters (merges only ever concatenate
      // adjacent symbols), so the per-doc sum of piece lengths computed
      // THROUGH the real codegen encoder must equal the doc's
      // non-whitespace character count — which DuckDB computes
      // independently from the raw text. A dropped, duplicated, or
      // mis-merged character anywhere in the kernel breaks the hash.
      val merges = bpeMerges(s, d)
      documents(s, d)
        .select(col("doc_id"),
          aggregate(
            transform(graft.ext.Bpe.tokens(col("text"), merges),
              p => length(p).cast("long")),
            lit(0L), (acc, x) => acc + x).as("n_piece_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g'))
                        AS BIGINT) AS n_piece_chars
            FROM documents ORDER BY doc_id"""),
    "BPE conservation anchor: per-doc piece-length sum through the real " +
      "trained encoder equals the independent non-whitespace char count " +
      "— the segmentation-is-a-partition invariant, driver-checked")

  private def sqBounds(s: SparkSession, d: String) =
    trainedModel(d, "sq8")(
      graft.ext.Sq.trainBounds(
        embeddings(s, d).filter(col("vec_id") =!= 0), "embedding"))

  private val qSimSqFull = Q(
    "q_sim_sq_full",
    (s, d) => {
      // 8-bit scalar quantization at full candidate width: the ADC stage
      // admits every vector, so the trained-bounds encode + byte-code
      // scoring + broadcast-id exact re-rank provably returns exact
      // brute-force top-k — the recall=1 anchor for the pruned serve
      // shape (q_sim_sq).
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val (lo, hi) = sqBounds(s, d)
      val q = Plants.queryVector(emb)
      graft.ext.Sq.rerankScores(
          graft.ext.Sq.encode(corpus, "embedding", lo, hi), corpus,
          "vec_id", "embedding", lo, hi, q, candidates = 1 << 20)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "SQ8 scalar-quantized ADC + exact re-rank at full candidate width — " +
      "the compression path's recall=1 anchor vs brute force")

  private val qSimSq = Q(
    "q_sim_sq",
    (s, d) => {
      // the serve shape: the ADC stage scans dim-byte codes (4× less I/O
      // than raw floats) with near-exact ranking, the re-rank touches
      // `candidates` raw rows. Candidate set is model-defined (trained
      // bounds) → rows-only; q_sim_sq_full is the anchor and SqSpec pins
      // recall ≥ 0.95 at a THIN rerank width on structureless gaussians.
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val (lo, hi) = sqBounds(s, d)
      val q = Plants.queryVector(emb)
      graft.ext.Sq.rerankScores(
          graft.ext.Sq.encode(corpus, "embedding", lo, hi), corpus,
          "vec_id", "embedding", lo, hi, q, candidates = 50)
        .transform(Plants.top10)
    },
    None, // model-defined (trained bounds / ADC candidate set)
    "SQ8 ANN: 4×-compressed byte-code ADC scan + exact re-rank of the " +
      "top candidates")

  private val qSimSqIndex = Q(
    "q_sim_sq_index",
    (s, d) => {
      // the WRITE-ONCE SQ8 serve path (Sq.writeSqIndex): byte codes +
      // bounds artifact materialized, query served through the RELOADED
      // bounds with no retraining or re-encoding; full candidate width
      // makes the result exactly brute force, which DuckDB CAN check.
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val prefix = s"graft_sqidx_${Tables.corpusTag(d)}"
      graft.ext.Sq.writeSqIndex(corpus, "vec_id", "embedding", prefix,
        basePath = Some(s"/tmp/$prefix"), bounds = Some(sqBounds(s, d)))
      val q = Plants.queryVector(emb)
      graft.ext.Sq.rerankScoresIndex(s, prefix, corpus, "vec_id",
          "embedding", q, candidates = 1 << 20)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "SQ8 top-k served from the materialized codes+bounds index — the " +
      "write-once path's recall=1 anchor")

  private def ivfPqModel(
      s: SparkSession, d: String, cells: Int, m: Int, codes: Int, iters: Int) =
    trainedModel(d, "ivfpq", cells, m, codes, iters)(
      graft.ext.IvfPq.train(
        embeddings(s, d).filter(col("vec_id") =!= 0), "embedding",
        cells, m, codes, iters))

  private val qSimIvfPqFull = Q(
    "q_sim_ivfpq_full",
    (s, d) => {
      // IVFADC (IVF + residual PQ) at full probe AND full candidate
      // width: every cell is probed and the ADC stage admits every
      // vector, so the composed machinery (coarse quantizer, residual
      // codebooks, fused assign+encode scan, per-cell LUT ADC scoring,
      // TakeOrdered cut, broadcast-id exact re-rank) provably returns
      // exact brute-force top-k — the recall=1 anchor for the pruned
      // serve shape (q_sim_ivfpq), whose candidate set is model-defined
      // and measured/unit-pinned instead.
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = ivfPqModel(s, d, cells = 4, m = 8, codes = 16, iters = 2)
      val q = Plants.queryVector(emb)
      graft.ext.IvfPq.rerankScores(
          graft.ext.IvfPq.encode(corpus, "vec_id", "embedding", model),
          corpus, "vec_id", "embedding", model, q,
          nprobe = 4, candidates = 1 << 20)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "IVFADC (coarse cells + residual PQ) at full probe and candidate " +
      "width — the composed pipeline's recall=1 anchor vs brute force")

  private val qSimIvfPqIndex = Q(
    "q_sim_ivfpq_index",
    (s, d) => {
      // the WRITE-ONCE IVFADC serve path (IvfPq.writeIvfPqIndex): the
      // cell-partitioned codes table plus centroid and codebook artifacts
      // are materialized, then the query is served through the RELOADED
      // model — no retraining, no re-encoding, probes prune cell
      // directories at the scan (plan-proven in IvfPqSpec). Full probe +
      // full candidate width makes the result exactly brute force, which
      // DuckDB CAN check.
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val prefix = s"graft_ivfpqidx_${Tables.corpusTag(d)}"
      graft.ext.IvfPq.writeIvfPqIndex(corpus, "vec_id", "embedding", prefix,
        cells = 4, m = 8, codes = 16, iters = 2,
        basePath = Some(s"/tmp/$prefix"),
        model = Some(ivfPqModel(s, d, cells = 4, m = 8, codes = 16, iters = 2)))
      val q = Plants.queryVector(emb)
      graft.ext.IvfPq.rerankScoresIndex(s, prefix, corpus, "vec_id",
          "embedding", q, nprobe = 4, candidates = 1 << 20)
        .transform(Plants.top10)
    },
    Some(brutForceOracleSql),
    "IVFADC top-k served from the materialized cell-partitioned codes " +
      "index through the reloaded model — the write-once path's recall=1 " +
      "anchor")

  private val qSimIvfPq = Q(
    "q_sim_ivfpq",
    (s, d) => {
      // the serve shape at 100 TB: nprobe of the cell directories are
      // read (partition pruning), the ADC stage scans 12-byte rows, the
      // exact re-rank touches `candidates` raw rows. Candidate set is
      // model-defined (trained quantizers) → rows-only;
      // q_sim_ivfpq_full/_index are the anchors and IvfPqSpec pins
      // recall at this operating point.
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = ivfPqModel(s, d, cells = 4, m = 8, codes = 16, iters = 2)
      val q = Plants.queryVector(emb)
      graft.ext.IvfPq.rerankScores(
          graft.ext.IvfPq.encode(corpus, "vec_id", "embedding", model),
          corpus, "vec_id", "embedding", model, q,
          nprobe = 2, candidates = 50)
        .transform(Plants.top10)
    },
    None, // model-defined (trained quantizers / ADC candidate set)
    "IVFADC ANN: cell-pruned 12-byte ADC scan + exact re-rank of the " +
      "top candidates — the composed IVF×PQ serve shape")

  private val qTextStats = Q(
    "q_text_stats",
    (s, d) =>
      documents(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"))
        .orderBy("lang"),
    Some("""SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
            FROM documents GROUP BY lang ORDER BY lang"""),
    "corpus stats per language")

  private val qTokenCount = Q(
    "q_token_count",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(list_sum(list_transform(string_split(text, ' '),
                        t -> greatest(CAST(ceil(length(t) / 4.0) AS BIGINT), 1))) AS BIGINT) AS n_subwords
            FROM documents ORDER BY doc_id"""),
    "whitespace + BPE-ish subword token counting")

  private val qQualityScore = Q(
    "q_quality_score",
    (s, d) =>
      // Float discipline: the composite score is declared in integer
      // TENTHS (4+3+3). The library's double `quality_score` sums 0.4+0.3
      // to 0.7000000000000001 while DuckDB's DECIMAL literals sum to 0.7
      // exactly — invisible at one SF, a hash-fail at another. The
      // integer form is exact in both engines at any SF.
      TextAnalysis.qualityFeatures(documents(s, d), "text")
        .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
          col("stopword_ratio"),
          round(col("quality_score") * 10).cast("long").as("quality_x10"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / len(string_split(text, ' ')) AS mean_word_len,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS stopword_ratio,
                   CAST(CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 4 ELSE 0 END
                    + CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
                             / len(string_split(text, ' ')) BETWEEN 3.0 AND 10.0 THEN 3 ELSE 0 END
                    + CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                             t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE)
                             / len(string_split(text, ' ')) BETWEEN 0.01 AND 0.6 THEN 3 ELSE 0 END
                     AS BIGINT) AS quality_x10
            FROM documents ORDER BY doc_id"""),
    "document quality features + composite score (integer tenths)")

  private val qLangId = Q(
    "q_lang_id",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          col("lang").as("lang_actual"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.langIdScore(col("text")).as("votes"))
        .orderBy("doc_id"),
    // The heuristic is DETERMINISTIC (stopword hit counts; ties go to the
    // lexicographically largest language code via struct array_max), so
    // DuckDB can replay it: per-language hit counts, then a reverse-
    // alphabetical >= cascade implements the same argmax+tiebreak.
    Some {
      val langs = TextAnalysis.stopwords.toSeq.sortBy(_._1) // de en es fr zh
      val hits = langs.map { case (l, ws) =>
        s"CAST(len(list_filter(string_split(text, ' '), t -> t IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS h_$l"
      }.mkString(",\n                     ")
      val codes = langs.map(_._1)
      val cascade = codes.reverse.zipWithIndex.map { case (l, i) =>
        val rest = codes.reverse.drop(i + 1)
        if (rest.isEmpty) s"ELSE '$l'"
        else s"WHEN ${rest.map(r => s"h_$l >= h_$r").mkString(" AND ")} THEN '$l'"
      }.mkString("\n                        ")
      s"""SELECT doc_id, lang AS lang_actual,
                   CASE $cascade END AS lang_pred,
                   greatest(${codes.map("h_" + _).mkString(", ")}) AS votes
            FROM (SELECT doc_id, lang, text,
                     $hits
                  FROM documents)
            ORDER BY doc_id"""
    },
    "stopword-vote language identification (deterministic heuristic, " +
      "cross-engine checked)")

  private val qFingerprint = Q(
    "q_fingerprint",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(text) AS fp_md5
            FROM documents ORDER BY doc_id"""),
    "portable 128-bit content fingerprint (md5)")

  private val qNgramFreq = Q(
    "q_ngram_freq",
    (s, d) =>
      documents(s, d)
        // short docs yield an empty array (guarded inside wordNgramsExpr)
        // which explode simply drops — matching the oracle's WHERE
        .select(explode(TextAnalysis.wordNgramsExpr("text", 2)).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(100),
    Some("""SELECT bigram, count(*) AS n FROM (
              SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1])) AS bigram
              FROM (SELECT string_split(text, ' ') AS toks FROM documents
                    WHERE len(string_split(text, ' ')) >= 2))
            GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100"""),
    "corpus bigram frequency (top-100) — n-gram statistics for LM data work")

  private val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, d) =>
      // exact frequent-token mining at 0.2% relative support. The sketch
      // twin (count_min_sketch partial-agg + driver probe, the one-pass
      // bounded-memory form for when exact counts don't fit) is
      // property-tested against these exact counts in TextAnalysisSpec.
      TextAnalysis.heavyHitters(documents(s, d), "text", support = 0.002)
        .orderBy(col("n").desc, col("tok")),
    Some("""WITH toks AS (
              SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
            t2 AS (SELECT tok FROM toks WHERE tok <> ''),
            total AS (SELECT count(*) AS n_total FROM t2)
            SELECT tok, count(*) AS n,
                   round(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM total), 6)
                     AS support
            FROM t2 GROUP BY tok
            HAVING CAST(count(*) AS DOUBLE) >= 0.002 * (SELECT n_total FROM total)
            ORDER BY n DESC, tok"""),
    "exact heavy hitters at relative support: one keyed agg + broadcast " +
      "scalar total (CMS sketch twin property-tested against it)")

  private val qHeavyHittersCms = Q(
    "q_heavy_hitters_cms",
    (s, d) => {
      // The 100 TB form of q_heavy_hitters (the q_hll_shards pattern for
      // frequencies): sketch each SHARD independently in one pass
      // (count_min_sketch partial agg → one binary blob per shard), merge
      // the kilobyte blobs driver-side, and probe with CANDIDATES from
      // per-shard exact local heavy hitters — any global φ-heavy token is
      // φ-heavy in ≥1 shard (pigeonhole), so the candidate union is a
      // superset of the answer and is bounded by shards/φ rows (a model
      // artifact, never the counts table). Exact counts never exist
      // anywhere: memory is sketch-width × shards regardless of
      // cardinality. Deterministic (fixed seed 42) and, at width 2/ε =
      // 20 000 ≫ vocab, collision-free here — so the estimates equal the
      // exact counts and the row is HASH-CHECKED against the same oracle
      // as the exact twin (the ANN recall=1 anchor discipline).
      import org.apache.spark.util.sketch.CountMinSketch
      val toks = documents(s, d)
        .select((col("doc_id") % 8).as("shard"),
          explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
      // per-shard one-pass sketches (kilobytes each)
      val blobs = toks.groupBy("shard")
        .agg(expr("count_min_sketch(tok, 0.0001d, 0.99d, 42)").as("cms"))
        .collect()
      val merged = blobs.map(r => CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("cms"))))
        .reduceLeft { (a, b) => a.mergeInPlace(b); a }
      // candidate generation: exact LOCAL heavy hitters per shard. The
      // corpus total rides the same 8-row per-shard aggregate (total =
      // Σ shard totals — exact) instead of a separate toks.count(): one
      // fewer full token-explode pass at any scale (guide §1.2 step 1,
      // "don't compute things you throw away")
      val shardTotals = toks.groupBy("shard").agg(count(lit(1)).as("n_shard"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // coalesce: sum over ZERO rows is NULL — an empty corpus must yield
      // total 0 (the old toks.count() semantics), not an NPE
      val total = shardTotals.agg(coalesce(sum(col("n_shard")), lit(0L)))
        .head().getLong(0)
      val thresh = 0.002 * total
      val candidates = toks.groupBy("shard", "tok")
        .agg(count(lit(1)).as("n_local"))
        .join(broadcast(shardTotals), "shard")
        .filter(col("n_local") >= lit(0.002) * col("n_shard"))
        .select("tok").distinct()
        .collect().map(_.getString(0))
      // both consumers (total + candidate join) have executed by here —
      // release the 8-row cache so the query is self-contained in a
      // session that never calls CacheUtils.releaseAll
      shardTotals.unpersist(blocking = false)
      // CMS over-estimates only, so probing keeps every true heavy hitter;
      // survivors are then CONFIRMED by one exact aggregation filtered to
      // that bounded candidate set — the emitted counts are exact even if
      // an unlucky collision inflates a sub-threshold candidate's estimate
      // (sketch = discovery, exact filtered agg = certificate).
      val survivors = candidates
        .filter(t => merged.estimateCount(t.getBytes("UTF-8")) >= thresh)
      toks.filter(col("tok").isin(survivors.toSeq: _*))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .filter(col("n") >= lit(thresh))
        .orderBy(col("n").desc, col("tok"))
    },
    Some("""WITH toks AS (
              SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
            t2 AS (SELECT tok FROM toks WHERE tok <> ''),
            total AS (SELECT count(*) AS n_total FROM t2)
            SELECT tok, count(*) AS n
            FROM t2 GROUP BY tok
            HAVING CAST(count(*) AS DOUBLE) >= 0.002 * (SELECT n_total FROM total)
            ORDER BY n DESC, tok"""),
    "mergeable count-min heavy hitters: per-shard one-pass CMS blobs + " +
      "pigeonhole local candidates, merged and probed driver-side — the " +
      "bounded-memory 100 TB twin, hash-equal to the exact form at " +
      "collision-free width")

  private val qOovRate = Q(
    "q_oov_rate",
    (s, d) =>
      // tokenizer-vocab coverage: top-V corpus tokens as the vocab,
      // per-doc out-of-vocabulary fraction. The vocab is a distributed
      // TakeOrdered (V rows, never the counts table) broadcast back over
      // the map-only token explode. V=16 because the synthetic corpus
      // has only 31 distinct tokens — a real vocab size would make every
      // fraction 0 and the operator unexercised.
      TextAnalysis.oovRate(documents(s, d), "doc_id", "text", vocabSize = 16)
        .orderBy("doc_id"),
    Some("""WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
            t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
            vocab AS (
              SELECT tok FROM (
                SELECT tok, count(*) AS n FROM t2
                GROUP BY tok ORDER BY n DESC, tok LIMIT 16)),
            per AS (
              SELECT t.doc_id, count(*) AS n_toks,
                     count(*) FILTER (WHERE v.tok IS NULL) AS n_oov
              FROM t2 t LEFT JOIN vocab v ON t.tok = v.tok
              GROUP BY t.doc_id)
            SELECT doc_id, n_toks, n_oov,
                   round(CAST(n_oov AS DOUBLE) / n_toks, 6) AS oov_frac
            FROM per ORDER BY doc_id"""),
    "out-of-vocabulary rate against the top-V corpus vocab: distributed " +
      "top-V + broadcast join — tokenizer coverage analysis")

  private val qTfidf = Q(
    "q_tfidf",
    (s, d) => {
      // distinctive-terms analysis: top-5 TF-IDF terms per source. Scale
      // shape: tf and df are both keyed aggregations on `term` (the join
      // between them co-partitions on the same key — one shuffle family),
      // the source-count is a broadcast scalar, and the final top-5 is a
      // rank-filter window (WindowGroupLimit pre-truncation, as in
      // q_sample_stratified). IDF uses the natural log of a small
      // rational (n_sources/df), so both engines compute identical
      // doubles; the output rounds to 6 decimals.
      val docs = documents(s, d)
      val terms = docs.select(col("source"),
        explode(split(col("text"), " ")).as("term"))
      val tf = terms.groupBy("source", "term").agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val ns = docs.agg(countDistinct(col("source")).as("ns"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("tfidf").desc, col("term"))
      tf.join(dft, "term")
        .crossJoin(broadcast(ns))
        .withColumn("tfidf", col("tf") * log(col("ns").cast("double") / col("df")))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("source"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"), col("rk"))
        .orderBy("source", "rk")
    },
    Some("""WITH terms AS (
              SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
            tf AS (SELECT source, term, count(*) AS tf FROM terms GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            ns AS (SELECT count(DISTINCT source) AS ns FROM documents),
            ranked AS (
              SELECT tf.source, tf.term, tf.tf, dft.df,
                     tf.tf * ln(CAST(ns.ns AS DOUBLE) / dft.df) AS tfidf,
                     row_number() OVER (PARTITION BY tf.source
                       ORDER BY tf.tf * ln(CAST(ns.ns AS DOUBLE) / dft.df) DESC, tf.term) AS rk
              FROM tf JOIN dft USING (term) CROSS JOIN ns)
            SELECT source, term, tf, df, round(tfidf, 6) AS tfidf,
                   CAST(rk AS BIGINT) AS rk
            FROM ranked WHERE rk <= 5
            ORDER BY source, rk"""),
    "TF-IDF distinctive terms per source (top-5): co-partitioned tf⋈df " +
      "aggregations + broadcast scalar idf + rank-filter window")

  private val qRepetition = Q(
    "q_repetition",
    (s, d) =>
      // Gopher-style repetition signal: duplicate-bigram fraction per doc
      // (high values flag boilerplate/templated text for filtering)
      documents(s, d)
        .withColumn("_bi", TextAnalysis.wordNgramsExpr("text", 2))
        .select(
          col("doc_id"),
          size(col("_bi")).cast("long").as("n_bigrams"),
          size(array_distinct(col("_bi"))).cast("long").as("n_unique"),
          when(size(col("_bi")) > 0,
            lit(1.0) - size(array_distinct(col("_bi"))).cast("double")
              / size(col("_bi")).cast("double"))
            .otherwise(0.0).as("dup_fraction"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(len(bi) AS BIGINT) AS n_bigrams,
                   CAST(len(list_distinct(bi)) AS BIGINT) AS n_unique,
                   CASE WHEN len(bi) > 0
                        THEN 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE)
                                   / CAST(len(bi) AS DOUBLE)
                        ELSE 0.0 END AS dup_fraction
            FROM (SELECT doc_id,
                         CASE WHEN len(string_split(text, ' ')) < 2 THEN []
                              ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
                                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
                         END AS bi
                  FROM documents)
            ORDER BY doc_id"""),
    "duplicate-bigram fraction (Gopher-style repetition filter signal)")

  private val qRepetitionPrune = Q(
    "q_repetition_prune",
    (s, d) =>
      // the cleanup counterpart of q_repetition's SIGNAL: later
      // occurrences of a bigram window already seen in the same doc are
      // removed (map-only per-row array algebra — no shuffle at any scale)
      TextAnalysis.selfRepetitionPrune(documents(s, d), "doc_id", "text", n = 2)
        .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            g AS (SELECT doc_id, w,
                    CASE WHEN len(w) >= 2
                         THEN list_transform(generate_series(1, len(w) - 1),
                              i -> array_to_string(w[i:i+1], ' '))
                         ELSE [] END AS G
                  FROM t),
            f AS (SELECT doc_id, w, G,
                    list_transform(generate_series(1, len(G)),
                      i -> list_contains(G[1:i-1], G[i])) AS F
                  FROM g),
            c AS (SELECT doc_id, w,
                    list_transform(generate_series(1, len(w)),
                      p -> len(list_filter(generate_series(greatest(1, p - 1),
                                                           least(p, len(F))),
                             i -> F[i])) > 0) AS C
                  FROM f)
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(C, x -> x)) AS BIGINT) AS rep_tokens,
                   round(CAST(len(list_filter(C, x -> x)) AS DOUBLE) / len(w), 6)
                     AS rep_frac,
                   array_to_string(list_filter(list_transform(generate_series(1, len(w)),
                     p -> CASE WHEN C[p] THEN NULL ELSE w[p] END),
                     x -> x IS NOT NULL), ' ') AS pruned_text
            FROM c
            ORDER BY doc_id"""),
    "within-document repeated-window pruning (bigram windows): the " +
      "map-only cleanup form of the Gopher repetition signal")

  private val qTextNormalize = Q(
    "q_text_normalize",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("norm"),
          length(TextAnalysis.normalize(col("text"))).cast("long").as("norm_len"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm,
                   CAST(length(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
            FROM documents ORDER BY doc_id"""),
    "canonical normalization (lower + whitespace squeeze + trim) for dedup keys")

  private val qSplitStable = Q(
    "q_split_stable",
    (s, d) =>
      documents(s, d)
        .withColumn("split", TextAnalysis.stableSplit(col("doc_id")))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split", "lang"),
    Some("""SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('d', 'e') THEN 'val'
                        WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' THEN 'test'
                        ELSE 'train' END AS split,
                   lang, count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY 1, 2 ORDER BY split, lang"""),
    "stable content-addressed train/val/test split (examples never migrate " +
      "between splits as the corpus grows)")

  private val qPackSequences = Q(
    "q_pack_sequences",
    (s, d) =>
      TextAnalysis.packSequences(
          documents(s, d).select(col("doc_id"), col("lang"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          shardCol = "lang", orderCol = "doc_id",
          tokenCol = col("n_tokens"), budgetTokens = 2048L)
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, n_tokens,
                   CAST(floor(start_offset / 2048) AS BIGINT) AS seq_id,
                   CAST(start_offset % 2048 AS BIGINT) AS seq_offset
            FROM (SELECT doc_id, lang,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                         coalesce(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                           OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
                  FROM documents)
            ORDER BY doc_id"""),
    "sequence packing: running-token-offset binning into 2048-token " +
      "training sequences, sharded by lang (per-shard window, distributes)")

  private val qChunkWindows = Q(
    "q_chunk_windows",
    (s, d) =>
      TextAnalysis.chunkWindows(documents(s, d), "doc_id", "text",
          windowTokens = 32, strideTokens = 16)
        .orderBy("doc_id", "window_no"),
    Some("""SELECT doc_id, window_no, chunk,
                   CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens
            FROM (SELECT doc_id,
                         CAST(i AS INT) - 1 AS window_no,
                         array_to_string(toks[pos:pos+31], ' ') AS chunk
                  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
                       LATERAL (SELECT unnest(generate_series(1,
                                  CAST(ceil(greatest(len(toks) - 31, 1) / 16.0) AS BIGINT))) AS i),
                       LATERAL (SELECT 1 + (i - 1) * 16 AS pos))
            ORDER BY doc_id, window_no"""),
    "context-window chunking: overlapping 32-token windows at stride 16 " +
      "(map-only explode, the embedding-pipeline shape)")

  private val qQualityGate = Q(
    "q_quality_gate",
    (s, d) => {
      // per-language length gate: drop each language's shortest quartile.
      // Relative (per-group) thresholds are the curation-correct form — a
      // single absolute cutoff would gut low-resource languages.
      val f = documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      TextAnalysis.quantileGate(f, "n_tokens", "lang", 0.25)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          round(col("_thr"), 6).as("lang_p25"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (
              SELECT doc_id, lang,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
            thr AS (
              SELECT lang, quantile_cont(CAST(n_tokens AS DOUBLE), 0.25) AS p25
              FROM f GROUP BY lang)
            SELECT f.doc_id, f.lang, f.n_tokens, round(thr.p25, 6) AS lang_p25
            FROM f JOIN thr USING (lang)
            WHERE f.n_tokens >= thr.p25
            ORDER BY f.doc_id"""),
    "per-group quantile gate: keep docs at/above their language's P25 " +
      "token count (exact interpolated percentile, broadcast thresholds)")

  private val qCuratePipeline = Q(
    "q_curate_pipeline",
    (s, d) => {
      // the operators composed END-TO-END as one declarative plan — the
      // engine's whole point (the reference is a pipeline orchestrator):
      // per-language quality gate → exact dedup (keep-min-id) → stable
      // split → deterministic shard+pos for the train set. One lazy
      // Catalyst plan: the gate's thresholds broadcast, dedup is one
      // keyed window, split/shard are map-only, the shard window is the
      // only remaining shuffle.
      val docs = documents(s, d)
      val gated = TextAnalysis.quantileGate(
        docs.select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "n_tokens", "lang", 0.25)
      // dedup keyed by the content FINGERPRINT with text projected away
      // first: a window has no map-side partial agg, so keying by raw
      // text would shuffle every document body — the fingerprint row is
      // a few dozen bytes regardless of document size
      val w = org.apache.spark.sql.expressions.Window.partitionBy("_fp")
      val deduped = gated
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          md5(col("text")).as("_fp"))
        .withColumn("_keep", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("_keep"))
      val train = deduped
        .withColumn("split", TextAnalysis.stableSplit(col("doc_id")))
        .filter(col("split") === "train")
        .select("doc_id", "lang", "n_tokens", "split")
      TextAnalysis.shuffleShards(train, "doc_id")
        .orderBy("shard", "pos")
    },
    Some("""WITH f AS (
              SELECT doc_id, lang, text,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
            thr AS (
              SELECT lang, quantile_cont(CAST(n_tokens AS DOUBLE), 0.25) AS p25
              FROM f GROUP BY lang),
            gated AS (
              SELECT f.* FROM f JOIN thr USING (lang)
              WHERE f.n_tokens >= thr.p25),
            deduped AS (
              SELECT * FROM (
                SELECT g.*, min(doc_id) OVER (PARTITION BY md5(text)) AS _keep
                FROM gated g)
              WHERE doc_id = _keep),
            train AS (
              SELECT doc_id, lang, n_tokens, 'train' AS split
              FROM deduped
              WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    NOT IN ('d', 'e', 'f'))
            SELECT doc_id, lang, n_tokens, split,
                   CAST(strpos('0123456789abcdef',
                        substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) AS shard,
                   CAST(row_number() OVER (
                     PARTITION BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
            FROM train ORDER BY shard, pos"""),
    "end-to-end curation pipeline as ONE lazy plan: per-language quality " +
      "gate → exact dedup → stable split → deterministic train-set " +
      "shard+pos — operator composition, the engine's core claim")

  private val qSampleStratified = Q(
    "q_sample_stratified",
    (s, d) =>
      TextAnalysis.stratifiedSample(
          documents(s, d).select("doc_id", "lang"), "doc_id", "lang", cap = 30)
        .orderBy("lang", "doc_id"),
    Some("""SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM documents)
            WHERE rk <= 30
            ORDER BY lang, doc_id"""),
    "stratified per-group cap sampling (≤30 docs per language, " +
      "content-addressed order; WindowGroupLimit pre-truncates before the shuffle)")

  private val qShuffleShard = Q(
    "q_shuffle_shard",
    (s, d) =>
      TextAnalysis.shuffleShards(
          documents(s, d).select("doc_id"), "doc_id")
        .orderBy("shard", "pos"),
    Some("""SELECT doc_id,
                   CAST(strpos('0123456789abcdef',
                        substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) AS shard,
                   CAST(row_number() OVER (
                     PARTITION BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
            FROM documents
            ORDER BY shard, pos"""),
    "deterministic global shuffle: md5-derived shard + in-shard position " +
      "(reproducible training-data permutation; production path = " +
      "repartition(shard) + sortWithinPartitions, no global sort)")

  private val qMixture = Q(
    "q_mixture",
    (s, d) =>
      // data-mixing step: src0 kept whole, src1 halved, src2 at 10%,
      // everything else dropped — per-source rates via content-addressed
      // md5 buckets compared as fixed-width hex (engine-portable, no
      // hex→int conversion anywhere)
      TextAnalysis.mixtureSample(documents(s, d), "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source"),
    Some("""SELECT source, count(*) AS n_kept
            FROM documents
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
                  CASE source WHEN 'src0' THEN 'g'
                              WHEN 'src1' THEN '8000'
                              WHEN 'src2' THEN '199a'
                              ELSE '' END
            GROUP BY source ORDER BY source"""),
    "deterministic mixture sampling: per-source keep rates via " +
      "content-addressed md5 buckets (reproducible data mixing)")

  private val qMixtureUpsample = Q(
    "q_mixture_upsample",
    (s, d) =>
      // the other half of data mixing: EPOCH WEIGHTING. High-quality
      // sources repeat (src0/src1 ×3, src2 ×2, rest ×1) with a copy
      // index — a map-only explode, no shuffle, no driver loop.
      TextAnalysis.mixtureUpsample(
          documents(s, d).select("doc_id", "source"),
          "doc_id", "source", Map("src0" -> 3, "src1" -> 3, "src2" -> 2))
        .select(col("doc_id"), col("source"),
          col("copy").cast("long").as("copy"))
        .orderBy("doc_id", "copy"),
    Some("""SELECT doc_id, source,
                   unnest(generate_series(1, CASE source WHEN 'src0' THEN 3
                                                         WHEN 'src1' THEN 3
                                                         WHEN 'src2' THEN 2
                                                         ELSE 1 END)) AS copy
            FROM documents ORDER BY doc_id, copy"""),
    "epoch-weighting upsample: per-source integer repeat with copy index " +
      "(map-only explode — reproducible mixture weighting)")

  private val qDedupParagraph = Q(
    "q_dedup_paragraph",
    (s, d) => {
      // CCNet-style paragraph dedup: drop every paragraph occurrence
      // after the first ACROSS the corpus, reassemble the survivors. The
      // synthetic docs share no whole segments, so cross-doc duplicate
      // paragraphs are PLANTED (the q_dedup_incremental pattern): re-id'd
      // docs whose opening 12-token segment copies an existing doc's
      // opening segment — that paragraph must drop from the planted doc
      // (the original is first by (id, pos)) while its unique tail
      // survives. The oracle replays the planting.
      val docs = documents(s, d).select("doc_id", "text")
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 50000).as("doc_id"),
          concat(
            array_join(slice(split(col("text"), " "), 1, 12), " "),
            lit(" planted tail "), col("doc_id")).as("text"))
      // wholly-duplicate docs (their only paragraph copies an original's
      // opening segment) must VANISH — the drop-emptied-docs path
      val emptied = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 60000).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 12), " ").as("text"))
      Dedup.paragraphDedup(
          docs.unionByName(planted).unionByName(emptied), "doc_id",
          TextAnalysis.fixedTokenSegments(col("text"), 12))
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 50000 AS doc_id,
                     array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')
                       || ' planted tail ' || doc_id AS text
              FROM documents WHERE doc_id % 7 = 0
              UNION ALL
              SELECT doc_id + 60000 AS doc_id,
                     array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ') AS text
              FROM documents WHERE doc_id % 13 = 0),
            toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
            paras AS (
              SELECT t.doc_id, r.pos,
                     array_to_string(list_slice(t.toks, r.pos * 12 + 1,
                                                r.pos * 12 + 12), ' ') AS para
              FROM toks t JOIN range(0, 1000) r(pos)
                ON r.pos <= CAST(floor((len(t.toks) - 1) / 12.0) AS BIGINT)),
            ranked AS (
              SELECT doc_id, pos, para,
                     row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
              FROM paras)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_paras,
                   CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   string_agg(CASE WHEN rk = 1 THEN para END, ' ' ORDER BY pos) AS text
            FROM ranked GROUP BY doc_id
            HAVING sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) > 0
            ORDER BY doc_id"""),
    "paragraph-level cross-corpus dedup (CCNet shape): keep-first by " +
      "(id, pos) on paragraph hash, reassemble survivors, drop emptied docs")

  private val qCorpusDiff = Q(
    "q_corpus_diff",
    (s, d) => {
      // snapshot-promotion audit: v2 PLANTS all three delta kinds against
      // the documents table (removed %17 docs, changed %23 texts, added
      // re-id'd %29 docs) and the diff must report exactly those — the
      // oracle replays the planting.
      val v1 = documents(s, d).select("doc_id", "text")
      val v2 = v1.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 23 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 70000).as("doc_id"), col("text")))
      Dedup.corpusDiff(v1, v2, "doc_id", "text").orderBy("doc_id")
    },
    Some("""WITH v1 AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
            v2src AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 23 = 0 THEN text || ' v2' ELSE text END AS text
              FROM documents WHERE doc_id % 17 <> 0
              UNION ALL
              SELECT doc_id + 70000 AS doc_id, text
              FROM documents WHERE doc_id % 29 = 0),
            v2 AS (SELECT doc_id, md5(text) AS new_fp FROM v2src),
            j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, old_fp, new_fp
                  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
            SELECT doc_id,
                   CASE WHEN old_fp IS NULL THEN 'added'
                        WHEN new_fp IS NULL THEN 'removed'
                        WHEN old_fp <> new_fp THEN 'changed' END AS status,
                   old_fp, new_fp
            FROM j
            WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp <> new_fp
            ORDER BY doc_id"""),
    "corpus version diff: added/removed/changed report via fingerprint " +
      "full-outer join — (id, 16-byte fp) pairs shuffle, never texts")

  private val qHardNegatives = Q(
    "q_hard_negatives",
    (s, d) => {
      // contrastive mining sets for anchor vec_id 0: top-5 positives,
      // ranks 6-15 hard negatives, 10 md5-drawn random negatives from the
      // rest — band boundaries on the ROUNDED score (engine-portable)
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
      Similarity.miningSets(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, "embedding",
          posK = 5, hardK = 10, randK = 10)
        .orderBy("role", "rank")
    },
    Some("""WITH s AS (
              SELECT vec_id,
                     round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[])
                        FROM embeddings WHERE vec_id = 0)), 6) AS score
              FROM embeddings WHERE vec_id <> 0),
            r AS (SELECT vec_id, score,
                         CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS BIGINT) AS rank
                  FROM s),
            band AS (
              SELECT CASE WHEN rank <= 5 THEN 'positive' ELSE 'hard_negative' END AS role,
                     rank, vec_id, score
              FROM r WHERE rank <= 15),
            rnd AS (
              SELECT 'random_negative' AS role,
                     CAST(row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rank,
                     vec_id, score
              FROM r WHERE rank > 15
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 10)
            SELECT role, rank, vec_id, score FROM band
            UNION ALL
            SELECT role, rank, vec_id, score FROM rnd
            ORDER BY role, rank"""),
    "contrastive mining sets: positives / hard negatives by rounded-score " +
      "band (one TakeOrdered), md5-deterministic random negatives from the " +
      "rest (anti-join + second TakeOrdered — corpus scanned, never shuffled)")

  private val qKnnJoin = Q(
    "q_knn_join",
    (s, d) =>
      // batch k-NN join, every vector → its top-3 within-cell neighbors.
      // Cells here are the deterministic label column (the oracle-able
      // stand-in for the production `ivfAssign` cell, exactly the
      // q_dedup_semantic pattern); ranking on the ROUNDED score makes the
      // k-boundary engine-portable.
      Similarity.knnJoinWithinCells(embeddings(s, d),
          "vec_id", "embedding", "label", k = 3)
        .orderBy("vec_id", "nn_rank"),
    Some("""WITH pairs AS (
              SELECT a.vec_id, b.vec_id AS nn_id,
                     round(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]),
                       CAST(b.embedding AS DOUBLE[])), 6) AS score
              FROM embeddings a
              JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
            r AS (SELECT vec_id, nn_id, score,
                         CAST(row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY score DESC, nn_id) AS BIGINT) AS nn_rank
                  FROM pairs)
            SELECT vec_id, nn_rank, nn_id, score
            FROM r WHERE nn_rank <= 3
            ORDER BY vec_id, nn_rank"""),
    "batch k-NN join: per-vector top-k within-cell neighbors (cell-local " +
      "quadratic term only; WindowGroupLimit pre-truncates before the " +
      "rank shuffle)")

  private val qVocabBuild = Q(
    "q_vocab_build",
    (s, d) =>
      TextAnalysis.vocabCoverage(documents(s, d), "text", topV = 50)
        .orderBy("rank"),
    Some("""WITH toks AS (
              SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
            counts AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS n
              FROM toks WHERE tok <> '' GROUP BY tok),
            total AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts),
            top AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 50),
            r AS (
              SELECT tok, n,
                     CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rank,
                     CAST(sum(n) OVER (ORDER BY n DESC, tok) AS BIGINT) AS cum_n
              FROM top)
            SELECT rank, tok, n, cum_n,
                   round(CAST(cum_n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS coverage
            FROM r, total ORDER BY rank"""),
    "vocabulary build with coverage curve: keyed token count + " +
      "distributed top-V, rank/cumsum window over the V survivors only")

  private val qSampleTokenBudget = Q(
    "q_sample_token_budget",
    (s, d) =>
      // token-budget mixture step: src0 capped at 800 tokens (partial
      // keep — the crossing doc is the last kept), src1 at 600, src2 at
      // 10000 (keeps the whole source), the other 17 sources dropped
      TextAnalysis.tokenBudgetSample(
          documents(s, d).select("doc_id", "source", "text"),
          "doc_id", "source", "text",
          Map("src0" -> 800L, "src1" -> 600L, "src2" -> 10000L))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("doc_id"),
    Some("""WITH t AS (
              SELECT doc_id, source,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                     md5(CAST(doc_id AS VARCHAR)) AS k
              FROM documents),
            c AS (
              SELECT doc_id, source, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY k, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS _before
              FROM t)
            SELECT doc_id, source, n_tokens, _before + n_tokens AS cum_tokens
            FROM c
            WHERE _before < CASE source WHEN 'src0' THEN 800
                                        WHEN 'src1' THEN 600
                                        WHEN 'src2' THEN 10000
                                        ELSE -1 END
            ORDER BY doc_id"""),
    "per-source token-budget sampling: content-addressed order, keep " +
      "while the running token count is under budget (one keyed window)")

  private val qRedact = Q(
    "q_redact",
    (s, d) =>
      // the synthetic corpus contains no PII, so the query PLANTS a
      // deterministic email/URL/number per document before scrubbing —
      // the oracle replays the same planting, so the hash compare proves
      // the redaction regexes behave identically cross-engine
      documents(s, d)
        .withColumn("_dirty",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com via https://ex.example/p/"), col("doc_id"),
            lit(" ref 1234567"), col("doc_id")))
        .select(col("doc_id"),
          TextAnalysis.redact(col("_dirty")).as("clean"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         text || ' contact user' || doc_id ||
                         '@example.com via https://ex.example/p/' || doc_id ||
                         ' ref 1234567' || doc_id,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       'https?://[^ ]+', '<URL>', 'g'),
                     '[0-9]{5,}', '<NUM>', 'g') AS clean
            FROM documents ORDER BY doc_id"""),
    "PII-style scrubbing (email/URL/number -> placeholder), cross-engine " +
      "identical RE2-subset regexes")

  private val qDecontaminate = Q(
    "q_decontaminate",
    (s, d) => {
      // held-out "benchmark": every 50th document; corpus = the rest.
      // Documents sharing any word 8-gram with the benchmark are flagged —
      // near-dups of an eval doc light up, unrelated docs stay at 0.
      val docs = documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
      TextAnalysis.decontaminate(corpus, "doc_id", "text", evalSet, "text", n = 8)
        .orderBy("doc_id")
    },
    Some("""WITH ng AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, len(toks) - 7),
                       i -> array_to_string(toks[i:i+7], ' ')))) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
              WHERE len(toks) >= 8),
            eval_g AS (SELECT DISTINCT g FROM ng WHERE doc_id % 50 = 0),
            hits AS (
              SELECT c.doc_id, count(DISTINCT c.g) AS n_shared
              FROM ng c JOIN eval_g e USING (g)
              WHERE c.doc_id % 50 <> 0
              GROUP BY c.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
                   coalesce(h.n_shared, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
            LEFT JOIN hits h USING (doc_id)
            ORDER BY doc_id"""),
    "eval-set decontamination: word-8-gram overlap against a held-out " +
      "benchmark (broadcast eval grams; map-only corpus side)")

  private val qContaminationScore = Q(
    "q_contamination_score",
    (s, d) => {
      // q_decontaminate's POLICY form: per-document overlap fraction
      // (shared distinct 8-grams / total distinct 8-grams) and the drop
      // decision at 20% — partial overlap survives, wholesale leakage is
      // dropped. The synthetic corpus has almost no organic mid-range
      // overlap, so both sides of the threshold are PLANTED: eval docs
      // re-id'd with a SHORT distinct-token pad (overlap stays high →
      // dropped) and with a LONG pad (the same leak diluted below 20% →
      // survives with a real nonzero fraction). Pads use numbered tokens
      // because the fraction counts DISTINCT grams — a repeated pad word
      // would collapse to one gram and not dilute at all.
      def pad(n: Int) = array_join(
        transform(sequence(lit(1), lit(n)),
          i => concat(lit("pad"), i.cast("string"))), " ")
      val docs = documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      val heavy = evalSet.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 60000).as("doc_id"),
          concat(col("text"), lit(" "), pad(30)).as("text"))
      val light = evalSet.filter(col("doc_id") % 100 === 50)
        .select((col("doc_id") + 70000).as("doc_id"),
          concat(col("text"), lit(" "), pad(600)).as("text"))
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        .select("doc_id", "text")
        .unionByName(heavy).unionByName(light)
      TextAnalysis.decontaminateScore(corpus, "doc_id", "text",
          evalSet, "text", n = 8, threshold = 0.2)
        .orderBy("doc_id")
    },
    Some("""WITH pads AS (
              SELECT 30 AS k, array_to_string(list_transform(
                       generate_series(1, 30), i -> 'pad' || CAST(i AS VARCHAR)), ' ') AS p
              UNION ALL
              SELECT 600, array_to_string(list_transform(
                       generate_series(1, 600), i -> 'pad' || CAST(i AS VARCHAR)), ' ')),
            corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
              UNION ALL
              SELECT doc_id + 60000, text || ' ' || (SELECT p FROM pads WHERE k = 30)
              FROM documents WHERE doc_id % 100 = 0
              UNION ALL
              SELECT doc_id + 70000, text || ' ' || (SELECT p FROM pads WHERE k = 600)
              FROM documents WHERE doc_id % 100 = 50 AND doc_id % 50 = 0),
            ng AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, len(toks) - 7),
                       i -> array_to_string(toks[i:i+7], ' ')))) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)
              WHERE len(toks) >= 8),
            eval_ng AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                       generate_series(1, len(toks) - 7),
                       i -> array_to_string(toks[i:i+7], ' ')))) AS g
              FROM (SELECT string_split(text, ' ') AS toks FROM documents
                    WHERE doc_id % 50 = 0)
              WHERE len(toks) >= 8),
            per AS (
              SELECT c.doc_id, count(*) AS n_grams, count(e.g) AS n_shared
              FROM ng c LEFT JOIN eval_ng e ON c.g = e.g
              GROUP BY c.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
                   CASE WHEN p.n_grams IS NOT NULL
                        THEN round(CAST(p.n_shared AS DOUBLE) / p.n_grams, 6)
                        ELSE 0.0 END AS overlap_frac,
                   CASE WHEN p.n_grams IS NOT NULL
                        THEN CAST(p.n_shared AS DOUBLE) / p.n_grams >= 0.2
                        ELSE false END AS drop_doc
            FROM (SELECT doc_id FROM corpus) d
            LEFT JOIN per p ON d.doc_id = p.doc_id
            ORDER BY d.doc_id"""),
    "scored decontamination: per-doc eval-overlap fraction + drop policy " +
      "(broadcast eval grams; the gram total falls out of the same pass)")

  private val qDecontaminateSpan = Q(
    "q_decontaminate_span",
    (s, d) => {
      // SPAN-level decontamination: contaminated token runs are PRUNED
      // and the document kept — the curation-complete form next to
      // q_decontaminate's doc-level flag. Partial contamination is
      // PLANTED (the q_contamination_score pattern): eval docs re-id'd
      // with distinct-token pads on BOTH sides, so exactly the eval text
      // between the pads is contaminated and must be cut while the pads
      // survive — proving span surgery, not doc dropping. The oracle
      // replays the planting and the pruning in SQL.
      def pad(a: Int, b: Int) = array_join(
        transform(sequence(lit(a), lit(b)),
          i => concat(lit("pad"), i.cast("string"))), " ")
      val docs = documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      val planted = evalSet.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 80000).as("doc_id"),
          concat(pad(1, 10), lit(" "), col("text"), lit(" "), pad(11, 20))
            .as("text"))
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        .select("doc_id", "text")
        .unionByName(planted)
      TextAnalysis.decontaminateSpans(corpus, "doc_id", "text",
          evalSet, "text", n = 8)
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
              UNION ALL
              SELECT doc_id + 80000,
                     array_to_string(list_transform(generate_series(1, 10),
                       i -> 'pad' || CAST(i AS VARCHAR)), ' ')
                     || ' ' || text || ' ' ||
                     array_to_string(list_transform(generate_series(11, 20),
                       i -> 'pad' || CAST(i AS VARCHAR)), ' ')
              FROM documents WHERE doc_id % 100 = 0),
            toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
            grams AS (
              SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS g
              FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) s
              WHERE len(w) >= 8),
            eval_g AS (
              SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS g
              FROM (SELECT string_split(text, ' ') AS toks FROM documents
                    WHERE doc_id % 50 = 0),
                   LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s
              WHERE len(toks) >= 8),
            cover AS (
              SELECT DISTINCT doc_id, p
              FROM grams JOIN eval_g USING (g),
                   LATERAL (SELECT unnest(generate_series(pos, pos + 7)) AS p) t),
            stats AS (SELECT doc_id, count(*) AS ct FROM cover GROUP BY doc_id),
            tokpos AS (
              SELECT doc_id, i - 1 AS p, w[i] AS tok
              FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s),
            pruned AS (
              SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.p) AS pruned_text
              FROM tokpos tp ANTI JOIN cover c ON c.doc_id = tp.doc_id AND c.p = tp.p
              GROUP BY tp.doc_id)
            SELECT t.doc_id,
                   CAST(len(t.w) AS BIGINT) AS n_tokens,
                   CAST(coalesce(s.ct, 0) AS BIGINT) AS contaminated_tokens,
                   round(CAST(coalesce(s.ct, 0) AS DOUBLE) / len(t.w), 6)
                     AS contaminated_frac,
                   coalesce(p.pruned_text, '') AS pruned_text
            FROM toks t
            LEFT JOIN stats s USING (doc_id)
            LEFT JOIN pruned p USING (doc_id)
            ORDER BY t.doc_id"""),
    "span-level decontamination: eval-overlapping token runs pruned, " +
      "document kept (broadcast eval grams; coverage explode bounded by " +
      "matched grams)")

  private val qDecontaminateBloom = Q(
    "q_decontaminate_bloom",
    (s, d) => {
      // Bloom-prefiltered EXACT decontamination, declared on the SQL
      // surface so the sketch is a scalar subquery — one lazy plan, no
      // driver-side train job at declaration. The clean branch is a
      // map-only probe (no false negatives → provably clean); only the
      // tiny suspect set pays the exact anti-join that kills the sketch's
      // false positives. Cross-split exact duplicates are PLANTED
      // (re-id'd bench docs) so the drop semantics are actually
      // exercised; the oracle replays the planting.
      graft.GraftSql.registerFunctions(s)
      documents(s, d).createOrReplaceTempView("documents_bloom")
      s.sql("""
        WITH bench AS (SELECT doc_id, text FROM documents_bloom WHERE doc_id % 50 = 0),
             corpus AS (
               SELECT doc_id, text FROM documents_bloom WHERE doc_id % 50 <> 0
               UNION ALL
               SELECT doc_id + 50000 AS doc_id, text FROM bench WHERE doc_id % 150 = 0),
             bf AS (SELECT bloom_filter_agg(xxhash64(text), 4096L, 32768L) AS b FROM bench)
        SELECT doc_id FROM corpus
        WHERE NOT might_contain((SELECT b FROM bf), xxhash64(text))
        UNION ALL
        SELECT c.doc_id FROM corpus c
        WHERE might_contain((SELECT b FROM bf), xxhash64(c.text))
          AND NOT EXISTS (SELECT 1 FROM bench b WHERE b.text = c.text)
        ORDER BY doc_id""")
    },
    Some("""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
                 corpus AS (
                   SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
                   UNION ALL
                   SELECT doc_id + 50000 AS doc_id, text FROM bench WHERE doc_id % 150 = 0)
            SELECT c.doc_id FROM corpus c
            WHERE NOT EXISTS (SELECT 1 FROM bench b WHERE b.text = c.text)
            ORDER BY doc_id"""),
    "bloom-prefiltered exact decontamination: map-only sketch probe on " +
      "the corpus; only suspects (hits + false positives) pay the exact " +
      "anti-join — the corpus-wide shuffle a plain anti-join costs at 100 TB")

  private val qZorder = Q(
    "q_zorder",
    (s, d) =>
      // Z-order layout key: Morton-interleave (p_partkey, p_size) so a
      // zkey range sort clusters BOTH dimensions (multi-column file
      // skipping; see graft.ext.Layout). Key arithmetic is bit-for-bit
      // oracle-checked: the SQL string is generated by the SAME loop that
      // builds the Spark expression.
      Layout.withZorderKey(
          part(s, d).select(col("p_partkey"), col("p_size").cast("long").as("p_size")),
          Seq("p_partkey", "p_size"), bits = 8)
        .orderBy("zkey", "p_partkey"),
    Some(s"""SELECT p_partkey,
                    CAST(p_size AS BIGINT) AS p_size,
                    ${Layout.zorderKeySql(Seq("(p_partkey % 256)", "(p_size % 256)"), 8)} AS zkey
             FROM part ORDER BY zkey, p_partkey"""),
    "Z-order (Morton) clustering key over two columns — the write-layout " +
      "sort key for multi-dimensional min/max file skipping")

  private val qDedupImage = Q(
    "q_dedup_image",
    (s, d) => {
      // perceptual media dedup: payload near-dups are PLANTED (the
      // q_dedup_incremental pattern) as re-id'd copies with ONE in-place
      // byte edit — a perceptual hash must land them within a small
      // Hamming distance of their source (byte-exact dedup is blind to
      // them; embedding-stub cosine is too, by design). Exact-duplicate
      // families pair at Hamming 0 alongside. Model-defined fingerprint →
      // rows-only; the hash kernel + blocking are anchored by seeded
      // MultimodalSpec tests on structured payloads.
      val docs = documents(s, d).select("doc_id", "text")
      val edited = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 90000).as("doc_id"),
          concat(substring(col("text"), 1, 20), lit("X"),
            substring(col("text"), 22, 1000000)).as("text"))
      val media = Multimodal.asMedia(
        docs.unionByName(edited), "doc_id", "text", "image/fake")
      Multimodal.nearDupImages(media, maxHamming = 5)
        .orderBy("id1", "id2")
    },
    None, // model-defined (perceptual hash); kernel + blocking unit-anchored
    "perceptual image dedup: byte-region aHash through the decoder seam, " +
      "pigeonhole Hamming blocking (never all-pairs)")

  private val qDedupImageAnchor = Q(
    "q_dedup_image_anchor",
    (s, d) => {
      // Driver-visible certificate for q_dedup_image (the
      // q_negative_edges_anchor discipline): the aHash VALUES are
      // codec-defined, but the planted-duplicate CONTRACT is
      // oracle-expressible. Per doc, a 16×16 gray PNG (real codec) is
      // built so its aHash equals a splitmix64-mixed target exactly (8×8
      // bright/dark blocks aligned to the aHash grid; bit0/bit63 pinned
      // so the raster is never uniform). Planted copies: a NEAR dup
      // (id+90000, exactly 3 aHash bits flipped) for doc_id % 25 == 0 and
      // an EXACT dup (id+180000, same raster) for doc_id % 40 == 0.
      // Round 15 adds the CROSS-CODEC plant (id+270000, doc_id % 30):
      // the SAME raster re-encoded as LOSSY WebP through Vp8Enc — the
      // image twin of the audio anchor's MP3/Vorbis plants. The VP8
      // quantization noise at qIndex 4 never crosses an aHash threshold
      // on these 0/255 block rasters (swept exhaustively over the
      // planted population: max drift 0), so the webp copy pairs at
      // EXACTLY Hamming 0 with base/exact and 3 with near — byte-level
      // dedup sees nothing (different container, different codec).
      // nearDupImages at maxHamming 5 must then emit exactly the
      // within-family pairs — near at hamming 3 (%25, %200, %150),
      // exact at 0 (%40, %30, %120) — and nothing cross-family (random
      // 64-bit hashes collide within 5 bits with probability ~5e-13 per
      // pair; deterministic besides). Every count below is derivable by
      // DuckDB from `documents` alone.
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .flatMap { id =>
          // the family check (id % 90000) and planted offsets (+90000,
          // +180000) assume real ids stay below the offset — fail LOUDLY
          // on a bigger corpus instead of letting planted ids collide
          // with real docs and the oracle counts silently diverge
          require(id >= 0 && id < 90000,
            s"q_dedup_image_anchor: doc_id $id outside [0, 90000) — raise " +
              "the planted-id offsets for this corpus")
          def png(h: Long) = graft.ext.Png.encode(Plants.gridRaster(h))
          def webpLossy(h: Long) = graft.ext.Vp8Enc.encode(Plants.gridRaster(h), 4, 0)
          val base = (MinHashAggregator.splitmix64(id) | 1L) & ~(1L << 63)
          val near = base ^ 0xEL // flip bits 1,2,3 → aHash hamming exactly 3
          Seq((id, png(base))) ++
            (if (id % 25 == 0) Seq((id + 90000L, png(near))) else Nil) ++
            (if (id % 40 == 0) Seq((id + 180000L, png(base))) else Nil) ++
            (if (id % 30 == 0) Seq((id + 270000L, webpLossy(base))) else Nil)
        }
        .toDF("media_id", "payload")
      Plants.pairSummary(Multimodal.nearDupImages(media, maxHamming = 5),
        "n_cross_family" -> Plants.crossFamily,
        "n_near_pairs" -> Plants.countIf(col("hamming") === 3),
        "n_exact_pairs" -> Plants.countIf(col("hamming") === 0),
        "n_bad_hamming" -> Plants.countIf(col("hamming") =!= 0 && col("hamming") =!= 3))
    },
    Some("""SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 25 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 40 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 200 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 30 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 150 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 120 = 0)
                     AS BIGINT) AS n_pairs,
                   CAST(0 AS BIGINT) AS n_cross_family,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 25 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 200 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 150 = 0)
                     AS BIGINT) AS n_near_pairs,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 40 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 30 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 120 = 0)
                     AS BIGINT) AS n_exact_pairs,
                   CAST(0 AS BIGINT) AS n_bad_hamming"""),
    "image-dedup contract anchor: planted near/exact PNG duplicates AND a " +
      "cross-codec lossy-WebP re-encode of the same raster — every " +
      "planted pair found at its exact Hamming distance through the real " +
      "PNG and VP8 decoders, zero cross-family pairs, all counts " +
      "oracle-derived from documents alone")

  private val qVideoThumbAnchor = Q(
    "q_video_thumb_anchor",
    (s, d) => {
      // Driver-visible certificate for the WebM → raster bridge: a
      // VIDEO file joins the IMAGE dedup cell through its first-keyframe
      // thumbnail (Webm.decodeFirstFrame → Vp8 → aHash, chained inside
      // Png.decodeAny on the EBML magic). Per doc, the q_dedup_image_
      // anchor 16×16 gray raster whose aHash equals a splitmix64-mixed
      // target exactly; for doc_id % 20 == 0 a planted VIDEO twin
      // (id+90000): the raster VP8-encoded at qIndex 4 (drift 0 on
      // these 0/255 block rasters — the r15 exhaustive sweep) and
      // wrapped as a one-keyframe WebM (EBML header + Segment{Info,
      // Tracks[V_VP8], Cluster/SimpleBlock}). nearDupImages must pair
      // each video with its still at EXACTLY Hamming 0 — byte dedup
      // sees nothing (different container AND codec family), a
      // thumbnail-less pipeline sees nothing at all — and emit no
      // cross-family pairs. Every count is DuckDB-derivable from
      // `documents` alone.
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .flatMap { id =>
          require(id >= 0 && id < 90000,
            s"q_video_thumb_anchor: doc_id $id outside [0, 90000) — raise " +
              "the planted-id offset for this corpus")
          val base = (MinHashAggregator.splitmix64(id ^ 0x7EBAC0DEL) | 1L) & ~(1L << 63)
          val img = Plants.gridRaster(base)
          Seq((id, graft.ext.Png.encode(img))) ++
            (if (id % 20 == 0)
              Seq((id + 90000L,
                graft.ext.Webm.wrapWebpLossy(graft.ext.Vp8Enc.encode(img, 4, 0))
                  .getOrElse(sys.error(
                    s"q_video_thumb_anchor: WebM plant failed for doc $id"))))
            else Nil)
        }
        .toDF("media_id", "payload")
      Plants.pairSummary(Multimodal.nearDupImages(media, maxHamming = 5),
        "n_cross_family" -> Plants.crossFamily,
        "n_h0_pairs" -> Plants.countIf(col("hamming") === 0),
        "n_bad_hamming" -> Plants.countIf(col("hamming") =!= 0))
    },
    Some("""SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 20 = 0)
                     AS BIGINT) AS n_pairs,
                   CAST(0 AS BIGINT) AS n_cross_family,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 20 = 0)
                     AS BIGINT) AS n_h0_pairs,
                   CAST(0 AS BIGINT) AS n_bad_hamming"""),
    "video-thumbnail dedup anchor: planted WebM (V_VP8 keyframe) twins " +
      "of still PNGs pair at exactly Hamming 0 through the real EBML " +
      "walk + VP8 decoder — cross-CONTAINER, cross-CODEC membership of " +
      "video in the image dedup cell, counts oracle-derived from " +
      "documents alone")

  private val qDedupImageRotAnchor = Q(
    "q_dedup_image_rot_anchor",
    (s, d) => {
      // Orientation-canonical image dedup anchor: plain aHash misses
      // 90°-rotated and mirrored copies ENTIRELY (the 8×8 grid moves
      // with the raster); the canonical hash (unsigned-min over the D4
      // group — 4 rotations × mirror) pairs them at Hamming 0 by
      // construction — same orbit on both sides. Per doc a 16×16 gray
      // PNG from a splitmix-mixed raster; planted ROTATED copy
      // (id+90000, %25), byte-identical copy (id+180000, %40), and
      // MIRRORED copy (id+270000, %30). nearDupImages(rotInvariant) at
      // maxHamming 0 must emit exactly the within-family pair closure
      // (C(m,2) per doc), all at Hamming 0, nothing cross-family.
      // PngSpec asserts the negative control (plain aHash far apart).
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .flatMap { id =>
          require(id >= 0 && id < 90000,
            s"q_dedup_image_rot_anchor: doc_id $id outside [0, 90000)")
          val px = new Array[Byte](16 * 16)
          var k = 0
          while (k < 256) {
            px(k) = ((MinHashAggregator.splitmix64(id * 256L + k) >>> 56) & 0xFF).toByte
            k += 1
          }
          val base = graft.ext.Png.Image(16, 16, 1, px)
          Seq((id, graft.ext.Png.encode(base))) ++
            (if (id % 25 == 0)
              Seq((id + 90000L,
                graft.ext.Png.encode(graft.ext.Png.rotate90(base))))
             else Nil) ++
            (if (id % 40 == 0)
              Seq((id + 180000L, graft.ext.Png.encode(base)))
             else Nil) ++
            (if (id % 30 == 0) // MIRRORED copy — the D4 reflection arm
              Seq((id + 270000L,
                graft.ext.Png.encode(graft.ext.Png.flipH(base))))
             else Nil)
        }
        .toDF("media_id", "payload")
      Plants.pairSummary(
        Multimodal.nearDupImages(media, maxHamming = 0, rotInvariant = true),
        "n_cross_family" -> Plants.crossFamily,
        "n_nonzero" -> Plants.countIf(col("hamming") =!= 0))
    },
    Some("""SELECT CAST((SELECT sum(m * (m - 1) / 2) FROM (
                      SELECT 1 + CASE WHEN doc_id % 25 = 0 THEN 1 ELSE 0 END
                               + CASE WHEN doc_id % 40 = 0 THEN 1 ELSE 0 END
                               + CASE WHEN doc_id % 30 = 0 THEN 1 ELSE 0 END
                             AS m
                      FROM documents) t)
                     AS BIGINT) AS n_pairs,
                   CAST(0 AS BIGINT) AS n_cross_family,
                   CAST(0 AS BIGINT) AS n_nonzero"""),
    "orientation-canonical image dedup anchor: 90°-rotated AND mirrored " +
      "copies — invisible to plain aHash — pair at exactly Hamming 0 " +
      "through the D4 unsigned-min hash, zero cross-family pairs, " +
      "counts oracle-derived from documents alone")

  private val qDedupImageOrientAnchor = Q(
    "q_dedup_image_orient_anchor",
    (s, d) => {
      // ROTATION + NOISE image dedup anchor (round-14): the canonical
      // min-of-8 hash pairs exact rotations at Hamming 0 but is unstable
      // once the rotated copy also carries pixel noise (the unsigned min
      // can land on different orientations on the two sides). The
      // oriented pairing (min PAIRWISE Hamming over the full D4 orbits,
      // Multimodal.nearDupImagesOriented) is noise-stable. Per doc a
      // 16x16 gray PNG whose aHash is a splitmix-mixed target exactly
      // (grid-aligned blocks); plants:
      //   +90000 (%25): 90-degree ROTATED copy with exactly 3 cells
      //     flipped (base-frame column 1, rows 4-6) -> orbit distance 3;
      //   +180000 (%40): 180-degree rotated EXACT copy -> distance 0;
      //   +270000 (%30): MIRRORED copy with exactly 2 cells flipped
      //     (base-frame row 7, cols 1-2) -> orbit distance 2.
      // The flip sets are disjoint in the base frame, so co-planted
      // copies pair at the SUM of their distances (rot-mir 5, rot-r180
      // 3, mir-r180 2) — every pair count and the hamming SUM are
      // DuckDB-derivable from `documents` alone. Alternative-orientation
      // accidental matches sit ~32 bits away (random), far above the
      // maxHamming 5 budget.
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .flatMap { id =>
          require(id >= 0 && id < 90000,
            s"q_dedup_image_orient_anchor: doc_id $id outside [0, 90000)")
          // flip one aHash grid cell (2x2 pixel block) in place
          def flipCell(img: graft.ext.Png.Image, r: Int, c: Int): Unit = {
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) {
                val p = (r * 2 + dy) * 16 + (c * 2 + dx)
                img.pixels(p) = (~img.pixels(p)).toByte
                dx += 1
              }
              dy += 1
            }
          }
          val base = (MinHashAggregator.splitmix64(id) | 1L) & ~(1L << 63)
          val baseImg = Plants.gridRaster(base)
          val out = scala.collection.mutable.ArrayBuffer(
            (id, graft.ext.Png.encode(baseImg)))
          if (id % 25 == 0) {
            val rot = graft.ext.Png.rotate90(Plants.gridRaster(base))
            // base-frame cells (4,1),(5,1),(6,1) land at rotated-frame
            // (1,3),(1,2),(1,1) under the 90-degree rotation — flip them
            // there so the orbit distance is exactly 3
            flipCell(rot, 1, 1); flipCell(rot, 1, 2); flipCell(rot, 1, 3)
            out += ((id + 90000L, graft.ext.Png.encode(rot)))
          }
          if (id % 40 == 0) {
            val r180 = graft.ext.Png.rotate90(
              graft.ext.Png.rotate90(Plants.gridRaster(base)))
            out += ((id + 180000L, graft.ext.Png.encode(r180)))
          }
          if (id % 30 == 0) {
            val mir = graft.ext.Png.flipH(Plants.gridRaster(base))
            // base-frame cells (7,1),(7,2) mirror to (7,6),(7,5)
            flipCell(mir, 7, 5); flipCell(mir, 7, 6)
            out += ((id + 270000L, graft.ext.Png.encode(mir)))
          }
          out.toSeq
        }
        .toDF("media_id", "payload")
      // nBlocks 7: the orbit fan-out banding 8 hashes per image would
      // quadratically inflate the default 6-block (~11-bit) buckets with
      // random collisions (measured 6.5 s at sf0.1); C(7,2)=21 2-block
      // subsets make ~18-bit compound keys — buckets stay sparse at a
      // 2.7x smaller band table than 8 blocks' 56 subsets — and the
      // pigeonhole guarantee holds at maxHamming 5
      Plants.pairSummary(
        Multimodal.nearDupImagesOriented(media, maxHamming = 5, nBlocks = 7),
        "n_cross_family" -> Plants.crossFamily,
        "hamming_sum" -> sum(col("hamming").cast("long")),
        "n_h0" -> Plants.countIf(col("hamming") === 0),
        "n_h5" -> Plants.countIf(col("hamming") === 5))
    },
    Some("""SELECT CAST((SELECT sum(m * (m - 1) / 2) FROM (
                      SELECT 1 + CASE WHEN doc_id % 25 = 0 THEN 1 ELSE 0 END
                               + CASE WHEN doc_id % 40 = 0 THEN 1 ELSE 0 END
                               + CASE WHEN doc_id % 30 = 0 THEN 1 ELSE 0 END
                             AS m
                      FROM documents) t)
                     AS BIGINT) AS n_pairs,
                   CAST(0 AS BIGINT) AS n_cross_family,
                   CAST(3 * (SELECT count(*) FROM documents WHERE doc_id % 25 = 0)
                      + 2 * (SELECT count(*) FROM documents WHERE doc_id % 30 = 0)
                      + 5 * (SELECT count(*) FROM documents WHERE doc_id % 150 = 0)
                      + 3 * (SELECT count(*) FROM documents WHERE doc_id % 200 = 0)
                      + 2 * (SELECT count(*) FROM documents WHERE doc_id % 120 = 0)
                     AS BIGINT) AS hamming_sum,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 40 = 0)
                     AS BIGINT) AS n_h0,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 150 = 0)
                     AS BIGINT) AS n_h5"""),
    "rotation+noise image dedup anchor: rotated/mirrored copies WITH " +
      "flipped cells pair at their exact constructed orbit distances " +
      "through min-pairwise-D4 pairing (the canonical-min hash is not " +
      "noise-stable), zero cross-family, counts and the Hamming sum " +
      "oracle-derived from documents alone")

  private val qDedupAudio = Q(
    "q_dedup_audio",
    (s, d) => {
      // perceptual AUDIO dedup (the q_dedup_image shape, WAV/FLAC arms):
      // per doc a real 16-bit WAV; planted near-dups (id+90000) are the
      // SAME capture re-gained to 3/4 amplitude with small additive
      // noise — byte-exact dedup is blind to them, the band-energy-sign
      // fingerprint is gain-invariant so they land within a small
      // Hamming distance; planted FLAC re-encodes (id+180000) of the
      // identical capture pair at Hamming 0 ACROSS codecs (lossless →
      // identical decode → identical fingerprint). Model-defined
      // fingerprint → rows-only; the exact-distance contract is the
      // anchor's (q_dedup_audio_anchor).
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .flatMap { id =>
          val base = graft.ext.AudioFp.synthSamples(MinHashAggregator.splitmix64(id))
          val regained = Array.tabulate(base.length) { i =>
            base(i) * 3 / 4 + ((id * 31 + i * 17) % 7).toInt - 3
          }
          Seq((id, graft.ext.AudioFp.wavPcm16(base))) ++
            (if (id % 25 == 0)
              Seq((id + 90000L, graft.ext.AudioFp.wavPcm16(regained)))
             else Nil) ++
            (if (id % 40 == 0)
              Seq((id + 180000L, graft.ext.Flac.encode(
                Array(base), 8000, 16, 256, graft.ext.Flac.Verbatim)))
             else Nil) ++
            // MP3 re-encode of the same capture (lossy cross-codec arm;
            // residue 7 mod 25 is provably disjoint from the near/flac
            // plants, see the anchor) — decodes through the real Layer
            // III pipeline and pairs within the Hamming budget
            (if (id % 25 == 7)
              Seq((id + 270000L, graft.ext.Mp3Enc.encode(base)))
             else Nil) ++
            // Ogg/Vorbis re-encode (residue 13 mod 25, same disjointness)
            (if (id % 25 == 13)
              Seq((id + 360000L, graft.ext.VorbisEnc.encode(base)))
             else Nil)
        }
        .toDF("media_id", "payload")
      Multimodal.nearDupAudio(media, maxHamming = 5)
        .orderBy("id1", "id2")
    },
    None, // model-defined (perceptual fingerprint); contract anchored below
    "perceptual audio dedup: band-energy-sign fingerprint over the real " +
      "WAV/FLAC/MP3/Vorbis decode, pigeonhole Hamming blocking (never " +
      "all-pairs); gain-shifted and cross-codec copies pair, byte-dedup " +
      "sees nothing")

  private val qDedupAudioAnchor = Q(
    "q_dedup_audio_anchor",
    (s, d) => {
      // Driver-visible certificate for q_dedup_audio (the
      // q_dedup_image_anchor discipline): fingerprint VALUES are
      // model-defined, but the planted-duplicate contract is
      // oracle-expressible because AudioFp.synthSamples is the exact
      // fingerprint inverse — per doc, real audio is synthesized so its
      // band-energy fingerprint EQUALS a splitmix64-mixed target.
      // Planted copies: a NEAR dup (id+90000, target ^ 0xE — exactly 3
      // fingerprint bits) for doc_id % 25 == 0, and an EXACT dup
      // (id+180000) that is the SAME samples re-encoded as FLAC — the
      // cross-codec pair MUST land at Hamming 0 (lossless decode ≡
      // identical fingerprint). nearDupAudio at maxHamming 5 must emit
      // exactly the within-family pairs — near at hamming 3, exact at 0,
      // the near↔exact pair at 3 when both exist (% 200) — and nothing
      // cross-family (random 64-bit targets collide within 5 bits with
      // probability ~5e-13 per pair). All counts DuckDB-derivable from
      // `documents` alone.
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .flatMap { id =>
          require(id >= 0 && id < 90000,
            s"q_dedup_audio_anchor: doc_id $id outside [0, 90000) — raise " +
              "the planted-id offsets for this corpus")
          val base = MinHashAggregator.splitmix64(id)
          val near = base ^ 0xEL // flip bits 1,2,3 → fingerprint hamming 3
          val baseSamples = graft.ext.AudioFp.synthSamples(base)
          Seq((id, graft.ext.AudioFp.wavPcm16(baseSamples))) ++
            (if (id % 25 == 0)
              Seq((id + 90000L, graft.ext.AudioFp.wavPcm16(
                graft.ext.AudioFp.synthSamples(near))))
             else Nil) ++
            (if (id % 40 == 0)
              Seq((id + 180000L, graft.ext.Flac.encode(
                Array(baseSamples), 8000, 16, 256, graft.ext.Flac.Verbatim)))
             else Nil) ++
            // MP3 re-encode of the SAME capture (round-14 lossy-audio
            // arm): decodes through the real Layer III pipeline; lossy,
            // so the pair lands within the Hamming budget (measured
            // drift <= 3 over the synthSamples family, Mp3Spec) rather
            // than exactly. Residue 7 mod 25 cannot coincide with the
            // near plant (0 mod 25) and has no solution against the
            // flac plant (0 mod 40 needs id ≡ 0 (mod 40) with
            // id ≡ 7 (mod 25): gcd(15,25)=5 does not divide 7), so
            // every MP3-planted id contributes EXACTLY one pair and the
            // count is oracle-derivable.
            (if (id % 25 == 7)
              Seq((id + 270000L, graft.ext.Mp3Enc.encode(baseSamples)))
             else Nil) ++
            // Ogg/Vorbis re-encode of the SAME capture: the second lossy
            // arm, decoded through the real floor1/residue/MDCT pipeline.
            // Residue 13 mod 25 is disjoint from near (0 mod 25) and mp3
            // (7 mod 25), and 0 mod 40 with 13 mod 25 has no solution
            // (gcd(15,25)=5 does not divide 13) — exactly one pair per
            // planted id.
            (if (id % 25 == 13)
              Seq((id + 360000L, graft.ext.VorbisEnc.encode(baseSamples)))
             else Nil)
        }
        .toDF("media_id", "payload")
      Plants.pairSummary(Multimodal.nearDupAudio(media, maxHamming = 5),
        "n_cross_family" -> Plants.crossFamily,
        "n_near_pairs" -> Plants.countIf(col("hamming") === 3 && col("id2") < 270000L),
        "n_exact_pairs" -> Plants.countIf(col("hamming") === 0 && col("id2") < 270000L),
        "n_mp3_pairs" -> Plants.countIf(col("id2") >= 270000L && col("id2") < 360000L),
        "n_vorbis_pairs" -> Plants.countIf(col("id2") >= 360000L),
        "n_bad_hamming" -> Plants.countIf(col("hamming") =!= 0 && col("hamming") =!= 3 &&
          col("id2") < 270000L))
    },
    Some("""SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 25 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 40 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 200 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 25 = 7)
                      + (SELECT count(*) FROM documents WHERE doc_id % 25 = 13)
                     AS BIGINT) AS n_pairs,
                   CAST(0 AS BIGINT) AS n_cross_family,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 25 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 200 = 0)
                     AS BIGINT) AS n_near_pairs,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 40 = 0)
                     AS BIGINT) AS n_exact_pairs,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 25 = 7)
                     AS BIGINT) AS n_mp3_pairs,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 25 = 13)
                     AS BIGINT) AS n_vorbis_pairs,
                   CAST(0 AS BIGINT) AS n_bad_hamming"""),
    "audio-dedup contract anchor: planted WAV near-dups at constructed " +
      "fingerprint distances, FLAC re-encodes at Hamming 0, and MP3 and " +
      "Ogg/Vorbis re-encodes through the real lossy decode pipelines " +
      "within the Hamming budget — every planted pair found, zero " +
      "cross-family pairs, counts oracle-derived from documents alone")

  private val qDedupAudioOffsetAnchor = Q(
    "q_dedup_audio_offset_anchor",
    (s, d) => {
      // TIME-OFFSET contract certificate (round-15 ask #5): the plain
      // fingerprint frames from sample 0 and is alignment-sensitive BY
      // DESIGN (Mp3Spec pins a shifted copy landing outside the budget);
      // the onset-anchored variant must make leading-silence shifts of
      // ARBITRARY length (37..1036 samples here, cycling per doc — not
      // frame multiples) fingerprint IDENTICALLY: the onset detector
      // re-anchors the 9-frame window on the first energetic sample, so
      // the frames cover the same capture. Exact-count oracle: every
      // doc's original WAV must onset-fingerprint to its target AND its
      // silence-shifted copy must match exactly (Hamming 0).
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val target = MinHashAggregator.splitmix64(id * 17 + 9)
          val samples = graft.ext.AudioFp.synthSamples(target)
          val shift = 37 + (id % 1000).toInt
          val shifted = new Array[Int](shift + samples.length)
          System.arraycopy(samples, 0, shifted, shift, samples.length)
          val wavA = graft.ext.AudioFp.wavPcm16(samples)
          val wavB = graft.ext.AudioFp.wavPcm16(shifted)
          val fpA = graft.ext.AudioFp.fingerprintOnset(wavA)
          val fpB = graft.ext.AudioFp.fingerprintOnset(wavB)
          (id,
            if (fpA.contains(target)) 1L else 0L,
            if (fpB.contains(target) && fpA == fpB) 1L else 0L,
            shift.toLong)
        }
        .toDF("media_id", "orig_exact", "shift_exact", "shift")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("orig_exact")).as("n_orig_exact"),
          sum(col("shift_exact")).as("n_shift_exact"),
          sum(col("shift")).as("sum_shift"))
        .select(col("n_docs"), col("n_orig_exact"), col("n_shift_exact"),
          col("sum_shift"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_orig_exact,
                   CAST(count(*) AS BIGINT) AS n_shift_exact,
                   CAST(sum(37 + doc_id % 1000) AS BIGINT) AS sum_shift
            FROM documents"""),
    "audio fingerprint time-offset contract: onset-anchored framing makes " +
      "arbitrary leading-silence shifts fingerprint identically (Hamming " +
      "0, exact counts oracle-derived); the plain fingerprint's " +
      "alignment sensitivity is the documented complement")

  private val qDedupAudioIncremental = Q(
    "q_dedup_audio_incremental",
    (s, d) => {
      // The write-once Hamming index serving the AUDIO modality (the
      // q_hamming_index shape on band-energy fingerprints): the corpus'
      // WAVs are fingerprinted through the REAL decode pipeline and
      // materialized as the bucketed block-subset index; a later batch —
      // planted near dups (exactly 3 fingerprint bits), cross-codec FLAC
      // exact dups, and FAR decoys with unrelated targets — probes the
      // RELOADED index. Only the batch is banded; the index side joins
      // exchange-free. Every expected pair lands at its constructed
      // distance, decoys match nothing, counts DuckDB-derivable.
      import s.implicits._
      val corpusMedia = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map(id => (id, graft.ext.AudioFp.wavPcm16(
          graft.ext.AudioFp.synthSamples(MinHashAggregator.splitmix64(id)))))
        .toDF("media_id", "payload")
      val corpusFps = Multimodal.audioFingerprints(corpusMedia).toDF()
        .select("media_id", "phash")
      val prefix = s"graft_audiohamidx_${Tables.corpusTag(d)}"
      Dedup.writeHammingIndex(corpusFps, "media_id", "phash", prefix,
        maxHamming = 3, nBlocks = 6, numBuckets = 4,
        basePath = Some(s"/tmp/$prefix"))
      val batchMedia = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .flatMap { id =>
          require(id >= 0 && id < 90000,
            s"q_dedup_audio_incremental: doc_id $id outside [0, 90000)")
          val base = MinHashAggregator.splitmix64(id)
          (if (id % 25 == 0)
            Seq((id + 90000L, graft.ext.AudioFp.wavPcm16(
              graft.ext.AudioFp.synthSamples(base ^ 0xEL))))
           else Nil) ++
          (if (id % 40 == 0)
            Seq((id + 180000L, graft.ext.Flac.encode(
              Array(graft.ext.AudioFp.synthSamples(base)), 8000, 16, 256,
              graft.ext.Flac.Verbatim)))
           else Nil) ++
          (if (id % 30 == 0)
            Seq((id + 270000L, graft.ext.AudioFp.wavPcm16(
              graft.ext.AudioFp.synthSamples(MinHashAggregator.splitmix64(id * 31 + 12345L)))))
           else Nil)
        }
        .toDF("media_id", "payload")
      val batchFps = Multimodal.audioFingerprints(batchMedia).toDF()
        .select("media_id", "phash")
      Plants.pairSummary(
        Dedup.hammingAgainstIndex(s, prefix, batchFps, "media_id", "phash"),
        "n_near" -> Plants.countIf(col("hamming") === 3),
        "n_exact" -> Plants.countIf(col("hamming") === 0),
        "n_cross_family" -> Plants.countIf(col("batch_id") % 90000 =!= col("corpus_id")),
        "n_decoy_hits" -> Plants.countIf(col("batch_id") >= 270000L))
    },
    Some("""SELECT CAST((SELECT count(*) FROM documents WHERE doc_id % 25 = 0)
                      + (SELECT count(*) FROM documents WHERE doc_id % 40 = 0)
                     AS BIGINT) AS n_pairs,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 25 = 0)
                     AS BIGINT) AS n_near,
                   CAST((SELECT count(*) FROM documents WHERE doc_id % 40 = 0)
                     AS BIGINT) AS n_exact,
                   CAST(0 AS BIGINT) AS n_cross_family,
                   CAST(0 AS BIGINT) AS n_decoy_hits"""),
    "incremental audio dedup: band-energy fingerprints through the real " +
      "WAV/FLAC decode probed against the materialized bucketed Hamming " +
      "index — near pairs at exactly 3 bits, cross-codec exact pairs at " +
      "0, decoys silent, index side exchange-free")

  private val qMultimodal = Q(
    "q_multimodal",
    (s, d) => {
      // MIXED corpus so both decode arms run in the driver gate: even
      // doc_ids carry a real PNG payload (deterministic 16×16 gray
      // raster → the pure-JVM codec path: true dims + pixel checksum),
      // odd ids carry raw text bytes (the documented stub fallback).
      import s.implicits._
      val media = documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val payload =
            if (id % 2 == 0) {
              val px = Array.tabulate(16 * 16)(i => ((id * 13 + i * 3) % 256).toByte)
              graft.ext.Png.encode(graft.ext.Png.Image(16, 16, 1, px))
            } else text.getBytes("UTF-8")
          (id, payload, if (id % 2 == 0) "image/png" else "application/octet-stream")
        }
        .toDF("media_id", "payload", "media_type")
        .withColumn("byte_len", length(col("payload")).cast("long"))
      Multimodal.decodeImages(media).toDF().orderBy("media_id")
    },
    None, // checksum column is codec-defined; the real arm is
    // hash-certified by q_png_roundtrip, the stub arm by MultimodalSpec
    "binary media columns + mapPartitions decode stage (real PNG pixel " +
      "codec for decodable payloads, deterministic stub fallback)")

  private val qMultimodalAudio = Q(
    "q_multimodal_audio",
    (s, d) => {
      val media = Multimodal.asMedia(documents(s, d), "doc_id", "text", "audio/fake")
      Multimodal.decodeAudio(media).toDF().orderBy("media_id")
    },
    None, // synthetic payloads take the stub path; WAV parsing unit-tested
    "audio metadata decode stage (real WAV header parse; stub fallback)")

  private val qPngRoundtrip = Q(
    "q_png_roundtrip",
    (s, d) => {
      // REAL codec, driver-checked: per doc, a 12×9 RGB raster whose flat
      // sample i is (id·31 + i·7) mod 256 is ENCODED to PNG and DECODED
      // back by the pure-JVM codec (ext/Png.scala — zlib + CRC via
      // java.util.zip, nothing external); the emitted dims/channel count/
      // pixel sum must hash-match DuckDB computing the same arithmetic
      // directly. Any dropped/shifted/mis-filtered byte anywhere in the
      // encode→deflate→inflate→unfilter chain breaks the row.
      import s.implicits._
      val (w, h, ch) = (12, 9, 3)
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val px = Array.tabulate(w * h * ch)(i =>
            ((id * 31 + i.toLong * 7) % 256).toByte)
          val bytes = graft.ext.Png.encode(graft.ext.Png.Image(w, h, ch, px))
          val img = graft.ext.Png.decode(bytes).getOrElse(
            throw new IllegalStateException(s"roundtrip decode failed for $id"))
          var sum = 0L
          img.pixels.foreach(b => sum += (b & 0xFF))
          (id, img.width, img.height, img.channels, sum)
        }
        .toDF("media_id", "width", "height", "n_channels", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 12 AS width, 9 AS height,
                   3 AS n_channels,
                   CAST(sum((doc_id * 31 + i * 7) % 256) AS BIGINT) AS pixel_sum
            FROM documents CROSS JOIN generate_series(0, 323) AS t(i)
            GROUP BY doc_id ORDER BY media_id"""),
    "PNG codec roundtrip certificate: encode→decode through the pure-JVM " +
      "codec reproduces deterministic pixels, hash-checked against the " +
      "oracle's direct arithmetic")

  private val qMp3Roundtrip = Q(
    "q_mp3_roundtrip",
    (s, d) => {
      // REAL MPEG-1 Layer III codec, driver-checked (the round-14
      // lossy-audio arm): per doc a 2304-sample capture (the exact
      // fingerprint inverse) is encoded by Mp3Enc and decoded back by
      // ext/Mp3.scala — full side info, scalefactors, Huffman (validated
      // table 10 + sign bits), requantize, IMDCT and polyphase
      // synthesis. Lossy, so the contract is the BOUNDED-drift form:
      // the decoded fingerprint must land within the Hamming budget of
      // the source fingerprint for EVERY doc. Budget 8 = the measured
      // max (6, exhaustive sweep of this target family over 5000 ids)
      // plus margin — unlike the PAIRING anchors there is no
      // cross-family collision constraint here, so the certificate
      // budget tracks fidelity, not blocking safety. Stream must
      // triage as
      // MPEG-1 Layer III, and the frame count is structural
      // (2304 samples -> ceil(2304/1152) + 2 flush = 4 frames/doc).
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val target = MinHashAggregator.splitmix64(id * 7 + 3)
          val samples = graft.ext.AudioFp.synthSamples(target)
          val mp3 = graft.ext.Mp3Enc.encode(samples)
          val meta = graft.ext.Mpeg.mp3Meta(mp3)
          val fp = graft.ext.AudioFp.fingerprint(mp3)
          val ok = fp.exists(f => java.lang.Long.bitCount(f ^ target) <= 8)
          (id, if (ok) 1L else 0L,
            if (meta.exists(m => m.version == "1" && m.layer == 3)) 1L else 0L,
            meta.map(_.n_frames).getOrElse(0L))
        }
        .toDF("media_id", "ok", "triaged", "frames")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ok")).as("n_within_budget"),
          sum(col("triaged")).as("n_triaged"),
          sum(col("frames")).as("sum_frames"))
        .select(col("n_docs"), col("n_within_budget"), col("n_triaged"),
          col("sum_frames"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_within_budget,
                   CAST(count(*) AS BIGINT) AS n_triaged,
                   CAST(4 * count(*) AS BIGINT) AS sum_frames
            FROM documents"""),
    "MP3 codec certificate: per doc a real Layer III encode+decode " +
      "roundtrip — every decoded fingerprint within the lossy Hamming " +
      "budget, every stream triaging as MPEG-1 Layer III with the " +
      "structural frame count, all counts oracle-derived")

  private val qVorbisRoundtrip = Q(
    "q_vorbis_roundtrip",
    (s, d) => {
      // REAL Ogg/Vorbis codec, driver-checked (the second round-14
      // lossy-audio arm): per doc the same capture through VorbisEnc ->
      // ext/Vorbis.scala (setup-header codebooks, envelope floor1 with
      // predict/room Y coding, residue type 2, IMDCT + lapping).
      // Bounded-drift contract: budget 8 = the measured max (5,
      // exhaustive sweep of this target family over 5000 ids) plus
      // margin (fidelity certificate, no collision constraint). Plus
      // the structural page count: 2304/128 + 3 lead/flush = 21 audio
      // packets, one per CRC-stamped page, after 3 header pages = 24
      // pages per doc.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val target = MinHashAggregator.splitmix64(id * 11 + 5)
          val samples = graft.ext.AudioFp.synthSamples(target)
          val ogg = graft.ext.VorbisEnc.encode(samples)
          val meta = graft.ext.Ogg.meta(ogg)
          val fp = graft.ext.AudioFp.fingerprint(ogg)
          val ok = fp.exists(f => java.lang.Long.bitCount(f ^ target) <= 8)
          (id, if (ok) 1L else 0L,
            if (meta.exists(m => m.codec == "vorbis" && m.channels == 1 &&
              m.sample_rate == 44100)) 1L else 0L,
            meta.map(_.n_pages).getOrElse(0L))
        }
        .toDF("media_id", "ok", "triaged", "pages")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ok")).as("n_within_budget"),
          sum(col("triaged")).as("n_triaged"),
          sum(col("pages")).as("sum_pages"))
        .select(col("n_docs"), col("n_within_budget"), col("n_triaged"),
          col("sum_pages"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_within_budget,
                   CAST(count(*) AS BIGINT) AS n_triaged,
                   CAST(24 * count(*) AS BIGINT) AS sum_pages
            FROM documents"""),
    "Ogg/Vorbis codec certificate: per doc a real encode+decode " +
      "roundtrip through the self-describing setup-header pipeline — " +
      "every decoded fingerprint within the lossy Hamming budget, every " +
      "stream triaging as mono 44.1 kHz Vorbis with the structural page " +
      "count, all counts oracle-derived")

  private val qWebpRoundtrip = Q(
    "q_webp_roundtrip",
    (s, d) => {
      // REAL VP8L (WebP lossless) codec, driver-checked — closes the r12
      // "metadata-only WebP" envelope cut: per doc a 20×12 ARGB raster
      // with pixel i's RGB = (id·2654435761 + i·40503) mod 2^24 is
      // encoded to a full RIFF/WEBP VP8L stream and decoded back by
      // ext/Vp8l.scala. The encoder arm rotates by doc_id so every
      // decoder stage is driver-exercised: plain literals,
      // subtract-green, cross-color, predictor, color cache, and the
      // stacked+meta form. The decoded RGB sum must hash-match DuckDB
      // computing the same arithmetic directly — lossless means ANY
      // mismatch anywhere in prefix codes, transforms, or cache replay
      // breaks the row.
      import s.implicits._
      val (w, h) = (20, 12)
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val px = Array.tabulate(w * h)(i =>
            0xFF000000 | ((id * 2654435761L + i.toLong * 40503L) % 16777216L).toInt)
          val opts = (id % 6).toInt match {
            case 0 => graft.ext.Vp8l.EncOpts()
            case 1 => graft.ext.Vp8l.EncOpts(subtractGreen = true)
            case 2 => graft.ext.Vp8l.EncOpts(colorTransform = true)
            case 3 => graft.ext.Vp8l.EncOpts(predictorT = true)
            case 4 => graft.ext.Vp8l.EncOpts(cacheBits = 6)
            case _ => graft.ext.Vp8l.EncOpts(subtractGreen = true,
              colorTransform = true, predictorT = true, cacheBits = 5,
              metaTrivial = true)
          }
          val bytes = graft.ext.Vp8l.encode(
            graft.ext.Vp8l.Image(w, h, px), opts)
          val img = graft.ext.Vp8l.decode(bytes).getOrElse(
            throw new IllegalStateException(s"vp8l roundtrip failed for $id"))
          var rgbSum = 0L
          img.argb.foreach(p => rgbSum += (p & 0xFFFFFF))
          (id, img.width, img.height, rgbSum, id % 6)
        }
        .toDF("media_id", "width", "height", "rgb_sum", "arm")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 20 AS width, 12 AS height,
                   CAST(sum((doc_id * 2654435761 + i * 40503) % 16777216)
                     AS BIGINT) AS rgb_sum,
                   doc_id % 6 AS arm
            FROM documents CROSS JOIN generate_series(0, 239) AS t(i)
            GROUP BY doc_id ORDER BY media_id"""),
    "VP8L (WebP lossless) codec roundtrip certificate: six rotating " +
      "encoder arms (literals, subtract-green, cross-color, predictor, " +
      "color cache, stacked+meta) through the pure-JVM decoder, pixel " +
      "sums hash-checked against the oracle's direct arithmetic")

  private val qWebpLossyRoundtrip = Q(
    "q_webp_lossy_roundtrip",
    (s, d) => {
      // REAL lossy VP8 codec, driver-checked — closes the LAST
      // metadata-only raster family (round-14 verdict missing #2): per
      // doc a deterministic RGB raster (dims rotating 24/32/40 x 16..32)
      // is encoded by Vp8Enc (quantizer index rotating 4..12, and every
      // id%4!=0 arm mixing B_PRED macroblocks over all ten sub-modes,
      // two token partitions) and decoded back by ext/Vp8.scala — bool
      // decoder, kf mode trees, token lattice, dequant, prediction,
      // inverse transforms. Lossy, so the contract is BOUNDED drift in
      // YUV space: budget 14 = the measured max (10, exhaustive sweep of
      // the full 11520-id parameter cycle) plus margin. Triage is
      // structural: the stream must parse as a lossy WebP with the
      // source dimensions. The decoder itself is certified bit-exact
      // against libwebp in Vp8InteropSpec; this certificate keeps the
      // whole arm driver-checked at corpus scale.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val w = 24 + (id % 3).toInt * 8
          val h = 16 + (id % 5).toInt * 4
          val px = new Array[Byte](w * h * 3)
          var i = 0
          while (i < w * h) {
            val x = i % w; val y = i / w
            px(i * 3) = ((x * 255 / math.max(w - 1, 1)) & 0xFF).toByte
            px(i * 3 + 1) = (((y * 13 + id * 31) % 256) & 0xFF).toByte
            px(i * 3 + 2) = (((x * y + id * 7) % 256) & 0xFF).toByte
            i += 1
          }
          val img = graft.ext.Png.Image(w, h, 3, px)
          val src = graft.ext.Vp8Enc.toYuv420(img)
          val webp = graft.ext.Vp8Enc.encodeYuv(src, 4 + (id % 9).toInt,
            (id % 4).toInt)
          val meta = graft.ext.Webp.meta(webp)
          val triaged = meta.exists(m =>
            m.variant == "lossy" && m.width == w && m.height == h)
          val ok = graft.ext.Vp8.decode(webp).exists { dec =>
            def maxd(a: Array[Byte], b: Array[Byte]): Int = {
              var m = 0; var k = 0
              while (k < a.length) {
                m = math.max(m, math.abs((a(k) & 0xFF) - (b(k) & 0xFF))); k += 1
              }
              m
            }
            dec.width == w && dec.height == h &&
              maxd(dec.y, src.y) <= 14 && maxd(dec.u, src.u) <= 14 &&
              maxd(dec.v, src.v) <= 14
          }
          (id, if (ok) 1L else 0L, if (triaged) 1L else 0L,
            (w * h).toLong)
        }
        .toDF("media_id", "ok", "triaged", "pixels")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ok")).as("n_within_budget"),
          sum(col("triaged")).as("n_triaged"),
          sum(col("pixels")).as("sum_pixels"))
        .select(col("n_docs"), col("n_within_budget"), col("n_triaged"),
          col("sum_pixels"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_within_budget,
                   CAST(count(*) AS BIGINT) AS n_triaged,
                   CAST(sum((24 + (doc_id % 3) * 8) * (16 + (doc_id % 5) * 4))
                     AS BIGINT) AS sum_pixels
            FROM documents"""),
    "Lossy VP8 (WebP) codec certificate: per doc a real key-frame " +
      "encode+decode roundtrip through Vp8Enc/Vp8 — every decoded frame " +
      "within the measured YUV drift budget, every stream triaging as " +
      "lossy WebP with the source dims, pixel totals oracle-derived")

  private val qWebpFrames = Q(
    "q_webp_frames",
    (s, d) => {
      // Animated WebP through the REAL frame-sampling path: per doc a
      // VP8X/ANIM/ANMF container with three VP8L-coded frames is built,
      // routed through Multimodal.sampleFramesReal (the same entry GIF/
      // AVI/MP4 frames use), each sampled frame re-encoded as PNG and
      // decoded back — the emitted per-frame RGB sums certify the whole
      // ANMF walk → VP8L decode → PNG roundtrip chain against DuckDB's
      // direct arithmetic.
      import s.implicits._
      val (w, h, nF) = (10, 6, 3)
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val frames = (0 until nF).map { f =>
            val px = Array.tabulate(w * h)(i =>
              0xFF000000 | ((id * 2654435761L + f * 1216949L +
                i * 40503L) % 16777216L).toInt)
            (0, 0, 40, graft.ext.Vp8l.Image(w, h, px))
          }
          (id, graft.ext.Webp.buildAnim(w, h, frames))
        }.toDF("media_id", "payload")
      Multimodal.sampleFramesReal(media, stride = 1)
        .map { sf =>
          val img = graft.ext.Png.decode(sf.frame_png).getOrElse(
            throw new IllegalStateException("png re-decode failed"))
          var sum = 0L
          var i = 0
          while (i < img.pixels.length) {
            if (i % 4 != 3) sum += img.pixels(i) & 0xFF // RGB, skip alpha
            i += 1
          }
          (sf.media_id, sf.frame_no, sf.width, sf.height, sum)
        }
        .toDF("media_id", "frame_no", "width", "height", "rgb_sum")
        .orderBy("media_id", "frame_no")
    },
    Some("""SELECT doc_id AS media_id, f AS frame_no, 10 AS width,
                   6 AS height,
                   CAST(sum(v // 65536 + (v // 256) % 256 + v % 256)
                     AS BIGINT) AS rgb_sum
            FROM (SELECT doc_id, f, i,
                         (doc_id * 2654435761 + f * 1216949 + i * 40503)
                           % 16777216 AS v
                  FROM documents
                  CROSS JOIN generate_series(0, 2) AS ff(f)
                  CROSS JOIN generate_series(0, 59) AS t(i))
            GROUP BY doc_id, f ORDER BY media_id, frame_no"""),
    "animated-WebP frame extraction certificate: ANMF walk + VP8L frame " +
      "decode through the shared real-frame-sampling path, per-frame RGB " +
      "sums hash-checked against the oracle's direct arithmetic")

  private val qApngFrames = Q(
    "q_apng_frames",
    (s, d) => {
      // APNG (animated PNG) through the same real frame-sampling entry:
      // per doc a three-frame acTL/fcTL/fdAT animation over 8-bit RGB
      // rasters — frame 0 rides the default-image IDAT (fcTL-preceded,
      // so it IS a frame per spec), frames 1-2 ride fdAT with shared
      // sequence numbering. Each sampled frame decodes back to the
      // formula bytes; sums hash-checked against DuckDB.
      import s.implicits._
      val (w, h, nF) = (10, 6, 3)
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val frames = (0 until nF).map { f =>
            graft.ext.Png.Image(w, h, 3, Array.tabulate(w * h * 3)(i =>
              ((id * 31 + f * 997 + i * 7) % 256).toByte))
          }
          (id, graft.ext.Apng.build(frames))
        }.toDF("media_id", "payload")
      Multimodal.sampleFramesReal(media, stride = 1)
        .map { sf =>
          val img = graft.ext.Png.decode(sf.frame_png).getOrElse(
            throw new IllegalStateException("png re-decode failed"))
          var sum = 0L
          img.pixels.foreach(b => sum += (b & 0xFF))
          (sf.media_id, sf.frame_no, sf.width, sf.height, sum)
        }
        .toDF("media_id", "frame_no", "width", "height", "pixel_sum")
        .orderBy("media_id", "frame_no")
    },
    Some("""SELECT doc_id AS media_id, f AS frame_no, 10 AS width,
                   6 AS height,
                   CAST(sum((doc_id * 31 + f * 997 + i * 7) % 256)
                     AS BIGINT) AS pixel_sum
            FROM documents
            CROSS JOIN generate_series(0, 2) AS ff(f)
            CROSS JOIN generate_series(0, 179) AS t(i)
            GROUP BY doc_id, f ORDER BY media_id, frame_no"""),
    "APNG frame extraction certificate: acTL/fcTL/fdAT walk with the " +
      "default-image-as-frame rule, frames re-decoded through the still " +
      "PNG codec, per-frame byte sums hash-checked against the oracle")

  private val qBmpDecode = Q(
    "q_bmp_decode",
    (s, d) => {
      // BMP pixel decode, driver-checked: odd width (11) forces the
      // 4-byte row padding; arms rotate 24-bit BI_RGB (even ids) and
      // 8-bit gray-palettized (odd ids — the decoded 3-channel raster
      // triples the byte sum). Bottom-up row order and BGR swizzle are
      // exactly what the sum certifies.
      import s.implicits._
      val (w, h) = (11, 7)
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val img =
            if (id % 2 == 0)
              graft.ext.Png.Image(w, h, 3, Array.tabulate(w * h * 3)(i =>
                ((id * 31 + i * 7) % 256).toByte))
            else
              graft.ext.Png.Image(w, h, 1, Array.tabulate(w * h)(i =>
                ((id * 31 + i * 7) % 256).toByte))
          val bmp = graft.ext.Bmp.build(img)
          val dec = graft.ext.Bmp.decode(bmp).getOrElse(
            throw new IllegalStateException(s"bmp decode failed for $id"))
          var sum = 0L
          dec.pixels.foreach(v => sum += (v & 0xFF))
          (id, dec.width, dec.height, dec.channels, sum)
        }
        .toDF("media_id", "width", "height", "n_channels", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 11 AS width, 7 AS height,
                   3 AS n_channels,
                   CAST(CASE WHEN doc_id % 2 = 0
                     THEN (SELECT sum((doc_id * 31 + i * 7) % 256)
                           FROM generate_series(0, 230) AS t(i))
                     ELSE 3 * (SELECT sum((doc_id * 31 + i * 7) % 256)
                               FROM generate_series(0, 76) AS t(i))
                   END AS BIGINT) AS pixel_sum
            FROM documents ORDER BY media_id"""),
    "BMP decode certificate: 24-bit and gray-palette arms, bottom-up " +
      "padded rows and BGR swizzle certified by exact byte sums")

  private val qIcoDecode = Q(
    "q_ico_decode",
    (s, d) => {
      // ICO (favicon) extraction: two PNG-coded entries per icon; the
      // decoder must pick the LARGEST (16×16) and decode it through the
      // still-PNG codec. Entry count from the directory walk.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val small = graft.ext.Png.Image(8, 8, 1,
            Array.tabulate(64)(i => ((id * 7 + i * 3) % 256).toByte))
          val big = graft.ext.Png.Image(16, 16, 1,
            Array.tabulate(256)(i => ((id * 13 + i * 5) % 256).toByte))
          val ico = graft.ext.Ico.build(Seq(small, big))
          val n = graft.ext.Ico.entries(ico).map(_.length).getOrElse(-1)
          val dec = graft.ext.Ico.decode(ico).getOrElse(
            throw new IllegalStateException(s"ico decode failed for $id"))
          var sum = 0L
          dec.pixels.foreach(v => sum += (v & 0xFF))
          (id, n, dec.width, dec.height, sum)
        }
        .toDF("media_id", "n_entries", "width", "height", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 2 AS n_entries, 16 AS width,
                   16 AS height,
                   CAST(sum((doc_id * 13 + i * 5) % 256) AS BIGINT)
                     AS pixel_sum
            FROM documents CROSS JOIN generate_series(0, 255) AS t(i)
            GROUP BY doc_id ORDER BY media_id"""),
    "ICO extraction certificate: directory walk, largest-entry " +
      "selection, PNG-coded favicon decode — sums oracle-checked")

  private val qTiffDecode = Q(
    "q_tiff_decode",
    (s, d) => {
      // TIFF PIXEL decode, driver-checked — lifts q_tiff_meta's
      // "pixel codecs out of envelope" cut: arms rotate the full
      // baseline matrix by doc_id — compression none/LZW/PackBits
      // (id % 3), little/big endian (id % 2), Predictor 2 on LZW arms
      // (the libtiff default pairing), gray vs RGB (id % 5 == 0). The
      // REAL LZW codec (MSB-first, early change) and PackBits run per
      // doc; decoded byte sums must hash-match DuckDB arithmetic.
      import s.implicits._
      val (w, h) = (14, 9)
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val ch = if (id % 5 == 0) 1 else 3
          val src = graft.ext.Png.Image(w, h, ch,
            Array.tabulate(w * h * ch)(i => ((id * 31 + i * 7) % 256).toByte))
          val comp = (id % 3).toInt match {
            case 0 => 1
            case 1 => 5
            case _ => 32773
          }
          val t = graft.ext.TiffImg.build(src, comp,
            bigEndian = id % 2 == 1,
            predictor = if (comp == 5) 2 else 1)
          val dec = graft.ext.TiffImg.decode(t).getOrElse(
            throw new IllegalStateException(s"tiff decode failed for $id"))
          var sum = 0L
          dec.pixels.foreach(v => sum += (v & 0xFF))
          (id, dec.width, dec.height, dec.channels, sum)
        }
        .toDF("media_id", "width", "height", "n_channels", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 14 AS width, 9 AS height,
                   CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS INT)
                     AS n_channels,
                   CAST(CASE WHEN doc_id % 5 = 0
                     THEN (SELECT sum((doc_id * 31 + i * 7) % 256)
                           FROM generate_series(0, 125) AS t(i))
                     ELSE (SELECT sum((doc_id * 31 + i * 7) % 256)
                           FROM generate_series(0, 377) AS t(i))
                   END AS BIGINT) AS pixel_sum
            FROM documents ORDER BY media_id"""),
    "TIFF pixel-decode certificate: none/LZW/PackBits strips in both " +
      "byte orders with Predictor 2 on the LZW arms — the real TIFF LZW " +
      "codec per doc, byte sums oracle-checked")

  private val qTiffCcitt = Q(
    "q_tiff_ccitt",
    (s, d) => {
      // CCITT fax decode, driver-checked (round 16) — the scanned-
      // document compressions (G4/T.6, G3/T.4 1D and 2D, Modified
      // Huffman) over bilevel strips: per doc a 40×11 bitmap whose
      // pixel (x,y) is black iff (id·7 + y·5 + x·3) mod 11 < 4 is
      // CCITT-encoded (compression rotates by id % 4: G4, G3-1D,
      // G3-2D, MH; fill bits on half the G3 arms — a bit-grammar
      // variant that must not change a single pixel) and decoded back
      // through the run tables machine-extracted from libtiff. The
      // white-pixel sum (photometric 0: white = 255) must hash-match
      // DuckDB counting the same congruence directly.
      import s.implicits._
      val (w, h) = (40, 11)
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val gray = new Array[Byte](w * h)
          var i = 0
          while (i < gray.length) {
            val black = (id * 7 + (i / w) * 5 + (i % w) * 3) % 11 < 4
            gray(i) = if (black) 0x00 else 0xFF.toByte
            i += 1
          }
          val (comp, t4) = (id % 4).toInt match {
            case 0 => (4, 0)
            case 1 => (3, if (id % 8 == 1) 4 else 0) // 1D, fill on half
            case 2 => (3, if (id % 8 == 2) 5 else 1) // 2D, fill on half
            case _ => (2, 0)
          }
          val t = graft.ext.TiffImg.buildBilevel(
            graft.ext.Png.Image(w, h, 1, gray), comp, t4)
          val dec = graft.ext.TiffImg.decode(t).getOrElse(
            throw new IllegalStateException(s"ccitt decode failed for $id"))
          var sum = 0L
          dec.pixels.foreach(v => sum += (v & 0xFF))
          (id, dec.width, dec.height, comp, sum)
        }
        .toDF("media_id", "width", "height", "compression", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 40 AS width, 11 AS height,
                   CAST(CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 3
                        WHEN 2 THEN 3 ELSE 2 END AS INT) AS compression,
                   CAST(255 * (SELECT count(*) FROM generate_series(0, 439) AS t(i)
                          WHERE (doc_id * 7 + (i // 40) * 5 + (i % 40) * 3) % 11 >= 4)
                     AS BIGINT) AS pixel_sum
            FROM documents ORDER BY media_id"""),
    "CCITT fax decode certificate: G4/G3-1D/G3-2D/MH bilevel strips " +
      "(fill-bit variants included) through the libtiff-extracted run " +
      "tables, white-pixel sums oracle-checked")

  private val qPnmDecode = Q(
    "q_pnm_decode",
    (s, d) => {
      // Netpbm certificate: P6 RGB on even ids, P5 gray on odd; the
      // builder plants a comment line so the header tokenizer's comment
      // path runs per doc. Byte sums oracle-checked.
      import s.implicits._
      val (w, h) = (13, 8)
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .map { id =>
          val ch = if (id % 2 == 0) 3 else 1
          val src = graft.ext.Png.Image(w, h, ch,
            Array.tabulate(w * h * ch)(i => ((id * 17 + i * 11) % 256).toByte))
          val dec = graft.ext.Pnm.decode(graft.ext.Pnm.build(src)).getOrElse(
            throw new IllegalStateException(s"pnm decode failed for $id"))
          var sum = 0L
          dec.pixels.foreach(v => sum += (v & 0xFF))
          (id, dec.width, dec.height, dec.channels, sum)
        }
        .toDF("media_id", "width", "height", "n_channels", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 13 AS width, 8 AS height,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT)
                     AS n_channels,
                   CAST(CASE WHEN doc_id % 2 = 0
                     THEN (SELECT sum((doc_id * 17 + i * 11) % 256)
                           FROM generate_series(0, 311) AS t(i))
                     ELSE (SELECT sum((doc_id * 17 + i * 11) % 256)
                           FROM generate_series(0, 103) AS t(i))
                   END AS BIGINT) AS pixel_sum
            FROM documents ORDER BY media_id"""),
    "netpbm decode certificate: P6/P5 arms with comment-bearing " +
      "headers, byte sums oracle-checked")

  private val qWavPcm = Q(
    "q_wav_pcm",
    (s, d) => {
      // REAL PCM decode, driver-checked: per doc, a 16-bit mono WAV whose
      // sample i is ((id·7 + i·11) mod 2001) − 1000 is built byte-for-byte
      // (RIFF/fmt/data) and decoded by AudioHeaders.pcm; the exact integer
      // sample-sum and energy must hash-match DuckDB's direct arithmetic.
      import s.implicits._
      val n = 400
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          (id, AudioFp.wavPcm16(
            Array.tabulate(n)(i => (((id * 7 + i.toLong * 11) % 2001) - 1000).toInt)))
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.audioSampleStats(m).toDF())
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 8000 AS sample_rate, 1 AS channels,
                   16 AS bits, CAST(400 AS BIGINT) AS n_samples,
                   CAST(sum((doc_id * 7 + i * 11) % 2001 - 1000) AS BIGINT)
                     AS sum_samples,
                   CAST(sum(((doc_id * 7 + i * 11) % 2001 - 1000)
                            * ((doc_id * 7 + i * 11) % 2001 - 1000)) AS BIGINT)
                     AS sum_squares
            FROM documents CROSS JOIN generate_series(0, 399) AS t(i)
            GROUP BY doc_id ORDER BY media_id"""),
    "WAV PCM decode certificate: byte-built 16-bit mono payloads through " +
      "the real sample decoder — exact integer sample sum / energy " +
      "hash-checked against the oracle's direct arithmetic")

  private val qGifFrames = Q(
    "q_gif_frames",
    (s, d) => {
      // REAL frame sampling, driver-checked: per doc, a genuine 4-frame
      // animated GIF (written by the JDK's own encoder; frame f is the
      // solid gray (id·7 + 40·f) mod 256 — solid colors survive GIF
      // palette quantization exactly) is frame-sampled at stride 2
      // through Multimodal.sampleFramesReal (JDK ImageReader → pure-JVM
      // PNG re-encode), and the first pixel of each decoded frame must
      // hash-match DuckDB computing the same arithmetic directly.
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .mapPartitions { ids =>
          graft.ext.Png.jdkImageIoInit // headless + no disk cache, once per JVM
          ids.map { id =>
            val bos = new java.io.ByteArrayOutputStream()
            val writer = javax.imageio.ImageIO
              .getImageWritersByFormatName("gif").next()
            val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < 4) {
              val v = ((id * 7 + 40 * f) % 256).toInt
              val bi = new java.awt.image.BufferedImage(8, 6,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < 6) {
                var x = 0
                while (x < 8) { bi.setRGB(x, y, (v << 16) | (v << 8) | v); x += 1 }
                y += 1
              }
              writer.writeToSequence(
                new javax.imageio.IIOImage(bi, null, null),
                writer.getDefaultWriteParam)
              f += 1
            }
            writer.endWriteSequence(); ios.close(); writer.dispose()
            (id, bos.toByteArray)
          }
        }
        .toDF("media_id", "payload")
      graft.ext.Multimodal.sampleFramesReal(media, stride = 2)
        .map(fr => (fr.media_id, fr.frame_no, fr.width, fr.height,
          (graft.ext.Png.decode(fr.frame_png).get.pixels(0) & 0xFF).toLong))
        .toDF("media_id", "frame_no", "width", "height", "p0")
        .orderBy("media_id", "frame_no")
    },
    Some("""SELECT doc_id AS media_id, f AS frame_no, 8 AS width,
                   6 AS height,
                   CAST((doc_id * 7 + 40 * f) % 256 AS BIGINT) AS p0
            FROM documents CROSS JOIN (VALUES (0), (2)) t(f)
            ORDER BY media_id, frame_no"""),
    "animated-GIF frame-sampling certificate: JDK-encoded multi-frame " +
      "payloads through the real frame sampler — sampled frame pixels " +
      "hash-checked against the oracle's direct arithmetic")

  private val qJpegStats = Q(
    "q_jpeg_stats",
    (s, d) => {
      // REAL JPEG pixel decode, driver-checked: per doc, a 16×16 RGB JPEG
      // of four solid 8×8 gray blocks (block b is (id·7 + 13 + 29·b) mod
      // 256) is encoded by the JDK writer at quality 1.0 and decoded back
      // through Png.decodeAny — since round 9 that routes JPEG through
      // the PURE T.81 codec (graft.ext.Jpeg), so this row now certifies
      // the pure decoder on the production path (the ImageIO arm keeps
      // its own certificate in q_jpeg_imageio). Solid blocks aligned to
      // the 8×8 DCT grid survive baseline JPEG exactly (constant block →
      // DC-only, unit quant table at q=1.0; all-gray → flat chroma, so
      // 4:2:0 subsampling is lossless too — verified over 600 ids × all
      // pixels), so block corner samples and the full pixel sum
      // hash-match DuckDB's direct arithmetic.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .mapPartitions { ids =>
          val jpeg = new Plants.JpegWriter()
          ids.map { id =>
            val bytes = jpeg.encode(
              Plants.grayBlocks(b => ((id * 7 + 13 + 29 * b) % 256).toInt))
            val img = graft.ext.Png.decodeAny(bytes).getOrElse(
              throw new IllegalStateException(s"jpeg decode failed for $id"))
            def corner(bx: Int, by: Int): Long =
              (img.pixels((by * 8 * img.width + bx * 8) * img.channels) & 0xFF).toLong
            var sum = 0L
            img.pixels.foreach(v => sum += (v & 0xFF))
            (id, img.width, img.height, img.channels,
              corner(0, 0), corner(1, 0), corner(0, 1), corner(1, 1), sum)
          }
        }
        .toDF("media_id", "width", "height", "n_channels",
          "b0", "b1", "b2", "b3", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 16 AS width, 16 AS height,
                   3 AS n_channels,
                   CAST((doc_id * 7 + 13) % 256 AS BIGINT) AS b0,
                   CAST((doc_id * 7 + 13 + 29) % 256 AS BIGINT) AS b1,
                   CAST((doc_id * 7 + 13 + 58) % 256 AS BIGINT) AS b2,
                   CAST((doc_id * 7 + 13 + 87) % 256 AS BIGINT) AS b3,
                   CAST(192 * (((doc_id * 7 + 13) % 256)
                             + ((doc_id * 7 + 13 + 29) % 256)
                             + ((doc_id * 7 + 13 + 58) % 256)
                             + ((doc_id * 7 + 13 + 87) % 256)) AS BIGINT)
                     AS pixel_sum
            FROM documents ORDER BY media_id"""),
    "JPEG decode certificate: DCT-block-aligned solid rasters through " +
      "the JDK encode → production ImageIO decode arm — block samples " +
      "and pixel sum hash-checked against the oracle's direct arithmetic")

  private val qPng4Stats = Q(
    "q_png4_stats",
    (s, d) => {
      // Sub-byte decode certificate (the q_jpeg_stats discipline for the
      // new 4-bit arm): per doc, a 4-bit PALETTE PNG is built BY HAND —
      // MSB-first packed indexes with ragged row padding, deflated and
      // framed by Png.writeChunk (the packing is independent of the
      // codec's encoder, which writes no sub-byte rasters) — and decoded
      // through Png.decode. Indexes and palette are modular
      // arithmetic in doc_id, so the decoded-pixel sum is hash-checked
      // against DuckDB computing the same arithmetic directly. Any bit
      // slip in the unpacker (shift origin, padding, palette expansion)
      // breaks the row.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val img = graft.ext.Png.decode(Plants.palette4Png(id)).getOrElse(
            throw new IllegalStateException(s"4-bit decode failed for $id"))
          var sum = 0L
          img.pixels.foreach(b => sum += (b & 0xFF))
          (id, img.width, img.height, img.channels, sum)
        }
        .toDF("media_id", "width", "height", "n_channels", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 9 AS width, 4 AS height,
                   3 AS n_channels,
                   CAST(sum((doc_id * 3 + ((doc_id + i) % 16) * 7) % 256
                          + (doc_id * 5 + ((doc_id + i) % 16) * 11) % 256
                          + (doc_id * 7 + ((doc_id + i) % 16) * 13) % 256)
                        AS BIGINT) AS pixel_sum
            FROM documents CROSS JOIN generate_series(0, 35) AS t(i)
            GROUP BY doc_id ORDER BY media_id"""),
    "4-bit palette PNG decode certificate: hand-packed sub-byte indexes " +
      "with ragged padding through the pure codec — decoded-pixel sum " +
      "hash-checked against the oracle's direct arithmetic")

  private val qWavFloat = Q(
    "q_wav_float",
    (s, d) => {
      // Float-WAV decode certificate: samples k/256 with k ∈ [-256, 255]
      // are exactly representable in float32 and quantize exactly to
      // floor(f·32768) = 128·k (k = 256 would hit the +1.0 clamp, so the
      // range excludes it), making the decoder's documented 16-bit
      // quantization hash-checkable as pure integer arithmetic.
      import s.implicits._
      val n = 200
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val bytes = AudioFp.wavFile(formatTag = 3, channels = 1, rate = 8000, // IEEE float
            bits = 32, blockAlign = 4, dataLen = n * 4)
          var i = 0
          while (i < n) {
            val k = ((id * 7 + i.toLong * 13) % 512L - 256L).toInt
            Bytes.putLe32(bytes, 44 + i * 4, java.lang.Float.floatToIntBits(k / 256.0f))
            i += 1
          }
          (id, bytes)
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.audioSampleStats(m).toDF())
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 8000 AS sample_rate, 1 AS channels,
                   32 AS bits, CAST(200 AS BIGINT) AS n_samples,
                   CAST(sum(128 * ((doc_id * 7 + i * 13) % 512 - 256)) AS BIGINT)
                     AS sum_samples,
                   CAST(sum(16384 * ((doc_id * 7 + i * 13) % 512 - 256)
                                  * ((doc_id * 7 + i * 13) % 512 - 256)) AS BIGINT)
                     AS sum_squares
            FROM documents CROSS JOIN generate_series(0, 199) AS t(i)
            GROUP BY doc_id ORDER BY media_id"""),
    "IEEE-float WAV decode certificate: exactly-representable k/256 " +
      "samples quantize to 128·k — decoder stats hash-checked as pure " +
      "integer arithmetic")

  private val qWavG711 = Q(
    "q_wav_g711",
    (s, d) => {
      // G.711 decode certificate: the ITU A-law/μ-law expansions are
      // exact integer maps of the code byte, so the oracle replays the
      // same formulas in SQL. Even doc_ids carry μ-law (tag 7), odd
      // A-law (tag 6) — one row family certifies both decoder arms.
      import s.implicits._
      val n = 200
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val bytes = AudioFp.wavFile(formatTag = if (id % 2 == 0) 7 else 6,
            channels = 1, rate = 8000, bits = 8, blockAlign = 1, dataLen = n)
          var i = 0
          while (i < n) {
            bytes(44 + i) = ((id * 7 + i * 13) % 256).toByte
            i += 1
          }
          (id, bytes)
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.audioSampleStats(m).toDF())
        .orderBy("media_id")
    },
    Some("""WITH raw AS (
              SELECT doc_id, (doc_id * 7 + i * 13) % 256 AS c
              FROM documents CROSS JOIN generate_series(0, 199) AS t(i)),
            dec AS (
              SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN
                  CASE WHEN (255 - c) >= 128
                       THEN 132 - (((255 - c) % 16) * 8 + 132)
                              * (1 << (((255 - c) // 16) % 8))
                       ELSE (((255 - c) % 16) * 8 + 132)
                              * (1 << (((255 - c) // 16) % 8)) - 132 END
                ELSE
                  (CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END) *
                  (CASE WHEN (xor(c, 85) // 16) % 8 = 0
                        THEN (xor(c, 85) % 16) * 16 + 8
                        ELSE ((xor(c, 85) % 16) * 16 + 264)
                               * (1 << ((xor(c, 85) // 16) % 8 - 1)) END)
                END AS v
              FROM raw)
            SELECT doc_id AS media_id, 8000 AS sample_rate, 1 AS channels,
                   8 AS bits, CAST(200 AS BIGINT) AS n_samples,
                   CAST(sum(v) AS BIGINT) AS sum_samples,
                   CAST(sum(v * v) AS BIGINT) AS sum_squares
            FROM dec GROUP BY doc_id ORDER BY media_id"""),
    "G.711 A-law/mu-law decode certificate: the exact ITU integer " +
      "expansions replayed in oracle SQL — both companded-audio arms " +
      "hash-checked")

  private val qJpegImageIo = Q(
    "q_jpeg_imageio",
    (s, d) => {
      // The ImageIO decode arm's own certificate (q_jpeg_stats moved to
      // the pure T.81 codec when decodeAny started routing JPEG there):
      // same solid-block construction, decoded explicitly through
      // Png.decodeViaJdk — the fallback arm progressive/exotic payloads
      // still take. Keeping both rows green proves the two arms agree
      // on the production contract.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .mapPartitions { ids =>
          val jpeg = new Plants.JpegWriter()
          ids.map { id =>
            val bytes = jpeg.encode(
              Plants.grayBlocks(b => ((id * 7 + 13 + 29 * b) % 256).toInt))
            val img = graft.ext.Png.decodeViaJdk(bytes).getOrElse(
              throw new IllegalStateException(s"imageio decode failed for $id"))
            var sum = 0L
            img.pixels.foreach(v => sum += (v & 0xFF))
            (id, img.width, img.height, img.channels, sum)
          }
        }
        .toDF("media_id", "width", "height", "n_channels", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 16 AS width, 16 AS height,
                   3 AS n_channels,
                   CAST(192 * (((doc_id * 7 + 13) % 256)
                             + ((doc_id * 7 + 13 + 29) % 256)
                             + ((doc_id * 7 + 13 + 58) % 256)
                             + ((doc_id * 7 + 13 + 87) % 256)) AS BIGINT)
                     AS pixel_sum
            FROM documents ORDER BY media_id"""),
    "ImageIO fallback-arm certificate: the q_jpeg_stats solid-block " +
      "construction decoded explicitly via decodeViaJdk — both decode " +
      "arms proven to agree on the same payloads")

  private val qJpegProgressive = Q(
    "q_jpeg_progressive",
    (s, d) => {
      // Progressive-JPEG certificate (T.81 Annex G: spectral selection +
      // successive approximation): the q_jpeg_stats solid-block raster
      // encoded PROGRESSIVE by the JDK writer (multi-scan: DC first/
      // refine + per-band AC first/refine) and decoded through the pure
      // codec. Solid DCT-aligned blocks survive exactly for the same
      // reason as baseline — all scans together reconstruct the same
      // DC-only coefficient set — so the full pixel sum hash-checks
      // against direct arithmetic, certifying the whole multi-scan
      // coefficient-accumulation machinery.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .mapPartitions { ids =>
          val jpeg = new Plants.JpegWriter(progressive = true)
          ids.map { id =>
            val bytes = jpeg.encode(
              Plants.grayBlocks(b => ((id * 7 + 13 + 29 * b) % 256).toInt))
            val img = graft.ext.Jpeg.decode(bytes).getOrElse(
              throw new IllegalStateException(s"progressive decode failed for $id"))
            var sum = 0L
            img.pixels.foreach(v => sum += (v & 0xFF))
            (id, img.width, img.height, img.channels, sum)
          }
        }
        .toDF("media_id", "width", "height", "n_channels", "pixel_sum")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id, 16 AS width, 16 AS height,
                   3 AS n_channels,
                   CAST(192 * (((doc_id * 7 + 13) % 256)
                             + ((doc_id * 7 + 13 + 29) % 256)
                             + ((doc_id * 7 + 13 + 58) % 256)
                             + ((doc_id * 7 + 13 + 87) % 256)) AS BIGINT)
                     AS pixel_sum
            FROM documents ORDER BY media_id"""),
    "progressive-JPEG decode certificate: multi-scan Annex G streams " +
      "through the pure codec — coefficient accumulation across DC/AC " +
      "first+refine scans hash-checked against direct arithmetic")

  private val qWavAdpcm = Q(
    "q_wav_adpcm",
    (s, d) => {
      // IMA ADPCM decode certificate. The state machine is sequential, so
      // the oracle can't replay it directly — instead the payload uses a
      // CONSTANT nibble k = doc_id % 4 per stream (index-table entries for
      // k < 4 are all -1, so the step trajectory from index0 = 16 decays
      // deterministically and never clamps), making the cumulative-delta
      // trajectory a per-k constant: sum = 505·pred0 + T1(k), sumSq =
      // 505·pred0² + 2·pred0·T1(k) + T2(k). T1/T2 were computed by an
      // INDEPENDENT Python implementation of the public IMA algorithm
      // (not this decoder — a genuine cross-check) and are inlined in the
      // oracle SQL below. pred0 ∈ [-1024, 1023] keeps |pred| ≤ ~3.3k:
      // clamp-free, so the additive split is exact.
      import s.implicits._
      val blockAlign = 256 // 4-byte header + 252 nibble bytes = 505 samples
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val pred0 = ((id * 37) % 2048 - 1024).toInt
          val k = (id % 4).toInt
          val bytes = AudioFp.wavFile(formatTag = 0x11, channels = 1, // IMA ADPCM
            rate = 8000, bits = 4, blockAlign = blockAlign, dataLen = blockAlign,
            samplesPerBlock = 505)
          val blk = 48
          Bytes.putLe16(bytes, blk, pred0)
          bytes(blk + 2) = 16 // index0
          var j = blk + 4
          while (j < blk + blockAlign) {
            bytes(j) = (k | (k << 4)).toByte // constant nibble, low first
            j += 1
          }
          (id, bytes)
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.audioSampleStats(m).toDF())
        .orderBy("media_id")
    },
    Some("""WITH base AS (
              SELECT doc_id, (doc_id * 37) % 2048 - 1024 AS pred0,
                     doc_id % 4 AS k
              FROM documents),
            consts AS (
              SELECT doc_id, pred0,
                CASE k WHEN 0 THEN 14958 WHEN 1 THEN 167676
                       WHEN 2 THEN 443193 ELSE 595911 END AS t1,
                CASE k WHEN 0 THEN 446510 WHEN 1 THEN 66672326
                       WHEN 2 THEN 486638031 ELSE 876991875 END AS t2
              FROM base)
            SELECT doc_id AS media_id, 8000 AS sample_rate, 1 AS channels,
                   4 AS bits, CAST(505 AS BIGINT) AS n_samples,
                   CAST(505 * pred0 + t1 AS BIGINT) AS sum_samples,
                   CAST(505 * pred0 * pred0 + 2 * pred0 * t1 + t2 AS BIGINT)
                     AS sum_squares
            FROM consts ORDER BY media_id"""),
    "IMA ADPCM decode certificate: constant-nibble streams make the " +
      "sequential state machine's trajectory a closed-form constant, " +
      "cross-checked against an independent implementation of the " +
      "public IMA algorithm")

  private val qAviFrames = Q(
    "q_avi_frames",
    (s, d) => {
      // VIDEO frame-sampling certificate: per doc, a hand-built RIFF AVI
      // (no hdrl — a synthetic movi-only fixture; the parser walks real
      // AVI structure) holding six MJPEG frames — 16×16 solid-block
      // JPEGs (block value (id·7+13+29·blk+11·f) mod 256, JDK-encoded at
      // q=1.0, exact roundtrip as in q_jpeg_stats) — flows through
      // sampleFramesReal at stride 2: RIFF walk → per-frame pure-codec
      // JPEG decode → PNG re-encode. Each sampled frame's PNG is decoded
      // back and its pixel sum hash-checked against direct arithmetic,
      // certifying the whole video→keyframe path end to end.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .mapPartitions { ids =>
          val jpeg = new Plants.JpegWriter()
          ids.map { id =>
            val movi = new java.io.ByteArrayOutputStream()
            movi.write("movi".getBytes("US-ASCII"))
            var f = 0
            while (f < 6) {
              val jpg = jpeg.encode(
                Plants.grayBlocks(b => ((id * 7 + 13 + 29 * b + 11 * f) % 256).toInt))
              movi.write("00dc".getBytes("US-ASCII"))
              Bytes.writeLe32(movi, jpg.length)
              movi.write(jpg)
              if ((jpg.length & 1) == 1) movi.write(0)
              f += 1
            }
            val moviBytes = movi.toByteArray
            val out = new java.io.ByteArrayOutputStream()
            out.write("RIFF".getBytes("US-ASCII"))
            Bytes.writeLe32(out, 4 + 8 + moviBytes.length)
            out.write("AVI ".getBytes("US-ASCII"))
            out.write("LIST".getBytes("US-ASCII"))
            Bytes.writeLe32(out, moviBytes.length)
            out.write(moviBytes)
            (id, out.toByteArray)
          }
        }
        .toDF("media_id", "payload")
        .transform(Plants.framePixelSums)
        .orderBy("media_id", "frame_no")
    },
    Some("""SELECT doc_id AS media_id, f AS frame_no, 16 AS width,
                   16 AS height,
                   CAST(192 * (((doc_id * 7 + 13 + 11 * f) % 256)
                             + ((doc_id * 7 + 13 + 29 + 11 * f) % 256)
                             + ((doc_id * 7 + 13 + 58 + 11 * f) % 256)
                             + ((doc_id * 7 + 13 + 87 + 11 * f) % 256))
                        AS BIGINT) AS pixel_sum
            FROM documents CROSS JOIN (VALUES (0), (2), (4)) AS t(f)
            ORDER BY media_id, frame_no"""),
    "AVI/MJPEG video frame-sampling certificate: hand-built RIFF " +
      "container → stride-2 frame walk → pure-codec JPEG decode → PNG " +
      "re-encode, every sampled frame hash-checked against direct " +
      "arithmetic")

  private val qHtmlExtract = Q(
    "q_html_extract",
    (s, d) => {
      // HTML→text extraction certificate: each doc's text is wrapped in a
      // full synthetic page — head/title, a script whose body contains
      // '<' and fake closing tags, a style block, a comment with markup
      // inside, a quoted attribute containing '>', every word wrapped in
      // inline <b> tags, and a tail div exercising named + decimal + hex
      // entities. html_text (one codegen'd map-only pass) must recover a
      // string the oracle rebuilds from the raw text column with plain
      // SQL concatenation — any state-machine slip (raw-text mode, quote
      // tracking, entity decode, block/inline separation, whitespace
      // collapse) breaks the hash.
      val html = concat(
        lit("<html><head><title>T"), col("doc_id"),
        lit("</title><script>if (1<2) { alert('</p>'); }</script>" +
          "<style>p > b { color: red; }</style></head>" +
          "<body><!-- noise <p>x</p> --><h1>Doc "), col("doc_id"),
        lit("</h1><p class=\"x>y\"><b>"),
        expr("replace(text, ' ', '</b> <b>')"),
        lit("</b></p><div>&lt;tail&gt; &amp; &#65;&#x42;</div></body></html>"))
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.HtmlText.html_text(html).as("extracted"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   'T' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10)
                     || text || chr(10) || '<tail> & AB' AS extracted
            FROM documents ORDER BY doc_id"""),
    "HTML→text extraction certificate: a full synthetic page (raw-text " +
      "script/style, quoted attrs, comments, entities, inline/block " +
      "tags) must round-trip the document text exactly — WET-style " +
      "web-corpus extraction as one codegen'd pass")

  private val qBoilerplate = Q(
    "q_boilerplate",
    (s, d) => {
      // Line-frequency boilerplate removal (CCNet/RefinedWeb): every doc
      // gains a universal footer line (df = all docs) and a rotating
      // copyright line (df ≈ N/3); at maxDf = 10 both are boilerplate and
      // must vanish, while each doc's own text line survives unless the
      // corpus genuinely repeats it past the threshold (the planted-dup
      // families do — the oracle computes the identical distinct-count
      // rule, so the judgments agree row by row).
      val withChrome = documents(s, d).select(col("doc_id"),
        concat(col("text"), lit("\nSHARED FOOTER\nCopyright w"),
          col("doc_id") % 3).as("page"))
      graft.ext.TextAnalysis.stripBoilerplate(withChrome, "doc_id", "page", maxDf = 10)
        .orderBy("doc_id")
    },
    Some("""WITH docs2 AS (
              SELECT doc_id, text || chr(10) || 'SHARED FOOTER' || chr(10)
                       || 'Copyright w' || (doc_id % 3) AS t
              FROM documents),
            raw AS (
              SELECT doc_id, unnest(list_transform(string_split(t, chr(10)),
                       (x, i) -> {'line': x, 'pos': i})) AS u
              FROM docs2),
            lns AS (SELECT doc_id, u.line AS line, u.pos AS pos FROM raw),
            freq AS (
              SELECT line, count(DISTINCT doc_id) AS df FROM lns GROUP BY line)
            SELECT l.doc_id,
                   string_agg(l.line, chr(10) ORDER BY l.pos) AS clean_text,
                   CAST(count(*) AS BIGINT) AS n_lines_kept
            FROM lns l JOIN freq f ON l.line = f.line
            WHERE f.df <= 10
            GROUP BY l.doc_id ORDER BY l.doc_id"""),
    "corpus-level line-frequency boilerplate removal: one distinct-count " +
      "agg keyed by line + join-back + ordered reassembly — planted " +
      "footer/copyright chrome must vanish, document lines survive")

  private val qUrlNormalize = Q(
    "q_url_normalize",
    (s, d) => {
      // URL canonicalization certificate: messy URLs (uppercase scheme/
      // host, www, default port, tracking params, unsorted query,
      // trailing slash, fragment) built from doc_id must canonicalize to
      // the exact closed form the oracle rebuilds directly — plus the
      // registered-domain key. parse_url + array algebra only, no UDF.
      val url = concat(lit("HTTPS://WWW.Example"), col("doc_id") % 7,
        lit(".COM:443/path"), col("doc_id") % 5,
        lit("/?utm_source=x&b=2&a=1&gclid=z#frag"))
      documents(s, d).select(col("doc_id"),
          graft.ext.TextAnalysis.normalizeUrl(url).as("canonical_url"),
          graft.ext.TextAnalysis.urlDomain(url).as("domain"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   'https://example' || (doc_id % 7) || '.com/path'
                     || (doc_id % 5) || '?a=1&b=2' AS canonical_url,
                   'example' || (doc_id % 7) || '.com' AS domain
            FROM documents ORDER BY doc_id"""),
    "URL canonicalization certificate: scheme/host case, default port, " +
      "www, tracking params, query order, trailing slash, fragment — " +
      "all collapsed to the oracle's closed form")

  private val qWarcPipeline = Q(
    "q_warc_pipeline",
    (s, d) => {
      // The full web-ingestion path in ONE certified query: a synthetic
      // WARC blob per doc (warcinfo record + an HTTP response record
      // whose body is an HTML page wrapping the doc text) → Warc.records
      // (ISO 28500 forward scan) → response filter → html_text — the
      // exact chain a Common Crawl pipeline runs. The oracle rebuilds
      // the expected (uri, status, extracted-text) rows in closed form,
      // so a slip anywhere (record framing, Content-Length accounting,
      // HTTP header split, status parse, tag strip) breaks the hash.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val page = "<html><body><h1>Doc " + id + "</h1><p><b>" +
            text.replace(" ", "</b> <b>") + "</b></p></body></html>"
          val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + page
          val blob = "WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
            "Content-Length: 4\r\n\r\ninfo\r\n\r\n" +
            "WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: https://example.com/doc/$id\r\n" +
            s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\n" +
            http + "\r\n\r\n"
          (id, blob.getBytes("UTF-8"))
        }
        .toDF("doc_id", "warc")
        .transform(w => graft.ext.Warc.records(w, "doc_id", "warc"))
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("doc_id"), col("target_uri"), col("http_status"),
          graft.functions.HtmlText.html_text(decode(col("body"), "UTF-8"))
            .as("extracted"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, 'https://example.com/doc/' || doc_id AS target_uri,
                   200 AS http_status,
                   'Doc ' || doc_id || chr(10) || text AS extracted
            FROM documents ORDER BY doc_id"""),
    "WARC→HTTP→HTML→text ingestion certificate: ISO 28500 record " +
      "framing, HTTP body split, status parse, and tag stripping chained " +
      "in one query, hash-checked against the closed form")

  private val qWarcGzip = Q(
    "q_warc_gzip",
    (s, d) => {
      // The compression layers real crawls actually ship: every record its
      // own GZIP MEMBER (.warc.gz, the Common Crawl distribution layout),
      // response bodies CHUNKED (size lines + an extension + trailing
      // headers), and even docs additionally Content-Encoding: gzip under
      // the chunking. Warc.parse must unwind member framing → record
      // framing → chunk framing → content coding and recover the page
      // byte-exact; the oracle rebuilds the expected text in closed form,
      // so one leaked chunk-size line or trailer header breaks the hash.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) => (id, Plants.chunkedWarcGz(id, text)) }
        .toDF("doc_id", "warc")
        .transform(w => graft.ext.Warc.records(w, "doc_id", "warc"))
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("doc_id"), col("target_uri"), col("http_status"),
          graft.functions.HtmlText.html_text(decode(col("body"), "UTF-8"))
            .as("extracted"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, 'https://example.com/doc/' || doc_id AS target_uri,
                   200 AS http_status,
                   'Doc ' || doc_id || chr(10) || text AS extracted
            FROM documents ORDER BY doc_id"""),
    "gzip WARC ingestion certificate: per-record gzip members (.warc.gz " +
      "Common Crawl layout) wrapping chunked HTTP responses (extensions + " +
      "trailers) with gzip content-coding on even docs — member inflate, " +
      "de-chunk, content decode, and tag strip chained, hash-checked " +
      "against the closed form")

  private val qFlacStats = Q(
    "q_flac_stats",
    (s, d) => {
      // FLAC decode certificate, the q_wav_adpcm discipline: every doc's
      // sample trajectory is a CLOSED FORM the oracle replays with window
      // sums, and the subframe family rotates by doc_id % 4 — CONSTANT,
      // VERBATIM, FIXED order 2 (real rice residuals), LPC (coeff [2]
      // shift 1, the delta predictor). The encoder emits spec-conformant
      // bitstreams (FlacSpec pins it byte-identical to an independent
      // Python assembly), the pure decoder reads them back through rice/
      // zigzag/CRC machinery, and the stats must land exactly on the
      // oracle's arithmetic. Trajectories are bounded (|s| < 4k) so
      // nothing clips at bps 16 and the Long accumulators stay exact.
      import s.implicits._
      val n = 512
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val mode = (id % 4).toInt
          val s0 = ((id * 37) % 2048 - 1024).toInt
          val a0 = ((id % 512) - 256).toInt
          val b0 = ((id % 7) - 3).toInt
          val samples = new Array[Int](n)
          var i = 0
          while (i < n) {
            samples(i) = mode match {
              case 0 => s0
              case 1 => (((id * 31 + i * 17) % 4096) - 2048).toInt
              case 2 =>
                if (i == 0) a0
                else if (i == 1) a0 + b0
                else 2 * samples(i - 1) - samples(i - 2) +
                  (((id + i) % 5) - 2).toInt
              case _ =>
                if (i == 0) s0
                else samples(i - 1) + (((id + i) % 7) - 3).toInt
            }
            i += 1
          }
          val sub: graft.ext.Flac.Sub = mode match {
            case 0 => graft.ext.Flac.Constant
            case 1 => graft.ext.Flac.Verbatim
            case 2 => graft.ext.Flac.Fixed(2, 3)
            case _ => graft.ext.Flac.Lpc(Array(2), 1, 3, 3)
          }
          (id, graft.ext.Flac.encode(Array(samples), 8000, 16, 256, sub))
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.audioSampleStats(m).toDF())
        .orderBy("media_id")
    },
    Some("""WITH base AS (
              SELECT doc_id, doc_id % 4 AS mode,
                     (doc_id * 37) % 2048 - 1024 AS s0,
                     (doc_id % 512) - 256 AS a, (doc_id % 7) - 3 AS b
              FROM documents),
            idx AS (SELECT i FROM range(512) t(i)),
            r AS (
              SELECT doc_id, mode, s0, a, b, i,
                     CASE WHEN i >= 2 THEN ((doc_id + i) % 5) - 2
                          ELSE 0 END AS r2,
                     CASE WHEN i >= 1 THEN ((doc_id + i) % 7) - 3
                          ELSE 0 END AS dd
              FROM base CROSS JOIN idx),
            w AS (
              SELECT *, sum(r2) OVER (PARTITION BY doc_id ORDER BY i) AS w1,
                     sum(dd) OVER (PARTITION BY doc_id ORDER BY i) AS dsum
              FROM r),
            w2t AS (
              SELECT *, sum(w1) OVER (PARTITION BY doc_id ORDER BY i) AS w2
              FROM w),
            samp AS (
              SELECT doc_id,
                     CASE mode
                       WHEN 0 THEN s0
                       WHEN 1 THEN ((doc_id * 31 + i * 17) % 4096) - 2048
                       WHEN 2 THEN a + b * i + w2
                       ELSE s0 + dsum
                     END AS v
              FROM w2t)
            SELECT doc_id AS media_id, 8000 AS sample_rate, 1 AS channels,
                   16 AS bits, CAST(count(*) AS BIGINT) AS n_samples,
                   CAST(sum(v) AS BIGINT) AS sum_samples,
                   CAST(sum(v * v) AS BIGINT) AS sum_squares
            FROM samp GROUP BY doc_id ORDER BY media_id"""),
    "FLAC decode certificate: constant/verbatim/fixed-rice/LPC subframes " +
      "rotating per doc, every bitstream spec-conformant (CRC-8/16, " +
      "zigzag rice), decoded samples' stats land exactly on the oracle's " +
      "window-sum replay of the closed-form trajectories")

  private val qPdfExtract = Q(
    "q_pdf_extract",
    (s, d) => {
      // PDF text-extraction certificate (the q_html_extract pattern): each
      // doc becomes a complete single-page PDF — catalog/pages/font
      // objects, xref, trailer — whose content stream shows three lines
      // through the three string mechanisms (literal Tj with escaping, TJ
      // array with a −250 word-gap kern at a real space, hex string), and
      // even docs Flate-compress the stream. Every third doc stores its
      // letters rot13'd behind a /Differences encoding table (inline or
      // indirect /Encoding object, alternating) — the extractor recovers
      // the text IFF the table is resolved and applied; ignoring it
      // yields rot13 garbage, never a silent pass. A slip in stream
      // framing, zlib inflate, escape decode, hex decode, kern handling,
      // line-break operators, or the Differences walk breaks the hash.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val lines = Seq("Title " + id, text, "End mark " + (id % 5))
          val pdf = (id % 6).toInt match {
            case 0 | 4 => graft.ext.Pdf.buildSimple(lines, flate = id % 2 == 0)
            case 1 => graft.ext.Pdf.buildWithDifferences(lines,
              flate = id % 2 == 0, indirectEnc = false)
            case 3 => graft.ext.Pdf.buildWithDifferences(lines,
              flate = id % 2 == 0, indirectEnc = true)
            // Type0/Identity-H: two-byte CID codes through ToUnicode
            case 2 => graft.ext.Pdf.buildType0(lines, flate = id % 4 == 0)
            // PDF 1.5+ layout: font + encoding packed in an /ObjStm
            case _ =>
              graft.ext.Pdf.buildWithDifferencesObjStm(lines, flate = id % 2 == 0)
          }
          (id, pdf)
        }
        .toDF("doc_id", "pdf")
        .as[(Long, Array[Byte])]
        .map { case (id, pdf) =>
          (id, graft.ext.Pdf.extractText(pdf).getOrElse(""))
        }
        .toDF("doc_id", "extracted")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   'Title ' || doc_id || chr(10) || text || chr(10)
                     || 'End mark ' || (doc_id % 5) AS extracted
            FROM documents ORDER BY doc_id"""),
    "PDF text-extraction certificate: complete single-page PDFs " +
      "rotating six layouts — plain, rot13 /Differences (inline, " +
      "indirect, and packed in /ObjStm object streams), and " +
      "Type0/Identity-H CID fonts whose two-byte codes resolve only " +
      "through the ToUnicode CMap — showing text via literal/TJ-kern/" +
      "hex strings must round-trip the document text exactly through " +
      "the bounded-envelope extractor")

  private val qWebCurateEngine = Q(
    "q_web_curate_engine",
    (s, d) => {
      // The whole curation chain THROUGH THE ENGINE: WebCurate.spec is a
      // declared gasket pipeline (six Inline pipe stages — WARC.gz →
      // html_text → url_normalize → boilerplate → dedup → quality gate)
      // planned by engine/Engine.scala into ONE lazy Catalyst query. The
      // oracle replays every stage in closed form + the q_boilerplate
      // distinct-count CTE, so a slip in ANY stage — or in the engine's
      // segment planning around them — breaks the hash. orderedConcat is
      // opted out (single pipe segment: order parity is vacuous, and the
      // output is aggregated anyway). Near-dup fodder is PLANTED (the
      // q_dedup_incremental pattern — the raw table has no duplicate
      // texts): re-id'd copies of every %7 doc, served from a different
      // URL, must collapse onto the original via the CLEANED content
      // (their chrome differs — 10000 % 3 ≠ 0 shifts the copyright line —
      // so only post-boilerplate dedup can pair them).
      import s.implicits._
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val input = docs
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .transform(Plants.spread)
        .as[(Long, String)]
        .map { case (id, text) => (id, graft.ext.WebCurate.warcGzBlob(id, text)) }
        .toDF("doc_id", "warc")
      new graft.engine.Engine(graft.ext.WebCurate.spec())
        .run("web_curate", s, Some(input),
          graft.engine.RunOptions(orderedConcat = false))
        .orderBy("keep_id")
    },
    Some("""WITH batch AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000 AS doc_id, text FROM documents
              WHERE doc_id % 7 = 0),
            pages AS (
              SELECT doc_id, text || chr(10) || 'SHARED FOOTER' || chr(10)
                       || 'Copyright w' || (doc_id % 3) AS t
              FROM batch),
            raw AS (
              SELECT doc_id, unnest(list_transform(string_split(t, chr(10)),
                       (x, i) -> {'line': x, 'pos': i})) AS u
              FROM pages),
            lns AS (SELECT doc_id, u.line AS line, u.pos AS pos FROM raw),
            freq AS (
              SELECT line, count(DISTINCT doc_id) AS df FROM lns GROUP BY line),
            cleaned AS (
              SELECT l.doc_id,
                     string_agg(l.line, chr(10) ORDER BY l.pos) AS clean_text,
                     count(*) AS n_lines_kept
              FROM lns l JOIN freq f ON l.line = f.line
              WHERE f.df <= 10 GROUP BY l.doc_id),
            deduped AS (
              SELECT min(doc_id) AS keep_id,
                     CAST(count(*) AS BIGINT) AS n_copies,
                     clean_text, min(n_lines_kept) AS n_lines_kept
              FROM cleaned GROUP BY clean_text)
            SELECT keep_id, n_copies, md5(clean_text) AS fp, clean_text,
                   CAST(length(clean_text) AS BIGINT) AS n_chars,
                   'https://example.com/doc/' || keep_id || '?a=1&b=2'
                     AS canonical_url,
                   'example.com' AS domain
            FROM deduped
            WHERE length(clean_text) >= 10 AND n_lines_kept >= 1
            ORDER BY keep_id"""),
    "end-to-end web curation THROUGH the gasket engine: a declared " +
      "six-stage pipeline (WARC.gz ingest → HTML text → URL canon → " +
      "line-frequency boilerplate → content dedup → quality gate) " +
      "planned as one lazy query, hash-checked against a full closed-" +
      "form replay of every stage")

  /** The MP4 certificates' boxes, each assembled with the codec's own
    * [[graft.ext.Mp4.box]] writer — the grammar [[graft.ext.Mp4]] walks.
    */
  private[ops] object Mp4Build {
    import graft.ext.Bytes.{be16Of, be32Of, putBe32}
    import graft.ext.Mp4.box
    val full0: Array[Byte] = Array(0, 0, 0, 0) // version 0 + zero flags
    def ftyp(brand: String): Array[Byte] =
      box("ftyp", brand.getBytes("US-ASCII"), be32Of(0))
    def mvhd(timescale: Long, duration: Long): Array[Byte] = {
      val p = new Array[Byte](100) // v0 payload: times/scale/dur + rate/vol/matrix/next
      putBe32(p, 12, timescale)
      putBe32(p, 16, duration)
      putBe32(p, 20, 0x00010000L) // rate 1.0
      p(96) = 0; p(97) = 0; p(98) = 0; p(99) = 3 // next_track_id
      box("mvhd", p)
    }
    def tkhd(trackId: Long, w: Int, h: Int): Array[Byte] = {
      val p = new Array[Byte](84)
      p(3) = 7 // flags: enabled | in-movie | in-preview
      putBe32(p, 12, trackId)
      // unity matrix at offset 40 (after reserved/layer/volume block)
      putBe32(p, 40, 0x00010000L)
      putBe32(p, 56, 0x00010000L)
      putBe32(p, 72, 0x40000000L)
      putBe32(p, 76, w.toLong << 16)
      putBe32(p, 80, h.toLong << 16)
      box("tkhd", p)
    }
    def mdhd(timescale: Long, duration: Long): Array[Byte] = {
      val p = new Array[Byte](24)
      putBe32(p, 12, timescale)
      putBe32(p, 16, duration)
      p(20) = 0x55; p(21) = 0xC4.toByte // language "und"
      box("mdhd", p)
    }
    def hdlr(handler: String): Array[Byte] =
      box("hdlr", full0, be32Of(0), handler.getBytes("US-ASCII"),
        new Array[Byte](12), Array[Byte](0))
    def stsd(codec: String): Array[Byte] =
      // one bare 16-byte SampleEntry: size + format 4cc + 6 reserved + dri
      box("stsd", full0, be32Of(1),
        be32Of(16), codec.getBytes("US-ASCII"), new Array[Byte](6), be16Of(1))
    def stts(n: Long, delta: Long): Array[Byte] =
      box("stts", full0, be32Of(1), be32Of(n), be32Of(delta))
    def stszUniform(size: Long, n: Long): Array[Byte] =
      box("stsz", full0, be32Of(size), be32Of(n))
    def stszSizes(sizes: Seq[Int]): Array[Byte] =
      box("stsz", full0 ++ be32Of(0) ++ be32Of(sizes.length) ++
        sizes.flatMap(sz => be32Of(sz)).toArray)
    def stsc(samplesPerChunk: Long): Array[Byte] =
      box("stsc", full0, be32Of(1), be32Of(1), be32Of(samplesPerChunk), be32Of(1))
    def stco(offsets: Seq[Long]): Array[Byte] =
      box("stco", full0 ++ be32Of(offsets.length) ++
        offsets.flatMap(o => be32Of(o)).toArray)
    def trak(tkhdBox: Array[Byte], mdhdBox: Array[Byte], hdlrBox: Array[Byte],
        stblParts: Array[Byte]*): Array[Byte] =
      box("trak", tkhdBox,
        box("mdia", mdhdBox, hdlrBox, box("minf", box("stbl", stblParts: _*))))
  }

  private val qMp4Meta = Q(
    "q_mp4_meta",
    (s, d) => {
      // ISO-BMFF metadata-triage certificate: per doc, a two-track MP4
      // (video 'jpeg' + audio 'mp4a') whose every stbl/mvhd/mdhd number
      // is a closed form of doc_id, assembled with the public box
      // grammar and read back through the real container walk
      // (Mp4.parse via Multimodal.mp4Meta). Any slip in box-size
      // accounting, fullbox versioning, 16.16 fixed dimensions, or
      // stts/stsz totals breaks the hash.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          import Mp4Build._
          import graft.ext.Mp4.box
          val w = (320 + (id % 16) * 16).toInt
          val h = (240 + (id % 9) * 16).toInt
          val nV = 25 + id % 100
          val szV = 500 + id % 250
          val nA = 100 + id % 50
          val szA = 200 + id % 100
          val moov = box("moov",
            mvhd(1000, 30000 + (id % 100) * 40),
            trak(tkhd(1, w, h), mdhd(90000, nV * 3600), hdlr("vide"),
              stsd("jpeg"), stts(nV, 3600), stszUniform(szV, nV)),
            trak(tkhd(2, 0, 0), mdhd(48000, nA * 960), hdlr("soun"),
              stsd("mp4a"), stts(nA, 960), stszUniform(szA, nA)))
          (id, ftyp("isom") ++ moov)
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.mp4Meta(m).toDF())
        .orderBy("media_id", "track_id")
    },
    Some("""SELECT doc_id AS media_id, 'isom' AS brand,
                   CAST(1000 AS BIGINT) AS timescale,
                   CAST(30000 + (doc_id % 100) * 40 AS BIGINT) AS duration_ms,
                   CAST(t.track_id AS BIGINT) AS track_id,
                   CASE t.track_id WHEN 1 THEN 'vide' ELSE 'soun' END AS handler,
                   CASE t.track_id WHEN 1 THEN 'jpeg' ELSE 'mp4a' END AS codec,
                   CASE t.track_id WHEN 1 THEN CAST(320 + (doc_id % 16) * 16 AS INT)
                        ELSE 0 END AS width,
                   CASE t.track_id WHEN 1 THEN CAST(240 + (doc_id % 9) * 16 AS INT)
                        ELSE 0 END AS height,
                   CAST(CASE t.track_id WHEN 1 THEN 90000 ELSE 48000 END
                        AS BIGINT) AS track_timescale,
                   CAST(CASE t.track_id WHEN 1 THEN (25 + doc_id % 100) * 40
                        ELSE (100 + doc_id % 50) * 20 END
                        AS BIGINT) AS track_duration_ms,
                   CAST(CASE t.track_id WHEN 1 THEN 25 + doc_id % 100
                        ELSE 100 + doc_id % 50 END AS BIGINT) AS n_samples,
                   CAST(CASE t.track_id
                        WHEN 1 THEN (25 + doc_id % 100) * (500 + doc_id % 250)
                        ELSE (100 + doc_id % 50) * (200 + doc_id % 100) END
                        AS BIGINT) AS total_bytes
            FROM documents CROSS JOIN (VALUES (1), (2)) AS t(track_id)
            ORDER BY media_id, track_id"""),
    "MP4/ISO-BMFF metadata certificate: two-track container assembled " +
      "from the public box grammar, read back through the pure byte " +
      "walk — brand, durations, 16.16 dimensions, codec 4ccs, and " +
      "stts/stsz totals all hash-checked against closed forms")

  private val qMp4Frames = Q(
    "q_mp4_frames",
    (s, d) => {
      // MP4/MJPEG frame-sampling certificate, the q_avi_frames twin on
      // the ISO-BMFF layout: six JDK-encoded solid-block JPEGs in an
      // mdat, a real stbl (per-sample stsz sizes, one stsc run, stco
      // into the mdat), sampled at stride 2 through the stsc x stco x
      // stsz random-access map and decoded by the pure JPEG codec. The
      // decoded pixel sums must land on direct arithmetic — an
      // off-by-one anywhere in the sample-offset resolution reads JPEG
      // bytes at the wrong offset and fails loudly.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .mapPartitions { ids =>
          val jpeg = new Plants.JpegWriter()
          ids.map { id =>
            import Mp4Build._
            import graft.ext.Mp4.box
            val jpgs = (0 until 6).map { f =>
              jpeg.encode(
                Plants.grayBlocks(b => ((id * 11 + 17 + 23 * b + 7 * f) % 256).toInt))
            }
            val mdat = box("mdat", jpgs: _*)
            val header = ftyp("isom")
            val moov = box("moov",
              mvhd(1000, 240),
              trak(tkhd(1, 16, 16), mdhd(90000, 6 * 3600), hdlr("vide"),
                stsd("jpeg"), stts(6, 3600), stszSizes(jpgs.map(_.length)),
                stsc(6), stco(Seq(header.length + 8L))))
            (id, header ++ mdat ++ moov)
          }
        }
        .toDF("media_id", "payload")
        .transform(Plants.framePixelSums)
        .orderBy("media_id", "frame_no")
    },
    Some("""SELECT doc_id AS media_id, f AS frame_no, 16 AS width,
                   16 AS height,
                   CAST(192 * (((doc_id * 11 + 17 + 7 * f) % 256)
                             + ((doc_id * 11 + 17 + 23 + 7 * f) % 256)
                             + ((doc_id * 11 + 17 + 46 + 7 * f) % 256)
                             + ((doc_id * 11 + 17 + 69 + 7 * f) % 256))
                        AS BIGINT) AS pixel_sum
            FROM documents CROSS JOIN (VALUES (0), (2), (4)) AS t(f)
            ORDER BY media_id, frame_no"""),
    "MP4/MJPEG frame-sampling certificate: ISO-BMFF container with a " +
      "real sample table, stride-2 walk through the stsc/stco/stsz " +
      "random-access map, pure-codec JPEG decode, every sampled frame " +
      "hash-checked against direct arithmetic")

  private val qMp3Meta = Q(
    "q_mp3_meta",
    (s, d) => {
      // MPEG audio triage certificate: three header families rotate by
      // doc_id % 3 — MPEG1 Layer III 44.1k CBR stereo behind an ID3v2
      // prefix of doc-dependent syncsafe length; MPEG2 Layer III 22.05k
      // CBR mono with an ID3v1 'TAG' trailer the scan must stop at; and
      // an MPEG1/32k VBR stream whose frames alternate 160/112 kbps with
      // a Xing tag in frame 0 declaring the frame count. Frame lengths
      // follow the public ISO formula, so every field the scan reports
      // (version, rate, channels, average bitrate, frame count, floor
      // duration, VBR flag) is a closed form of doc_id.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val mode = (id % 3).toInt
          val out = new java.io.ByteArrayOutputStream()
          def frame(b1: Int, b2: Int, b3: Int, len: Int,
              tag: Option[(String, Long)]): Unit = {
            val f = new Array[Byte](len)
            f(0) = 0xFF.toByte; f(1) = b1.toByte; f(2) = b2.toByte; f(3) = b3.toByte
            tag.foreach { case (magic, n) =>
              // Xing after MPEG1-stereo side info (32 bytes)
              val x = 4 + 32
              System.arraycopy(magic.getBytes("US-ASCII"), 0, f, x, 4)
              f(x + 7) = 1 // flags: frames present
              Bytes.putBe32(f, x + 8, n)
            }
            out.write(f)
          }
          mode match {
            case 0 =>
              val pad = (id % 64).toInt
              out.write("ID3".getBytes("US-ASCII"))
              out.write(Array[Byte](3, 0, 0))
              out.write(Array[Byte](0, 0, ((pad >> 7) & 0x7F).toByte, (pad & 0x7F).toByte))
              out.write(new Array[Byte](pad))
              val n = (20 + id % 30).toInt
              var i = 0
              while (i < n) { frame(0xFB, 0x90, 0x00, 417, None); i += 1 }
            case 1 =>
              val n = (15 + id % 20).toInt
              var i = 0
              while (i < n) { frame(0xF3, 0x80, 0xC0, 208, None); i += 1 }
              out.write("TAG".getBytes("US-ASCII"))
              out.write(new Array[Byte](125))
            case _ =>
              val n = (2 * (10 + id % 15)).toInt
              var i = 0
              while (i < n) {
                if (i % 2 == 0)
                  frame(0xFB, 0xA8, 0x00, 720,
                    if (i == 0) Some(("Xing", n.toLong)) else None)
                else frame(0xFB, 0x88, 0x00, 504, None)
                i += 1
              }
          }
          (id, out.toByteArray)
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.mpegMeta(m).toDF())
        .orderBy("media_id")
    },
    Some("""WITH base AS (
              SELECT doc_id, doc_id % 3 AS mode,
                     CASE doc_id % 3
                       WHEN 0 THEN 20 + doc_id % 30
                       WHEN 1 THEN 15 + doc_id % 20
                       ELSE 2 * (10 + doc_id % 15) END AS n
              FROM documents)
            SELECT doc_id AS media_id,
                   CASE mode WHEN 1 THEN '2' ELSE '1' END AS version,
                   3 AS layer,
                   CASE mode WHEN 0 THEN 44100 WHEN 1 THEN 22050
                        ELSE 32000 END AS sample_rate,
                   CASE mode WHEN 1 THEN 1 ELSE 2 END AS channels,
                   CASE mode WHEN 0 THEN 128 WHEN 1 THEN 64
                        ELSE 136 END AS bitrate_kbps,
                   CAST(n AS BIGINT) AS n_frames,
                   CAST(CASE mode
                     WHEN 0 THEN (n * 1152 * 1000) // 44100
                     WHEN 1 THEN (n * 576 * 1000) // 22050
                     ELSE n * 36 END AS BIGINT) AS duration_ms,
                   CASE mode WHEN 2 THEN 1 ELSE 0 END AS is_vbr
            FROM base ORDER BY media_id"""),
    "MPEG audio metadata certificate: ID3v2-prefixed CBR, ID3v1-" +
      "terminated MPEG2 mono, and Xing-tagged VBR streams assembled " +
      "from the public header tables, scanned back frame by frame — " +
      "average bitrate, frame counts, floor durations and the VBR flag " +
      "all hash-checked against closed forms")

  private val qOggMeta = Q(
    "q_ogg_meta",
    (s, d) => {
      // Ogg triage certificate: even docs carry a three-page Vorbis
      // stream (BOS id header, data page, EOS page whose granule encodes
      // a closed-form PCM duration), odd docs an Opus stream (OpusHead
      // with pre-skip 312, final granule = 48·ms + 312 per RFC 7845).
      // Every page gets a REAL Ogg CRC from the shared generator — a
      // parser-side CRC slip discards pages and breaks the hash.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val durMs = (10 + id % 90) * 100
          def le(v: Long, n: Int): Array[Byte] =
            Array.tabulate(n)(k => ((v >>> (8 * k)) & 0xFF).toByte)
          val (idPacket, granule) =
            if (id % 2 == 0) {
              val channels = 1 + ((id / 2) % 2).toInt
              val rate = 8000 * (1 + id % 5)
              val pkt = Array[Byte](1, 'v', 'o', 'r', 'b', 'i', 's') ++
                le(0, 4) ++ Array(channels.toByte) ++ le(rate, 4) ++
                new Array[Byte](12) ++ Array[Byte](0xB8.toByte, 1)
              (pkt, rate * durMs / 1000L)
            } else {
              val pkt = "OpusHead".getBytes("US-ASCII") ++
                Array[Byte](1, 2) ++ le(312, 2) ++ le(48000, 4) ++
                le(0, 2) ++ Array[Byte](0)
              (pkt, 48L * durMs + 312)
            }
          val serial = id
          val bytes =
            graft.ext.Ogg.page(2, 0L, serial, 0, idPacket) ++
            graft.ext.Ogg.page(0, granule / 2, serial, 1, new Array[Byte](100)) ++
            graft.ext.Ogg.page(4, granule, serial, 2, new Array[Byte](50))
          (id, bytes)
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.oggMeta(m).toDF())
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CASE doc_id % 2 WHEN 0 THEN 'vorbis' ELSE 'opus' END AS codec,
                   CASE doc_id % 2 WHEN 0 THEN CAST(1 + (doc_id // 2) % 2 AS INT)
                        ELSE 2 END AS channels,
                   CASE doc_id % 2 WHEN 0 THEN CAST(8000 * (1 + doc_id % 5) AS INT)
                        ELSE 48000 END AS sample_rate,
                   CAST(3 AS BIGINT) AS n_pages,
                   CAST((10 + doc_id % 90) * 100 AS BIGINT) AS duration_ms
            FROM documents ORDER BY media_id"""),
    "Ogg container certificate: CRC-correct Vorbis and Opus streams " +
      "assembled page by page, read back through the verified page " +
      "walk — codec id, channels, rates, page counts and granule " +
      "durations (incl. Opus pre-skip) hash-checked against closed forms")

  private val qLmBackoff = Q(
    "q_lm_backoff",
    (s, d) => {
      // Stupid-backoff LM certificate: counts train on the %3!=0 slice,
      // ALL docs are scored — held-out docs exercise the trigram-miss
      // and bigram-miss arms naturally, and a planted doc-unique token
      // (' zz<id>q', the q_dedup_incremental planting pattern) forces
      // the out-of-vocabulary floor. Coverage counters are exact
      // integers; surprisal follows the q_lm_score quantization.
      val docs = documents(s, d).select("doc_id", "text")
      val score = docs.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" zz"), col("doc_id"), lit("q")))
          .otherwise(col("text")))
      val train = docs.filter(col("doc_id") % 3 =!= 0)
      TextAnalysis.lmScoreBackoff(score, train, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH score0 AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN text || ' zz' || doc_id || 'q'
                          ELSE text END AS text
              FROM documents),
            tarr AS (
              SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
              FROM documents WHERE doc_id % 3 <> 0),
            ttok AS (
              SELECT doc_id, unnest(arr) AS w,
                     generate_subscripts(arr, 1) AS i, arr
              FROM tarr),
            ttok2 AS (
              SELECT doc_id, w,
                     CASE WHEN i >= 2 THEN arr[i - 1] END AS w1,
                     CASE WHEN i >= 3 THEN arr[i - 2] END AS w2
              FROM ttok),
            uni AS (SELECT w, count(*) AS cw FROM ttok2 GROUP BY w),
            tot AS (SELECT count(*) AS n FROM ttok2),
            bi AS (SELECT w1, w, count(*) AS cb FROM ttok2
                   WHERE w1 IS NOT NULL GROUP BY w1, w),
            tri AS (SELECT w2, w1, w, count(*) AS ct FROM ttok2
                    WHERE w2 IS NOT NULL GROUP BY w2, w1, w),
            sarr AS (
              SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
              FROM score0),
            stok AS (
              SELECT doc_id, unnest(arr) AS w,
                     generate_subscripts(arr, 1) AS i, arr
              FROM sarr),
            stok2 AS (
              SELECT doc_id, w,
                     CASE WHEN i >= 2 THEN arr[i - 1] END AS w1,
                     CASE WHEN i >= 3 THEN arr[i - 2] END AS w2
              FROM stok),
            j AS (
              SELECT s.doc_id, s.w, s.w1, s.w2, t.ct, b.cb,
                     bc.cb AS cbctx, u1.cw AS cw1, u.cw, tot.n
              FROM stok2 s
              LEFT JOIN tri t ON s.w2 = t.w2 AND s.w1 = t.w1 AND s.w = t.w
              LEFT JOIN bi b ON s.w1 = b.w1 AND s.w = b.w
              LEFT JOIN bi bc ON s.w2 = bc.w1 AND s.w1 = bc.w
              LEFT JOIN uni u1 ON s.w1 = u1.w
              LEFT JOIN uni u ON s.w = u.w
              CROSS JOIN tot),
            sc AS (
              SELECT doc_id, ct, w1, cb,
                CASE
                  WHEN w1 IS NULL THEN (COALESCE(cw, 0) + 1.0) / (n + 1.0)
                  WHEN w2 IS NULL THEN
                    CASE WHEN cb IS NOT NULL THEN CAST(cb AS DOUBLE) / cw1
                         ELSE 0.4 * (COALESCE(cw, 0) + 1.0) / (n + 1.0) END
                  ELSE
                    CASE WHEN ct IS NOT NULL THEN CAST(ct AS DOUBLE) / cbctx
                         WHEN cb IS NOT NULL THEN 0.4 * CAST(cb AS DOUBLE) / cw1
                         ELSE 0.16 * (COALESCE(cw, 0) + 1.0) / (n + 1.0) END
                END AS s
              FROM j)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                   CAST(count(ct) AS BIGINT) AS tri_hits,
                   CAST(count(CASE WHEN w1 IS NOT NULL THEN cb END) AS BIGINT)
                     AS bi_hits,
                   round(CAST(CAST(sum(CAST(round(-ln(s), 6) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / count(*), 4) AS avg_nll
            FROM sc GROUP BY doc_id ORDER BY doc_id"""),
    "stupid-backoff n-gram LM (Brants et al. 2007): distributed count " +
      "tables + three keyed joins, trigram→bigram→add-one-unigram " +
      "chain with the published α=0.4, coverage counters exact and " +
      "surprisal quantized — the CCNet-style corpus quality gate, " +
      "hash-checked against a full SQL replay")

  private val qExifMeta = Q(
    "q_exif_meta",
    (s, d) => {
      // EXIF certificate, both directions: per doc a real 16x16 JPEG
      // (solid-block exact roundtrip, the q_mp4_frames discipline) gets
      // a hand-assembled little-endian TIFF APP1 — Make via the offset
      // heap, inline SHORT orientation, DateTime string, an Exif sub-IFD
      // with pixel dimensions, and a GPS IFD pointer on even docs. The
      // metadata walk must recover every closed-form field, and the
      // strip pass must remove the segment (meta → None) while the
      // decoded pixel sum stays exactly on direct arithmetic.
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .mapPartitions { ids =>
          val jpeg = new Plants.JpegWriter()
          ids.map { id =>
            val jpg = jpeg.encode(
              Plants.grayBlocks(b => ((id * 13 + 29 + 17 * b) % 256).toInt))
            (id, graft.ext.Exif.withApp1(jpg, Plants.exifMetaTiff(id)))
          }
        }
        .toDF("media_id", "payload")
      val metaDf = graft.ext.Multimodal.exifMeta(media).toDF()
      val post = graft.ext.Multimodal.stripExif(media)
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          val img = graft.ext.Jpeg.decode(b).getOrElse(
            throw new IllegalStateException(s"stripped decode failed for $id"))
          var sum = 0L
          img.pixels.foreach(v => sum += (v & 0xFF))
          (id, sum, if (graft.ext.Exif.meta(b).isEmpty) 0 else 1)
        }
        .toDF("media_id", "pixel_sum", "exif_after_strip")
      metaDf.join(post, "media_id").orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   'Cam' || (doc_id % 10) AS make, '' AS model,
                   CAST(1 + doc_id % 8 AS INT) AS orientation,
                   '2026:01:15 10:0' || (doc_id % 10) || ':00' AS datetime,
                   16 AS exif_width, 16 AS exif_height,
                   CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS has_gps,
                   CAST(192 * (((doc_id * 13 + 29) % 256)
                             + ((doc_id * 13 + 46) % 256)
                             + ((doc_id * 13 + 63) % 256)
                             + ((doc_id * 13 + 80) % 256))
                        AS BIGINT) AS pixel_sum,
                   0 AS exif_after_strip
            FROM documents ORDER BY media_id"""),
    "EXIF certificate, read and redact: hand-assembled TIFF APP1 " +
      "(offset-heap strings, inline SHORT, Exif sub-IFD, GPS pointer) " +
      "parsed back field-exact, then stripped — metadata gone, decoded " +
      "pixels still exactly on direct arithmetic")

  private val qDocxExtract = Q(
    "q_docx_extract",
    (s, d) => {
      // DOCX certificate (the q_pdf_extract pattern): each doc becomes a
      // three-member ZIP — content types (stored), rels (deflated), and
      // word/document.xml (deflated on even docs, stored on odd) whose
      // WordprocessingML body carries the doc text escaped in a
      // space-preserving run plus a paragraph of named/decimal/hex
      // entities, a tab and a line break. The walk reads the central
      // directory, inflates and CRC-checks the member, and the text
      // layer must land exactly on the oracle's closed form.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val esc = text.replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          val xml =
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
              "<w:document xmlns:w=\"http://schemas.openxmlformats.org/" +
              "wordprocessingml/2006/main\"><w:body>" +
              s"<w:p><w:r><w:t>Doc &amp; $id</w:t></w:r></w:p>" +
              "<w:p><w:r><w:rPr><w:b/></w:rPr>" +
              s"""<w:t xml:space="preserve">$esc</w:t></w:r></w:p>""" +
              "<w:p><w:r><w:t>&lt;A&gt; &#169; &#x41;</w:t><w:tab/>" +
              "<w:t>T</w:t><w:br/><w:t>B</w:t></w:r></w:p>" +
              "</w:body></w:document>"
          val zip = graft.ext.Zip.build(Seq(
            ("[Content_Types].xml",
              "<Types xmlns=\"urn:ct\"><Default/></Types>".getBytes("UTF-8"), false),
            ("word/_rels/document.xml.rels",
              "<Relationships/>".getBytes("UTF-8"), true),
            ("word/document.xml", xml.getBytes("UTF-8"), id % 2 == 0)))
          val extracted = graft.ext.Office.docxText(zip).getOrElse("")
          val xmlEntry = graft.ext.Zip.entries(zip)
            .find(_.name == "word/document.xml").get
          (id, graft.ext.Zip.entries(zip).length, xmlEntry.method,
            extracted, extracted.length.toLong)
        }
        .toDF("doc_id", "n_entries", "xml_method", "extracted", "n_chars")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, 3 AS n_entries,
                   CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 0 END AS xml_method,
                   'Doc & ' || doc_id || chr(10) || text || chr(10) ||
                     '<A> ' || chr(169) || ' A' || chr(9) || 'T' || chr(10) ||
                     'B' || chr(10) AS extracted,
                   CAST(length('Doc & ' || doc_id || chr(10) || text ||
                     chr(10) || '<A> ' || chr(169) || ' A' || chr(9) ||
                     'T' || chr(10) || 'B' || chr(10)) AS BIGINT) AS n_chars
            FROM documents ORDER BY doc_id"""),
    "DOCX text-extraction certificate: real ZIP walk (central directory " +
      "authority, raw-deflate inflate, CRC verify) into the " +
      "WordprocessingML text layer — runs, space preservation, " +
      "entities, tabs, breaks and paragraph newlines all hash-checked " +
      "against the closed form")

  private val qWebmMeta = Q(
    "q_webm_meta",
    (s, d) => {
      // WebM/EBML triage certificate: per doc a two-track Matroska tree
      // (VP9 video + Opus audio) assembled from raw EBML varints —
      // header DocType, Info with explicit TimecodeScale and a float
      // Duration (whole-ms values, exact in f32), TrackEntries with
      // Video/Audio sub-elements. The varint walk must recover every
      // closed-form field; a slip in id/size decoding or the
      // timecode-scale arithmetic breaks the hash.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          import graft.ext.Webm.{el, floatB, uintB}
          val durMs = (10 + id % 90) * 100
          val w = (320 + (id % 16) * 16).toInt
          val h = (240 + (id % 9) * 16).toInt
          val header = el(0x1A45DFA3L, el(0x4282L, "webm".getBytes("US-ASCII")))
          val info = el(0x1549A966L,
            el(0x2AD7B1L, uintB(1000000L)),
            el(0x4489L, floatB(durMs.toFloat)))
          val video = el(0xAEL, el(0xD7L, uintB(1)), el(0x83L, uintB(1)),
            el(0x86L, "V_VP9".getBytes("US-ASCII")),
            el(0xE0L, el(0xB0L, uintB(w)), el(0xBAL, uintB(h))))
          val audio = el(0xAEL, el(0xD7L, uintB(2)), el(0x83L, uintB(2)),
            el(0x86L, "A_OPUS".getBytes("US-ASCII")),
            el(0xE1L, el(0xB5L, floatB(48000f)), el(0x9FL, uintB(2))))
          (id, header ++ el(0x18538067L, info, el(0x1654AE6BL, video, audio)))
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.webmMeta(m).toDF())
        .orderBy("media_id", "track_number")
    },
    Some("""SELECT doc_id AS media_id, 'webm' AS doc_type,
                   CAST((10 + doc_id % 90) * 100 AS BIGINT) AS duration_ms,
                   CAST(t.tn AS BIGINT) AS track_number,
                   CAST(t.tn AS INT) AS track_type,
                   CASE t.tn WHEN 1 THEN 'V_VP9' ELSE 'A_OPUS' END AS codec,
                   CASE t.tn WHEN 1 THEN CAST(320 + (doc_id % 16) * 16 AS INT)
                        ELSE 0 END AS width,
                   CASE t.tn WHEN 1 THEN CAST(240 + (doc_id % 9) * 16 AS INT)
                        ELSE 0 END AS height,
                   CASE t.tn WHEN 1 THEN 0 ELSE 48000 END AS sample_rate,
                   CASE t.tn WHEN 1 THEN 0 ELSE 2 END AS channels
            FROM documents CROSS JOIN (VALUES (1), (2)) AS t(tn)
            ORDER BY media_id, track_number"""),
    "WebM/Matroska certificate: raw-EBML two-track tree (VP9 + Opus) " +
      "read back through the varint walk — DocType, timecode-scaled " +
      "float duration, codec ids, dimensions and audio parameters all " +
      "hash-checked against closed forms")

  private val qMediaCurateEngine = Q(
    "q_media_curate_engine",
    (s, d) => {
      // Image curation THROUGH THE ENGINE (the q_web_curate_engine twin
      // on binary media): MediaCurate.spec — EXIF strip → fingerprint →
      // metadata-robust dedup → dimension gate — planned by the engine
      // as one lazy query. Duplicates are PLANTED the way real crawls
      // make them: pixel content depends on doc_id % 250 only, while
      // every copy carries DIFFERENT Exif (make, orientation, GPS on
      // evens), so byte-dedup before stripping pairs nothing and the
      // pipeline's strip-then-fingerprint order is what the oracle's
      // group counts certify. (JPEG encode is deterministic for equal
      // pixels, so post-strip copies are byte-identical.)
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long]
        .transform(Plants.spread)
        .mapPartitions { ids =>
          val jpeg = new Plants.JpegWriter()
          ids.map { id =>
            val gid = id % 250
            val jpg = jpeg.encode(
              Plants.grayBlocks(b => ((gid * 3 + 37 + 19 * b) % 256).toInt))
            // per-COPY Exif: same pixels, different metadata
            (id, graft.ext.Exif.withApp1(jpg, Plants.copyExifTiff(id)))
          }
        }
        .toDF("media_id", "payload")
      new graft.engine.Engine(graft.ext.MediaCurate.spec())
        .run("media_curate", s, Some(media),
          graft.engine.RunOptions(orderedConcat = false))
        .orderBy("keep_id")
    },
    Some("""WITH g AS (
              SELECT doc_id % 250 AS gid, min(doc_id) AS keep_id,
                     count(*) AS n_copies
              FROM documents GROUP BY doc_id % 250)
            SELECT keep_id, n_copies, 16 AS width, 16 AS height,
                   CAST(192 * (((gid * 3 + 37) % 256)
                             + ((gid * 3 + 56) % 256)
                             + ((gid * 3 + 75) % 256)
                             + ((gid * 3 + 94) % 256))
                        AS BIGINT) AS pixel_sum,
                   0 AS exif_after
            FROM g ORDER BY keep_id"""),
    "image curation THROUGH the gasket engine: EXIF redaction → md5 " +
      "fingerprint → metadata-robust exact dedup → dimension gate as a " +
      "declared four-stage pipeline; planted re-tagged duplicates " +
      "(same pixels, different Exif/GPS) collapse only because strip " +
      "precedes fingerprint — group counts and decoded pixel sums " +
      "hash-checked against closed forms")

  private val qCurateDispatch = Q(
    "q_curate_dispatch",
    (s, d) => {
      // Mixed-format curation THROUGH THE ENGINE over one UNTYPED blob
      // column — the realistic landing where format is not known per
      // row: thirteen payload families rotate by doc_id % 13 (PNG, WebP
      // lossless, an MPEG1-L3 frame chain, DOCX, PDF, plain text that
      // must sniff unknown and be dropped by the gate, HEIC, AVIF, the
      // text-doc formats, and a one-keyframe WebM for the video arm).
      // The sniff names each family, the per-format arms recover dims /
      // duration / text, and every emitted value is a closed form of
      // doc_id — a misrouted payload lands in the wrong arm and breaks
      // the hash.
      import s.implicits._
      val media = documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          (id, dispatchPayload(id, text))
        }
        .toDF("media_id", "payload")
      new graft.engine.Engine(graft.ext.CurateDispatch.spec())
        .run("curate_dispatch", s, Some(media),
          graft.engine.RunOptions(orderedConcat = false))
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CASE doc_id % 13 WHEN 0 THEN 'png' WHEN 1 THEN 'webp'
                        WHEN 2 THEN 'mpeg_audio' WHEN 3 THEN 'zip'
                        WHEN 4 THEN 'pdf' WHEN 6 THEN 'heic'
                        WHEN 7 THEN 'avif' WHEN 8 THEN 'epub'
                        WHEN 9 THEN 'rtf' WHEN 10 THEN 'eml'
                        WHEN 12 THEN 'webm'
                        ELSE 'mbox' END AS format,
                   CASE WHEN doc_id % 13 = 2 THEN 'audio'
                        WHEN doc_id % 13 = 12 THEN 'video'
                        WHEN doc_id % 13 IN (3, 4, 8, 9, 10, 11) THEN 'doc'
                        ELSE 'image' END AS kind,
                   CAST(CASE doc_id % 13 WHEN 0 THEN 8 + doc_id % 16
                        WHEN 1 THEN 1 + doc_id % 3000
                        WHEN 6 THEN 640 + doc_id % 2000
                        WHEN 7 THEN 320 + doc_id % 1000
                        WHEN 12 THEN 16 + doc_id % 24
                        ELSE 0 END AS INT) AS width,
                   CAST(CASE doc_id % 13 WHEN 0 THEN 8 + doc_id % 8
                        WHEN 1 THEN 1 + doc_id % 2000
                        WHEN 6 THEN 480 + doc_id % 1000
                        WHEN 7 THEN 240 + doc_id % 500
                        WHEN 12 THEN 12 + doc_id % 16
                        ELSE 0 END AS INT) AS height,
                   CAST(CASE doc_id % 13
                        WHEN 2 THEN ((20 + doc_id % 30) * 1152 * 1000) // 44100
                        WHEN 12 THEN 33
                        ELSE 0 END AS BIGINT) AS duration_ms,
                   CASE doc_id % 13 WHEN 3 THEN text || chr(10)
                        WHEN 0 THEN '' WHEN 1 THEN '' WHEN 2 THEN ''
                        WHEN 6 THEN '' WHEN 7 THEN '' WHEN 12 THEN ''
                        ELSE text END AS text
            FROM documents WHERE doc_id % 13 <> 5 ORDER BY media_id"""),
    "mixed-format curation through the sniff dispatcher AS an engine " +
      "pipeline: thirteen untyped payload families routed to per-format " +
      "arms (PNG/WebP dims, HEIF/AVIF ipma dims, MPEG duration, " +
      "DOCX/PDF text, WebM video thumbnails), unknowns gated out — " +
      "every value a closed form of doc_id")

  /** The thirteen rotating payload families behind q_curate_dispatch
    * and its streaming twin — every emitted curation value is a closed
    * form of doc_id/text so a misrouted payload breaks the hash: PNG,
    * WebP lossless, an MPEG1-L3 frame chain, DOCX, PDF, plain text
    * (sniffs unknown, gate-dropped), HEIC, AVIF, the round-12b text-doc
    * formats EPUB, RTF, EML, mbox, and (round 16) a one-keyframe WebM
    * whose VIDEO arm dims come from the decoded VP8 keyframe.
    */
  private def dispatchPayload(id: Long, text: String): Array[Byte] =
    (id % 13).toInt match {
      case 12 => // round 16: one-keyframe WebM (VP8) — the video family
        val w = (16 + id % 24).toInt
        val h = (12 + id % 16).toInt
        val px = Array.tabulate(w * h * 3)(i => ((id * 13 + i * 7) % 256).toByte)
        graft.ext.Webm.wrapWebpLossy(graft.ext.Vp8Enc.encode(
            graft.ext.Png.Image(w, h, 3, px), 8, 3))
          .getOrElse(sys.error(s"dispatch webm build failed for $id"))
      case 0 =>
        val w = (8 + id % 16).toInt
        val h = (8 + id % 8).toInt
        graft.ext.Png.encode(graft.ext.Png.Image(w, h, 1,
          Array.fill(w * h)((id % 251).toByte)))
      case 1 =>
        graft.ext.Webp.container(graft.ext.Webp.losslessChunk(
          (1 + id % 3000).toInt, (1 + id % 2000).toInt, alpha = false))
      case 2 =>
        val n = (20 + id % 30).toInt
        val f = new Array[Byte](417)
        f(0) = 0xFF.toByte; f(1) = 0xFB.toByte; f(2) = 0x90.toByte
        Array.fill(n)(f).flatten
      case 3 =>
        graft.ext.Zip.build(Seq(("word/document.xml",
          ("<w:document><w:body><w:p><w:r><w:t xml:space=\"preserve\">" +
            text.replace("&", "&amp;") +
            "</w:t></w:r></w:p></w:body></w:document>").getBytes("UTF-8"),
          true)))
      case 4 =>
        graft.ext.Pdf.buildSimple(Seq(text), flate = id % 2 == 0)
      case 5 =>
        ("plain text payload " + id).getBytes("UTF-8")
      case 6 =>
        graft.ext.Mp4.HeifBuild.still("heic", "hvc1",
          (640 + id % 2000).toInt, (480 + id % 1000).toInt)
      case 7 =>
        graft.ext.Mp4.HeifBuild.still("avif", "av01",
          (320 + id % 1000).toInt, (240 + id % 500).toInt)
      case 8 =>
        val esc = text.replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;")
        graft.ext.Epub.build(s"Book $id",
          Seq(("c1.xhtml", s"<html><body><p>$esc</p></body></html>")))
      case 9 =>
        graft.ext.Rtf.build(text).getBytes("US-ASCII")
      case 10 =>
        ("Message-ID: <m" + id + "@example.org>\r\n" +
          "Subject: doc " + id + "\r\n" +
          "Content-Type: text/plain; charset=\"utf-8\"\r\n\r\n" +
          text).getBytes("UTF-8")
      case _ =>
        // mboxrd: body lines that look like envelope starts are quoted
        val quoted = text.split("\n", -1)
          .map(l => if (l.matches(">*From .*")) ">" + l else l).mkString("\n")
        ("From a@example.org Thu Jan 15 10:00:00 2026\n" +
          "Subject: doc " + id + "\n\n" + quoted + "\n").getBytes("UTF-8")
    }

  private val streamDispatchRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  private val qStreamDispatch = Q(
    "q_stream_dispatch",
    (s, d) => {
      // The STREAMING half of q_curate_dispatch — how a crawler actually
      // lands blobs: the same thirteen untyped payload families arrive as a
      // bounded file-stream replay in FOUR micro-batches
      // (maxFilesPerTrigger=1 over four files), each batch routed through
      // the engine-declared sniff→arms→gate pipeline inside foreachBatch
      // and appended to an output log (stateless map-only curation needs
      // no read-modify-write). The merged log must hash-equal the batch
      // oracle — continuous ingest ≡ batch truth, certified not claimed.
      import s.implicits._
      // per-run AND per-JVM dirs (PID suffix): two concurrent JVMs (the
      // bench-next-to-test scenario) must not delete/overwrite each
      // other's source or output-log mid-stream
      val runId = streamDispatchRuns.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val srcDir = s"/tmp/graft_stream_dispatch_src_${Tables.corpusTag(d)}_${runId}_$pid"
      val logDir = s"/tmp/graft_stream_dispatch_log_${runId}_$pid"
      val ckDir = s"/dev/shm/graft_ck_dispatch_${runId}_$pid"
      def rmAll(): Unit =
        for (p <- Seq(srcDir, logDir, ckDir))
          try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
          catch { case _: Exception => () }
      rmAll()
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          (id, dispatchPayload(id, text))
        }
        .toDF("media_id", "payload")
        .repartition(4) // four files → four micro-batches
        .write.mode("overwrite").parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      // one Engine for the whole replay: the spec and Engine are
      // batch-invariant, so constructing them per micro-batch only adds
      // driver work to every trigger (planning still runs per batch —
      // that is the certificate's semantics)
      val engine = new graft.engine.Engine(graft.ext.CurateDispatch.spec())
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          engine
            .run("curate_dispatch", s, Some(batch.toDF()),
              graft.engine.RunOptions(orderedConcat = false))
            .write.mode("append").parquet(logDir)
          // release THIS batch's dispatch cache now that the log append
          // materialized it — a long stream must not accumulate one
          // cached relation per micro-batch until the ContextCleaner GCs
          graft.ext.CurateDispatch.releaseCached()
        }
        .option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        // materialize off the files (localCheckpoint) so every per-run
        // directory can be deleted NOW instead of accumulating in /tmp
        s.read.parquet(logDir).orderBy("media_id").localCheckpoint()
      } finally rmAll()
    },
    Some("""SELECT doc_id AS media_id,
                   CASE doc_id % 13 WHEN 0 THEN 'png' WHEN 1 THEN 'webp'
                        WHEN 2 THEN 'mpeg_audio' WHEN 3 THEN 'zip'
                        WHEN 4 THEN 'pdf' WHEN 6 THEN 'heic'
                        WHEN 7 THEN 'avif' WHEN 8 THEN 'epub'
                        WHEN 9 THEN 'rtf' WHEN 10 THEN 'eml'
                        WHEN 12 THEN 'webm'
                        ELSE 'mbox' END AS format,
                   CASE WHEN doc_id % 13 = 2 THEN 'audio'
                        WHEN doc_id % 13 = 12 THEN 'video'
                        WHEN doc_id % 13 IN (3, 4, 8, 9, 10, 11) THEN 'doc'
                        ELSE 'image' END AS kind,
                   CAST(CASE doc_id % 13 WHEN 0 THEN 8 + doc_id % 16
                        WHEN 1 THEN 1 + doc_id % 3000
                        WHEN 6 THEN 640 + doc_id % 2000
                        WHEN 7 THEN 320 + doc_id % 1000
                        WHEN 12 THEN 16 + doc_id % 24
                        ELSE 0 END AS INT) AS width,
                   CAST(CASE doc_id % 13 WHEN 0 THEN 8 + doc_id % 8
                        WHEN 1 THEN 1 + doc_id % 2000
                        WHEN 6 THEN 480 + doc_id % 1000
                        WHEN 7 THEN 240 + doc_id % 500
                        WHEN 12 THEN 12 + doc_id % 16
                        ELSE 0 END AS INT) AS height,
                   CAST(CASE doc_id % 13
                        WHEN 2 THEN ((20 + doc_id % 30) * 1152 * 1000) // 44100
                        WHEN 12 THEN 33
                        ELSE 0 END AS BIGINT) AS duration_ms,
                   CASE doc_id % 13 WHEN 3 THEN text || chr(10)
                        WHEN 0 THEN '' WHEN 1 THEN '' WHEN 2 THEN ''
                        WHEN 6 THEN '' WHEN 7 THEN '' WHEN 12 THEN ''
                        ELSE text END AS text
            FROM documents WHERE doc_id % 13 <> 5 ORDER BY media_id"""),
    "streaming mixed-format curation: the q_curate_dispatch pipeline " +
      "driven through a four-micro-batch bounded file-stream replay " +
      "(foreachBatch, append-only output log) — continuous ingest " +
      "hash-equals the batch truth")

  private val qTarExtract = Q(
    "q_tar_extract",
    (s, d) => {
      // TAR certificate: per doc a three-member ustar archive (directory
      // entry, the doc text, a closed-form binary member), gzipped on
      // even docs. Real header checksums are written and verified; the
      // walk must list all members, extract the text byte-exact, and the
      // binary member's byte sum and the archive's member-size total
      // must land on the oracle's arithmetic.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val bin = Array.tabulate(64)(k => (((id * 7 + k) % 256) & 0xFF).toByte)
          val textB = text.getBytes("UTF-8")
          val tar = graft.ext.Tar.build(Seq(
            ("docs/", Array.emptyByteArray, '5'),
            ("docs/text.txt", textB, '0'),
            ("meta/info.bin", bin, '0')), gzip = id % 2 == 0)
          // one streaming walk (one gunzip) for listing + both members —
          // entries + read×2 re-inflated the archive three times
          val (es, got) = graft.ext.Tar.extract(tar,
            Set("docs/text.txt", "meta/info.bin"))
          val extracted = got.get("docs/text.txt")
            .map(new String(_, "UTF-8")).getOrElse("")
          var binSum = 0L
          got.get("meta/info.bin")
            .foreach(_.foreach(b => binSum += (b & 0xFF)))
          (id, es.length, extracted, binSum, es.map(_.size).sum)
        }
        .toDF("doc_id", "n_entries", "extracted", "bin_sum", "total_size")
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, sum((doc_id * 7 + k) % 256) AS bin_sum
              FROM documents CROSS JOIN range(64) t(k) GROUP BY doc_id)
            SELECT d.doc_id, 3 AS n_entries, d.text AS extracted,
                   CAST(b.bin_sum AS BIGINT) AS bin_sum,
                   CAST(strlen(d.text) + 64 AS BIGINT) AS total_size
            FROM documents d JOIN b USING (doc_id) ORDER BY doc_id"""),
    "TAR/ustar certificate: checksum-verified header walk over plain " +
      "and gzipped archives — member listing, byte-exact extraction, " +
      "and size totals hash-checked against closed forms")

  private val qZip64Extract = Q(
    "q_zip64_extract",
    (s, d) => {
      // ZIP64 certificate: per doc a two-member archive written the way
      // crawl-scale writers emit it — masked EOCD (0xFFFF counts,
      // 0xFFFFFFFF offsets), EOCD64 record + locator, central
      // sizes/offsets in 0x0001 extra fields. The walk must resolve the
      // 64-bit structures to list both members and extract them
      // CRC-verified byte-exact; a reader without the ZIP64 path sees a
      // fully-masked EOCD and returns nothing.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val bin = Array.tabulate(48)(k => (((id * 11 + k) % 256) & 0xFF).toByte)
          val z = graft.ext.Zip.build(Seq(
            ("docs/text.txt", text.getBytes("UTF-8"), id % 2 == 0),
            ("meta/info.bin", bin, false)), zip64 = true)
          val es = graft.ext.Zip.entries(z)
          val extracted = graft.ext.Zip.read(z, "docs/text.txt")
            .map(new String(_, "UTF-8")).getOrElse("")
          var binSum = 0L
          graft.ext.Zip.read(z, "meta/info.bin")
            .foreach(_.foreach(b => binSum += (b & 0xFF)))
          (id, es.length, extracted, binSum, es.map(_.uncomp_size).sum)
        }
        .toDF("doc_id", "n_entries", "extracted", "bin_sum", "total_size")
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, sum((doc_id * 11 + k) % 256) AS bin_sum
              FROM documents CROSS JOIN range(48) t(k) GROUP BY doc_id)
            SELECT d.doc_id, 2 AS n_entries, d.text AS extracted,
                   CAST(b.bin_sum AS BIGINT) AS bin_sum,
                   CAST(strlen(d.text) + 48 AS BIGINT) AS total_size
            FROM documents d JOIN b USING (doc_id) ORDER BY doc_id"""),
    "ZIP64 certificate: masked-EOCD archives (EOCD64 record + locator, " +
      "0x0001 extra-field sizes/offsets) listed and extracted " +
      "CRC-verified against closed forms — the structure crawl-scale " +
      "writers emit regardless of size")

  private val qXlsxExtract = Q(
    "q_xlsx_extract",
    (s, d) => {
      // XLSX certificate: a real two-sheet-member workbook ZIP — shared
      // strings carrying entity-escaped text, a worksheet mixing
      // shared-string and literal-value cells — extracted to
      // tab-separated rows that must equal the oracle's closed form.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val esc = text.replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          val sharedXml =
            "<?xml version=\"1.0\"?><sst count=\"2\" uniqueCount=\"2\">" +
              s"<si><t>Doc &amp; $id</t></si>" +
              s"""<si><r><t xml:space="preserve">$esc</t></r></si></sst>"""
          val sheetXml =
            "<?xml version=\"1.0\"?><worksheet><sheetData>" +
              s"""<row r="1"><c r="A1" t="s"><v>0</v></c>""" +
              s"""<c r="B1"><v>${id % 1000}</v></c></row>""" +
              """<row r="2"><c r="A2" t="s"><v>1</v></c>""" +
              """<c r="B2"><v>42</v></c></row>""" +
              "</sheetData></worksheet>"
          val zip = graft.ext.Zip.build(Seq(
            ("xl/sharedStrings.xml", sharedXml.getBytes("UTF-8"), true),
            ("xl/worksheets/sheet1.xml", sheetXml.getBytes("UTF-8"), id % 2 == 1)))
          val extracted = graft.ext.Office.xlsxText(zip).getOrElse("")
          (id, extracted, extracted.length.toLong)
        }
        .toDF("doc_id", "extracted", "n_chars")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   'Doc & ' || doc_id || chr(9) || (doc_id % 1000) ||
                     chr(10) || text || chr(9) || '42' || chr(10) AS extracted,
                   CAST(length('Doc & ' || doc_id || chr(9) ||
                     (doc_id % 1000) || chr(10) || text || chr(9) || '42' ||
                     chr(10)) AS BIGINT) AS n_chars
            FROM documents ORDER BY doc_id"""),
    "XLSX certificate: shared-string resolution (multi-run si entries, " +
      "entity decode) and literal cells extracted from a real workbook " +
      "ZIP into tab-separated rows, hash-checked against the closed form")

  private val qMediaSniff = Q(
    "q_media_sniff",
    (s, d) => {
      // Format-dispatch certificate: 60 payload families rotate by
      // doc_id % 60 — every container/codec magic the engine owns an
      // arm for (incl. the 257-offset ustar magic, a two-frame chained
      // MPEG stream for the weak-sync arm, whitespace-prefixed HTML,
      // RIFF/WEBP, the HEIC and AVIF ftyp major brands that must NOT
      // land on "mp4", the zstd/xz/bzip2/7z/lz4/snappy/.Z/lzma
      // compression magics a routing policy must SEE, a plain-text
      // "unknown", and the round-12b set: the stored-mimetype ZIP
      // split (epub/odt/ods/odp), the CFB signature-stream split
      // (doc/xls/ppt/msg/cfb — REAL containers, the walk runs),
      // sqlite/avro/iso magics, mail (eml/mbox/mhtml), and the
      // feed/sidecar text magics (rss/atom/ics/vcf/torrent)). The
      // sniff must name each family and report exact byte lengths.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val p: Array[Byte] = (id % 60).toInt match {
            case 0 => Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
              new Array[Byte](8)
            case 1 => Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xD9.toByte)
            case 2 => "GIF89a".getBytes("US-ASCII") ++ new Array[Byte](6)
            case 3 => "BM".getBytes("US-ASCII") ++ new Array[Byte](10)
            case 4 => "RIFF".getBytes("US-ASCII") ++ new Array[Byte](4) ++
              "WAVE".getBytes("US-ASCII")
            case 5 => "RIFF".getBytes("US-ASCII") ++ new Array[Byte](4) ++
              "AVI ".getBytes("US-ASCII")
            case 6 => "fLaC".getBytes("US-ASCII") ++ new Array[Byte](4)
            case 7 => "OggS".getBytes("US-ASCII") ++ new Array[Byte](24)
            case 8 => Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII") ++
              new Array[Byte](4)
            case 9 => Array[Byte](0x1A, 0x45, 0xDF.toByte, 0xA3.toByte) ++
              new Array[Byte](4)
            case 10 => Array[Byte](0x1F, 0x8B.toByte, 8, 0)
            case 11 => Array[Byte]('P', 'K', 3, 4) ++ new Array[Byte](4)
            case 12 => "%PDF-1.4\n".getBytes("US-ASCII")
            case 13 => "WARC/1.0\r\n".getBytes("US-ASCII")
            case 14 =>
              val t = new Array[Byte](512)
              System.arraycopy("ustar".getBytes("US-ASCII"), 0, t, 257, 5)
              t
            case 15 =>
              val f = new Array[Byte](417)
              f(0) = 0xFF.toByte; f(1) = 0xFB.toByte; f(2) = 0x90.toByte
              f ++ f
            case 16 => "  <!DOCTYPE html><body>x</body>".getBytes("US-ASCII")
            case 17 => Array[Byte]('I', 'I', 42, 0) ++ new Array[Byte](4)
            case 18 => "RIFF".getBytes("US-ASCII") ++ new Array[Byte](4) ++
              "WEBP".getBytes("US-ASCII") ++ new Array[Byte](4)
            case 19 => Array[Byte](0, 0, 0, 16) ++ "ftypheic".getBytes("US-ASCII") ++
              new Array[Byte](4)
            case 20 => Array[Byte](0, 0, 0, 16) ++ "ftypavif".getBytes("US-ASCII") ++
              new Array[Byte](4)
            case 21 => Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte) ++
              new Array[Byte](4)
            case 22 => Array[Byte](0xFD.toByte) ++ "7zXZ".getBytes("US-ASCII") ++
              Array[Byte](0) ++ new Array[Byte](4)
            case 23 => "BZh9".getBytes("US-ASCII") ++ new Array[Byte](6)
            case 24 => "7z".getBytes("US-ASCII") ++
              Array[Byte](0xBC.toByte, 0xAF.toByte, 0x27, 0x1C) ++
              new Array[Byte](4)
            case 25 => Array[Byte](0x04, 0x22, 0x4D, 0x18) ++ new Array[Byte](4)
            case 26 => Array[Byte](0xFF.toByte, 0x06, 0, 0) ++
              "sNaPpY".getBytes("US-ASCII")
            case 27 => Array[Byte](0x1F, 0x9D.toByte, 0x89.toByte, 0)
            case 28 => Array[Byte](0x5D, 0, 0, 0x00, 0x01) ++ new Array[Byte](8)
            case 29 => "plain text payload".getBytes("US-ASCII")
            // round-12b document/sidecar families
            case 30 => Array[Byte]('O', 'b', 'j', 1) ++ new Array[Byte](4)
            case 31 => ("SQLite format 3" + "\u0000").getBytes("ISO-8859-1")
            case 32 => Array[Byte]('P', 'K', 3, 4) ++ new Array[Byte](26) ++
              "mimetypeapplication/epub+zip".getBytes("US-ASCII")
            case 33 => Array[Byte]('P', 'K', 3, 4) ++ new Array[Byte](26) ++
              ("mimetype" + graft.ext.Odf.MimeText).getBytes("US-ASCII")
            case 34 => Array[Byte]('P', 'K', 3, 4) ++ new Array[Byte](26) ++
              ("mimetype" + graft.ext.Odf.MimeSpreadsheet).getBytes("US-ASCII")
            case 35 => Array[Byte]('P', 'K', 3, 4) ++ new Array[Byte](26) ++
              ("mimetype" + graft.ext.Odf.MimePresentation).getBytes("US-ASCII")
            case 36 => "{\\rtf1 x}".getBytes("US-ASCII")
            case 37 => "Received: from a\r\n\r\nb".getBytes("US-ASCII")
            case 38 => "From a@b Thu Jan 15 10:00:00 2026\n\nx".getBytes("US-ASCII")
            case 39 => ("MIME-Version: 1.0\r\n" +
              "Content-Type: multipart/related\r\n\r\n").getBytes("US-ASCII")
            case 40 => graft.ext.Cfb.build(Seq(
              ("WordDocument", new Array[Byte](8)), ("1Table", new Array[Byte](8))))
            case 41 => graft.ext.Cfb.build(Seq(("Workbook", new Array[Byte](8))))
            case 42 => graft.ext.Cfb.build(Seq(
              ("PowerPoint Document", new Array[Byte](8))))
            case 43 => graft.ext.Cfb.build(Seq(
              ("__substg1.0_0037001F", new Array[Byte](8))))
            case 44 => graft.ext.Cfb.build(Seq(("Data", new Array[Byte](8))))
            case 45 =>
              val iso = new Array[Byte](17 * 2048)
              System.arraycopy("CD001".getBytes("US-ASCII"), 0, iso,
                16 * 2048 + 1, 5)
              iso
            case 46 => "BEGIN:VCALENDAR\r\n".getBytes("US-ASCII")
            case 47 => "BEGIN:VCARD\r\n".getBytes("US-ASCII")
            case 48 => "d8:announce3:urle".getBytes("US-ASCII")
            case 49 => "<rss version=\"2.0\"></rss>".getBytes("US-ASCII")
            case 50 => ("<?xml version=\"1.0\"?>" +
              "<feed xmlns=\"http://www.w3.org/2005/Atom\"></feed>")
              .getBytes("US-ASCII")
            case 51 => Array[Byte](0x78, 0x9F.toByte, 0x3E, 0x22, 0x12, 0x34)
            case 52 => "\\documentclass{article}".getBytes("US-ASCII")
            case 53 => "@article{k, year = 2026}".getBytes("US-ASCII")
            case 54 => ("{\"nbformat\":4,\"cells\":[]}").getBytes("US-ASCII")
            case 55 => graft.ext.Dbf.build(
              Seq(graft.ext.Dbf.DbfField("A", 'C', 4, 0)),
              Seq((false, Seq("x"))))
            case 56 => graft.ext.Axml.build(Seq(
              (0, "manifest", Seq(("package", "a.b")))))
            case 57 => "msgid \"a\"\nmsgstr \"b\"\n".getBytes("US-ASCII")
            case 58 =>
              // ICO: weak 00 00 01 00 magic admitted only through the
              // structural gates (1 entry, size 8 at offset 22 — 30 bytes)
              Array[Byte](0, 0, 1, 0, 1, 0,
                4, 4, 0, 0, 1, 0, 32, 0, 8, 0, 0, 0, 22, 0, 0, 0) ++
                new Array[Byte](8)
            case _ => "<xliff version=\"1.2\"></xliff>".getBytes("US-ASCII")
          }
          (id, p)
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.sniffMedia(m))
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CASE doc_id % 60
                     WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
                     WHEN 3 THEN 'bmp' WHEN 4 THEN 'wav' WHEN 5 THEN 'avi'
                     WHEN 6 THEN 'flac' WHEN 7 THEN 'ogg' WHEN 8 THEN 'mp4'
                     WHEN 9 THEN 'webm' WHEN 10 THEN 'gzip' WHEN 11 THEN 'zip'
                     WHEN 12 THEN 'pdf' WHEN 13 THEN 'warc' WHEN 14 THEN 'tar'
                     WHEN 15 THEN 'mpeg_audio' WHEN 16 THEN 'html'
                     WHEN 17 THEN 'tiff' WHEN 18 THEN 'webp'
                     WHEN 19 THEN 'heic' WHEN 20 THEN 'avif'
                     WHEN 21 THEN 'zstd' WHEN 22 THEN 'xz'
                     WHEN 23 THEN 'bzip2' WHEN 24 THEN '7z'
                     WHEN 25 THEN 'lz4' WHEN 26 THEN 'snappy'
                     WHEN 27 THEN 'z' WHEN 28 THEN 'lzma'
                     WHEN 29 THEN 'unknown'
                     WHEN 30 THEN 'avro' WHEN 31 THEN 'sqlite'
                     WHEN 32 THEN 'epub' WHEN 33 THEN 'odt'
                     WHEN 34 THEN 'ods' WHEN 35 THEN 'odp'
                     WHEN 36 THEN 'rtf' WHEN 37 THEN 'eml'
                     WHEN 38 THEN 'mbox' WHEN 39 THEN 'mhtml'
                     WHEN 40 THEN 'doc' WHEN 41 THEN 'xls'
                     WHEN 42 THEN 'ppt' WHEN 43 THEN 'msg'
                     WHEN 44 THEN 'cfb' WHEN 45 THEN 'iso'
                     WHEN 46 THEN 'ics' WHEN 47 THEN 'vcf'
                     WHEN 48 THEN 'torrent' WHEN 49 THEN 'rss'
                     WHEN 50 THEN 'atom' WHEN 51 THEN 'tnef'
                     WHEN 52 THEN 'tex' WHEN 53 THEN 'bib'
                     WHEN 54 THEN 'ipynb' WHEN 55 THEN 'dbf'
                     WHEN 56 THEN 'axml' WHEN 57 THEN 'po'
                     WHEN 58 THEN 'ico'
                     ELSE 'xliff' END AS format,
                   CAST(CASE doc_id % 60
                     WHEN 0 THEN 16 WHEN 1 THEN 4 WHEN 2 THEN 12
                     WHEN 3 THEN 12 WHEN 4 THEN 12 WHEN 5 THEN 12
                     WHEN 6 THEN 8 WHEN 7 THEN 28 WHEN 8 THEN 16
                     WHEN 9 THEN 8 WHEN 10 THEN 4 WHEN 11 THEN 8
                     WHEN 12 THEN 9 WHEN 13 THEN 10 WHEN 14 THEN 512
                     WHEN 15 THEN 834 WHEN 16 THEN 31 WHEN 17 THEN 8
                     WHEN 18 THEN 16 WHEN 19 THEN 16 WHEN 20 THEN 16
                     WHEN 21 THEN 8 WHEN 22 THEN 10 WHEN 23 THEN 10
                     WHEN 24 THEN 10 WHEN 25 THEN 8 WHEN 26 THEN 10
                     WHEN 27 THEN 4 WHEN 28 THEN 13 WHEN 29 THEN 18
                     WHEN 30 THEN 8 WHEN 31 THEN 16
                     WHEN 32 THEN 58 WHEN 33 THEN 77
                     WHEN 34 THEN 84 WHEN 35 THEN 85
                     WHEN 36 THEN 9 WHEN 37 THEN 21
                     WHEN 38 THEN 36 WHEN 39 THEN 54
                     WHEN 40 THEN 2560 WHEN 41 THEN 2560
                     WHEN 42 THEN 2560 WHEN 43 THEN 2560
                     WHEN 44 THEN 2560 WHEN 45 THEN 34816
                     WHEN 46 THEN 17 WHEN 47 THEN 13
                     WHEN 48 THEN 17 WHEN 49 THEN 25
                     WHEN 50 THEN 70 WHEN 51 THEN 6
                     WHEN 52 THEN 23 WHEN 53 THEN 24
                     WHEN 54 THEN 25 WHEN 55 THEN 71
                     WHEN 56 THEN 176 WHEN 57 THEN 21
                     WHEN 58 THEN 30
                     ELSE 29 END AS BIGINT) AS byte_len
            FROM documents ORDER BY media_id"""),
    "format-dispatch certificate: 60 payload families (every owned " +
      "container/codec magic plus weak-sync MPEG, offset-257 ustar, " +
      "whitespace-prefixed HTML, RIFF/WEBP, the HEIC/AVIF ftyp major " +
      "brands, compression magics, the stored-mimetype ZIP split " +
      "epub/odt/ods/odp, the CFB signature-stream split doc/xls/ppt/" +
      "msg/cfb, sqlite/avro/iso/mail/feed/sidecar magics, and a " +
      "plain-text unknown) named exactly by the sniff")

  private val qWebpExif = Q(
    "q_webp_exif",
    (s, d) => {
      // WebP metadata-redaction certificate (the q_exif_meta twin on the
      // RIFF layout): per doc an extended WebP whose EXIF chunk carries
      // a little-endian TIFF with closed-form orientation and a GPS-IFD
      // pointer on even docs ("Exif\0\0"-prefixed on every third doc,
      // the writer variant). The shared TIFF walk must read the fields
      // through the chunk, and stripMeta must remove the chunk AND clear
      // the VP8X flag while the image dims ride through untouched.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val orientation = (1 + id % 8).toInt
          val gps = id % 2 == 0
          val t = Plants.orientationTiff(orientation, gps)
          val exifPayload =
            if (id % 3 == 0) "Exif".getBytes("US-ASCII") ++
              Array[Byte](0, 0) ++ t
            else t
          val w = (16 + id % 640).toInt
          val h = (16 + id % 360).toInt
          val webp = graft.ext.Webp.extended(w, h, icc = false,
            alpha = false, exif = true, anim = false,
            graft.ext.Webp.losslessChunk(w, h, alpha = false),
            graft.ext.Webp.chunk("EXIF", exifPayload))
          val m = graft.ext.Webp.exif(webp)
          val stripped = graft.ext.Webp.stripMeta(webp)
          val after = graft.ext.Webp.meta(stripped)
          (id,
            m.map(_.orientation).getOrElse(-1),
            m.map(x => if (x.has_gps) 1 else 0).getOrElse(-1),
            if (graft.ext.Webp.exif(stripped).isEmpty &&
              !after.exists(_.has_exif)) 0 else 1,
            after.map(_.width).getOrElse(-1),
            after.map(_.height).getOrElse(-1))
        }
        .toDF("media_id", "orientation", "has_gps", "exif_after",
          "width", "height")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CAST(1 + doc_id % 8 AS INT) AS orientation,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
                     AS has_gps,
                   0 AS exif_after,
                   CAST(16 + doc_id % 640 AS INT) AS width,
                   CAST(16 + doc_id % 360 AS INT) AS height
            FROM documents ORDER BY media_id"""),
    "WebP EXIF certificate: orientation/GPS read through the shared " +
      "TIFF walk inside the EXIF chunk (with and without the Exif\\0\\0 " +
      "writer prefix), and chunk-surgery redaction that clears the VP8X " +
      "flag while dims ride through untouched — all closed forms")

  private val qHeifMeta = Q(
    "q_heif_meta",
    (s, d) => {
      // HEIF/AVIF still-image triage certificate: per doc a two-item
      // container (ISO 23008-12 meta/pitm/iinf/iprp grammar) whose AUX
      // ispe is first in ipco AND larger than the primary's — correct
      // dims require the ipma association walk, so neither a first-ispe
      // nor a largest-ispe shortcut can pass. Every third doc omits
      // ipma, certifying the documented largest-ispe fallback. Docs at
      // doc_id % 5 == 2 are GRID-tiled (the iPhone HEIC layout): 2×2
      // hvc1 tiles behind a 'grid' primary whose associated ispe is
      // deliberately wrong — the canvas resolves only from the
      // idat-located ImageGrid config (and, on the % 10 == 2 half where
      // the config omits output dims, from cols×tile / rows×tile math).
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val brand = if (id % 2 == 0) "heic" else "avif"
          val itemType = if (id % 2 == 0) "hvc1" else "av01"
          val payload =
            if (id % 5 == 2) {
              val cw = (1024 + (id % 512) * 2).toInt
              val ch = (768 + (id % 256) * 2).toInt
              graft.ext.Mp4.HeifBuild.grid(brand, cw, ch, cw / 2, ch / 2,
                zeroOutputDims = id % 10 == 2)
            } else {
              val w = (640 + id % 2000).toInt
              val h = (480 + id % 1000).toInt
              graft.ext.Mp4.HeifBuild.still(brand, itemType, w, h,
                withIpma = id % 3 != 0)
            }
          (id, payload)
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.heifMeta(m).toDF())
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CASE doc_id % 2 WHEN 0 THEN 'heic' ELSE 'avif' END AS brand,
                   CAST(1 AS BIGINT) AS primary_item,
                   CASE WHEN doc_id % 5 = 2 THEN 'grid'
                        WHEN doc_id % 2 = 0 THEN 'hvc1'
                        ELSE 'av01' END AS item_type,
                   CASE WHEN doc_id % 5 = 2 THEN 5 ELSE 2 END AS n_items,
                   CAST(CASE WHEN doc_id % 5 = 2
                        THEN 1024 + (doc_id % 512) * 2
                        WHEN doc_id % 3 = 0
                        THEN 2 * (640 + doc_id % 2000)
                        ELSE 640 + doc_id % 2000 END AS INT) AS width,
                   CAST(CASE WHEN doc_id % 5 = 2
                        THEN 768 + (doc_id % 256) * 2
                        WHEN doc_id % 3 = 0
                        THEN 2 * (480 + doc_id % 1000)
                        ELSE 480 + doc_id % 1000 END AS INT) AS height
            FROM documents ORDER BY media_id"""),
    "HEIF/AVIF still-image certificate: meta/pitm/iinf/iprp containers " +
      "whose primary dims resolve only through the ipma association " +
      "(aux ispe first and larger), the largest-ispe fallback on " +
      "ipma-less docs, and grid-tiled primaries (the iPhone layout) " +
      "whose canvas comes from the idat ImageGrid config over a " +
      "deliberately-wrong grid ispe — all closed forms of doc_id")

  private val qWebpMeta = Q(
    "q_webp_meta",
    (s, d) => {
      // WebP triage certificate: per doc a container whose variant
      // rotates by doc_id % 3 — a 'VP8 ' lossy key-frame header, a
      // 'VP8L' lossless header (14+14-bit packed dims + alpha bit), and
      // a 'VP8X' extended file (feature flags, u24 canvas, ANMF frame
      // chunks) — assembled from the public RIFF grammar (RFC 9649) and
      // read back through Webp.meta. Any slip in chunk framing, the
      // packed-dims bit layout, flag positions, or the ANMF walk breaks
      // the hash. Booleans surface as INT 0/1 (comparator envelope).
      import s.implicits._
      import graft.ext.Webp
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val payload: Array[Byte] = (id % 3).toInt match {
            case 0 =>
              Webp.container(Webp.lossyChunk(
                (16 + id % 100).toInt, (16 + id % 50).toInt))
            case 1 =>
              Webp.container(Webp.losslessChunk(
                (1 + id % 3000).toInt, (1 + id % 2000).toInt,
                alpha = id % 2 == 0))
            case _ =>
              val frames = (id % 4).toInt
              Webp.extended(
                (100 + id % 500).toInt, (50 + id % 300).toInt,
                icc = id % 5 == 0, alpha = id % 2 == 0,
                exif = id % 7 == 0, anim = frames > 0,
                Seq.fill(frames)(Webp.chunk("ANMF",
                  new Array[Byte](16))) :+
                  Webp.losslessChunk(8, 8, alpha = false): _*)
          }
          (id, payload)
        }
        .toDF("media_id", "payload")
        .transform(m => graft.ext.Multimodal.webpMeta(m).toDF())
        .selectExpr("media_id", "variant", "width", "height",
          "cast(has_alpha as int) as alpha",
          "cast(has_animation as int) as animation",
          "cast(has_exif as int) as exif",
          "cast(has_icc as int) as icc", "n_frames")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
                        ELSE 'extended' END AS variant,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 100
                        WHEN 1 THEN 1 + doc_id % 3000
                        ELSE 100 + doc_id % 500 END AS INT) AS width,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 50
                        WHEN 1 THEN 1 + doc_id % 2000
                        ELSE 50 + doc_id % 300 END AS INT) AS height,
                   CAST(CASE WHEN doc_id % 3 <> 0 AND doc_id % 2 = 0
                        THEN 1 ELSE 0 END AS INT) AS alpha,
                   CAST(CASE WHEN doc_id % 3 = 2 AND doc_id % 4 > 0
                        THEN 1 ELSE 0 END AS INT) AS animation,
                   CAST(CASE WHEN doc_id % 3 = 2 AND doc_id % 7 = 0
                        THEN 1 ELSE 0 END AS INT) AS exif,
                   CAST(CASE WHEN doc_id % 3 = 2 AND doc_id % 5 = 0
                        THEN 1 ELSE 0 END AS INT) AS icc,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 4
                        ELSE 0 END AS INT) AS n_frames
            FROM documents ORDER BY media_id"""),
    "WebP triage certificate: lossy/lossless/extended containers " +
      "assembled from the public RIFF grammar (RFC 9649), read back " +
      "through the pure chunk walk — variant, packed 14-bit dims, " +
      "feature flags and ANMF frame counts hash-checked against " +
      "closed forms")

  private val qHeifExif = Q(
    "q_heif_exif",
    (s, d) => {
      // HEIF Exif-item certificate (the q_webp_exif twin on ISO-BMFF —
      // the phone-imagery PII surface): per doc a still whose iinf
      // declares an 'Exif' item, iloc locates it file-absolute in an
      // mdat, and the ExifDataBlock's u32 offset rides over the
      // "Exif\0\0" identifier to a little-endian TIFF with closed-form
      // orientation and a GPS pointer on even docs. Both walks must
      // coexist: heifExif reads the metadata while heifMeta still
      // resolves the primary dims through ipma.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val orientation = (1 + id % 8).toInt
          val gps = id % 2 == 0
          val t = Plants.orientationTiff(orientation, gps)
          val brand = if (id % 2 == 0) "heic" else "avif"
          val w = (640 + id % 2000).toInt
          val h = (480 + id % 1000).toInt
          val still = graft.ext.Mp4.HeifBuild.still(brand,
            if (id % 2 == 0) "hvc1" else "av01", w, h, exifTiff = t)
          val ex = graft.ext.Mp4.heifExif(still)
          val im = graft.ext.Mp4.heifMeta(still)
          (id,
            ex.map(_.orientation).getOrElse(-1),
            ex.map(x => if (x.has_gps) 1 else 0).getOrElse(-1),
            im.map(_.n_items).getOrElse(-1),
            im.map(_.width).getOrElse(-1),
            im.map(_.height).getOrElse(-1))
        }
        .toDF("media_id", "orientation", "has_gps", "n_items",
          "width", "height")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CAST(1 + doc_id % 8 AS INT) AS orientation,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
                     AS has_gps,
                   3 AS n_items,
                   CAST(640 + doc_id % 2000 AS INT) AS width,
                   CAST(480 + doc_id % 1000 AS INT) AS height
            FROM documents ORDER BY media_id"""),
    "HEIF Exif-item certificate: iinf-declared 'Exif' item located " +
      "file-absolute by iloc, ExifDataBlock offset over the Exif\\0\\0 " +
      "identifier, read by the shared TIFF walk — orientation/GPS and " +
      "the coexisting ipma-resolved dims all closed forms")

  private val qId3Tags = Q(
    "q_id3_tags",
    (s, d) => {
      // ID3v2 text-frame certificate: three tag families rotate by
      // doc_id % 3 — v2.3 with ISO-8859-1 text and big-endian frame
      // sizes, v2.3 with BOM-led UTF-16 (non-ASCII title), v2.4 with
      // UTF-8 and SYNCSAFE frame sizes (plus a NUL terminator the
      // parser must drop). Each tag fronts a real two-frame MPEG
      // stream. Title/artist/album/year must land on closed forms.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val v4 = id % 3 == 2
          def ss(v: Int): Array[Byte] = Array(
            ((v >>> 21) & 0x7F).toByte, ((v >>> 14) & 0x7F).toByte,
            ((v >>> 7) & 0x7F).toByte, (v & 0x7F).toByte)
          def frame(fid: String, enc: Int, text: String): Array[Byte] = {
            val tb = enc match {
              case 0 => text.getBytes("ISO-8859-1")
              case 1 => Array[Byte](0xFF.toByte, 0xFE.toByte) ++
                text.getBytes("UTF-16LE")
              case _ => text.getBytes("UTF-8") ++ Array[Byte](0) // NUL term
            }
            val payload = enc.toByte +: tb
            val sizeB =
              if (v4) ss(payload.length)
              else Bytes.be32Of(payload.length)
            fid.getBytes("US-ASCII") ++ sizeB ++ Array[Byte](0, 0) ++ payload
          }
          val (title, enc) = (id % 3) match {
            case 0 => (s"Title $id", 0)
            case 1 => (s"Tïtle $id", 1)
            case _ => (s"Tétle $id", 3)
          }
          val frames = frame("TIT2", enc, title) ++
            frame("TPE1", enc, s"Artist ${id % 50}") ++
            frame("TALB", enc, s"Album ${id % 20}") ++
            (if (v4) frame("TDRC", enc, s"202${id % 10}")
             else frame("TYER", enc, s"19${70 + id % 30}"))
          val tag = "ID3".getBytes("US-ASCII") ++
            Array[Byte](if (v4) 4 else 3, 0, 0) ++ ss(frames.length) ++ frames
          val mp3 = new Array[Byte](417)
          mp3(0) = 0xFF.toByte; mp3(1) = 0xFB.toByte; mp3(2) = 0x90.toByte
          (id, tag ++ mp3 ++ mp3)
        }
        .toDF("media_id", "payload")
        .as[(Long, Array[Byte])]
        .map { case (id, p) =>
          val t = graft.ext.Mpeg.id3Tags(p).getOrElse(
            graft.ext.Mpeg.Id3("", "", "", ""))
          (id, t.title, t.artist, t.album, t.year)
        }
        .toDF("media_id", "title", "artist", "album", "year")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CASE doc_id % 3
                     WHEN 0 THEN 'Title ' || doc_id
                     WHEN 1 THEN 'T' || chr(239) || 'tle ' || doc_id
                     ELSE 'T' || chr(233) || 'tle ' || doc_id END AS title,
                   'Artist ' || (doc_id % 50) AS artist,
                   'Album ' || (doc_id % 20) AS album,
                   CASE WHEN doc_id % 3 = 2 THEN '202' || (doc_id % 10)
                        ELSE '19' || (70 + doc_id % 30) END AS year
            FROM documents ORDER BY media_id"""),
    "ID3v2 text-frame certificate: v2.3 big-endian and v2.4 syncsafe " +
      "frame sizes, ISO-8859-1 / BOM-led UTF-16 / UTF-8 encodings with " +
      "NUL-terminator handling — title, artist, album and TYER/TDRC " +
      "year hash-checked against closed forms")

  private val qSubtitleExtract = Q(
    "q_subtitle_extract",
    (s, d) => {
      // Subtitle certificate: even docs carry SRT (indices, comma
      // milliseconds), odd docs WebVTT (header, a NOTE block, cue
      // identifiers, dot milliseconds, inline <i>/<c> markup the
      // extractor must strip) — SAME cue content either way, so one
      // closed form grades both grammars. Three cues per doc with
      // doc-dependent offsets.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .flatMap { id =>
          def fmt(ms: Long, sep: Char): String = {
            val h = ms / 3600000; val m = (ms / 60000) % 60
            val sec = (ms / 1000) % 60; val mm = ms % 1000
            f"$h%02d:$m%02d:$sec%02d$sep$mm%03d"
          }
          val cues = (1 to 3).map { i =>
            val start = (i - 1) * 2000L + id % 1000
            (i, start, start + 1500, s"Cue $i w${id % 97}")
          }
          val content =
            if (id % 2 == 0)
              cues.map { case (i, st, en, tx) =>
                s"$i\n${fmt(st, ',')} --> ${fmt(en, ',')}\n$tx\n"
              }.mkString("\n")
            else
              "WEBVTT\n\nNOTE generated fixture\nsecond note line\n\n" +
                cues.map { case (i, st, en, tx) =>
                  val styled = tx.replace(s"w${id % 97}",
                    s"<i>w${id % 97}</i>")
                  s"cue-$i\n${fmt(st, '.')} --> ${fmt(en, '.')} align:start\n$styled\n"
                }.mkString("\n")
          val parsed =
            if (id % 2 == 0) graft.ext.Subtitles.srt(content)
            else graft.ext.Subtitles.vtt(content).getOrElse(Nil)
          parsed.map(c => (id, c.cue_no, c.start_ms, c.end_ms, c.text))
        }
        .toDF("media_id", "cue_no", "start_ms", "end_ms", "cue_text")
        .orderBy("media_id", "cue_no")
    },
    Some("""SELECT doc_id AS media_id, t.i AS cue_no,
                   CAST((t.i - 1) * 2000 + doc_id % 1000 AS BIGINT) AS start_ms,
                   CAST((t.i - 1) * 2000 + doc_id % 1000 + 1500 AS BIGINT) AS end_ms,
                   'Cue ' || t.i || ' w' || (doc_id % 97) AS cue_text
            FROM documents CROSS JOIN (VALUES (1), (2), (3)) AS t(i)
            ORDER BY media_id, cue_no"""),
    "subtitle certificate: SRT (comma millis, numeric indices) and " +
      "WebVTT (NOTE blocks, cue ids, settings after the end stamp, " +
      "inline markup stripped) parse to identical cue rows, " +
      "hash-checked against one closed form")

  private val qTiffMeta = Q(
    "q_tiff_meta",
    (s, d) => {
      // Standalone-TIFF certificate: little-endian on even docs,
      // BIG-endian on odd — same closed-form fields through both byte
      // orders, with BitsPerSample exercising the offset heap (count 3)
      // and Make the ASCII heap. Pixel codecs (LZW/CCITT) are out of
      // envelope by design; this is the metadata-triage arm.
      import s.implicits._
      documents(s, d).select(col("doc_id")).as[Long]
        .map(id => (id, Plants.scanTiff(id)))
        .toDF("media_id", "payload")
        .as[(Long, Array[Byte])]
        .map { case (id, p) =>
          val m = graft.ext.Exif.tiffMeta(p).getOrElse(
            graft.ext.Exif.TiffMeta(0, 0, 0, 0, ""))
          (id, m.width, m.height, m.bits_per_sample, m.orientation, m.make,
            graft.ext.Multimodal.sniffFormat(p))
        }
        .toDF("media_id", "width", "height", "bits", "orientation", "make",
          "sniffed")
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
                   CAST(100 + doc_id % 900 AS INT) AS width,
                   CAST(100 + doc_id % 600 AS INT) AS height,
                   8 AS bits, CAST(1 + doc_id % 8 AS INT) AS orientation,
                   'Scan' || (doc_id % 10) AS make,
                   'tiff' AS sniffed
            FROM documents ORDER BY media_id"""),
    "standalone-TIFF certificate: IFD0 metadata through BOTH byte " +
      "orders, offset-heap BitsPerSample and Make, inline SHORT " +
      "orientation, plus the sniff naming the format — all closed form")

  private val qZstdExtract = Q(
    "q_zstd_extract",
    (s, d) => {
      // `.jsonl.zst`-shape certificate (the distribution format of
      // modern LLM corpora — RedPajama/Dolma/FineWeb ship zstd'd
      // line-delimited shards): per doc a two-line TSV shard compressed
      // as one zstd frame PER line (the appended-shard layout), decoded
      // through the STREAMING slab walk in deliberately tiny 64-byte
      // slabs so every row proves the walk stitches lines across both
      // slab and frame seams. Line 1 round-trips the doc text byte-exact
      // into the oracle's closed form.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val l1 = s"$id\t$text\n".getBytes("UTF-8")
          val l2 = s"$id\tlen=${text.getBytes("UTF-8").length}\n".getBytes("UTF-8")
          val blob = graft.ext.Codecs.zstdFrames(Seq(l1, l2))
          val out = new java.io.ByteArrayOutputStream()
          graft.ext.Codecs.chunks(blob, 64).foreach(c => out.write(c, 0, c.length))
          val decoded = new String(out.toByteArray, "UTF-8")
          val lines = decoded.split("\n").filter(_.nonEmpty)
          val extracted = lines.head.substring(lines.head.indexOf('\t') + 1)
          (id, lines.length, out.size().toLong, extracted)
        }
        .toDF("doc_id", "n_lines", "n_bytes", "extracted")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, 2 AS n_lines,
                   CAST(strlen(doc_id || chr(9) || text) + 1 +
                        strlen(doc_id || chr(9) || 'len=' || strlen(text)) + 1
                        AS BIGINT) AS n_bytes,
                   text AS extracted
            FROM documents ORDER BY doc_id"""),
    "zstd certificate: multi-frame .jsonl.zst-shape shards decoded " +
      "through the bounded streaming slab walk (64-byte slabs crossing " +
      "frame seams), line content byte-exact against the closed form")

  private val qTarCodecs = Q(
    "q_tar_codecs",
    (s, d) => {
      // Compressed-tarball certificate: the q_tar_extract archive wrapped
      // in the compression family software and corpus tarballs actually
      // ship (rotating by doc_id: plain / .tar.zst / .tar.xz / .tar.bz2 /
      // .tar.lz4 / framed snappy / .tar.lzma / Unix-compress .tar.Z).
      // The SAME streaming walk must list and extract through every
      // codec — decode arms route by magic, not by filename.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .transform(Plants.spread)
        .map { case (id, text) =>
          val textB = text.getBytes("UTF-8")
          val tar = graft.ext.Tar.build(Seq(
            ("docs/", Array.emptyByteArray, '5'),
            ("docs/text.txt", textB, '0')))
          val (codec, blob) = (id % 8) match {
            case 0 => ("none", tar)
            case 1 => ("zstd", graft.ext.Codecs.zstd(tar))
            case 2 => ("xz", graft.ext.Codecs.xz(tar))
            case 3 => ("bzip2", graft.ext.Codecs.bzip2(tar))
            case 4 => ("lz4", graft.ext.Codecs.lz4(tar))
            case 5 => ("snappy", graft.ext.Codecs.snappy(tar))
            case 6 => ("lzma", graft.ext.Codecs.lzma(tar))
            case _ => ("z", graft.ext.Codecs.zCompress(tar))
          }
          // one walk (one xz/bzip2/… decode) for listing + extraction —
          // the per-doc decompress is the whole cost of this certificate
          val (es, got) = graft.ext.Tar.extract(blob, Set("docs/text.txt"))
          val extracted = got.get("docs/text.txt")
            .map(new String(_, "UTF-8")).getOrElse("")
          (id, codec, es.length, extracted, es.map(_.size).sum)
        }
        .toDF("doc_id", "codec", "n_entries", "extracted", "total_size")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CASE doc_id % 8 WHEN 0 THEN 'none' WHEN 1 THEN 'zstd'
                        WHEN 2 THEN 'xz' WHEN 3 THEN 'bzip2'
                        WHEN 4 THEN 'lz4' WHEN 5 THEN 'snappy'
                        WHEN 6 THEN 'lzma' ELSE 'z' END AS codec,
                   2 AS n_entries, text AS extracted,
                   CAST(strlen(text) AS BIGINT) AS total_size
            FROM documents ORDER BY doc_id"""),
    "compressed-tarball certificate: one streaming ustar walk through " +
      "plain/zstd/xz/bzip2/lz4/snappy/lzma/.Z wrappers routed by magic " +
      "— member listing and byte-exact extraction against closed forms")

  private val qWarcZst = Q(
    "q_warc_zst",
    (s, d) => {
      // `.warc.zst` certificate: a two-record WARC per doc, zstd-framed
      // with the SPLIT deliberately mid-record so every row exercises
      // the cross-frame carry (frame boundaries in the wild don't align
      // with records). The response body round-trips the doc text.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .transform(Plants.spread)
        .map { case (id, text) =>
          def rec(wType: String, uri: String, payload: String): Array[Byte] = {
            val p = payload.getBytes("UTF-8")
            (s"WARC/1.0\r\nWARC-Type: $wType\r\n" +
              (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
              s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
              p ++ "\r\n\r\n".getBytes("UTF-8")
          }
          val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n$text"
          val whole = rec("warcinfo", "", "software: graft") ++
            rec("response", s"https://example.test/$id", http)
          val mid = whole.length / 2
          val blob = graft.ext.Codecs.zstdFrames(
            Seq(whole.take(mid), whole.drop(mid)))
          val rs = graft.ext.Warc.parse(blob)
          val resp = rs.find(_.warc_type == "response")
          (id, rs.length,
            resp.map(_.http_status).getOrElse(-1),
            resp.map(r => new String(r.body, "UTF-8")).getOrElse(""))
        }
        .toDF("doc_id", "n_records", "http_status", "body_text")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, 2 AS n_records, 200 AS http_status,
                   text AS body_text
            FROM documents ORDER BY doc_id"""),
    "warc.zst certificate: zstd-framed WARC with record boundaries " +
      "split mid-frame — the streaming slab walk + carry reassemble " +
      "records and HTTP bodies byte-exact against the closed form")

  private val qSevenZExtract = Q(
    "q_7z_extract",
    (s, d) => {
      // 7z certificate: per doc a two-member LZMA2 archive (the last
      // compression-family magic the sniff names), listed and extracted
      // through the seekable in-memory channel — names, true sizes, the
      // doc text byte-exact, and a closed-form binary member's byte sum.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .transform(Plants.spread)
        .map { case (id, text) =>
          val bin = Array.tabulate(32)(k => (((id * 13 + k) % 256) & 0xFF).toByte)
          val z = graft.ext.SevenZ.build(Seq(
            ("docs/text.txt", text.getBytes("UTF-8")),
            ("meta/info.bin", bin)))
          val es = graft.ext.SevenZ.entries(z)
          val extracted = graft.ext.SevenZ.read(z, "docs/text.txt")
            .map(new String(_, "UTF-8")).getOrElse("")
          var binSum = 0L
          graft.ext.SevenZ.read(z, "meta/info.bin")
            .foreach(_.foreach(b => binSum += (b & 0xFF)))
          (id, es.length, extracted, binSum, es.map(_.size).sum)
        }
        .toDF("doc_id", "n_entries", "extracted", "bin_sum", "total_size")
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, sum((doc_id * 13 + k) % 256) AS bin_sum
              FROM documents CROSS JOIN range(32) t(k) GROUP BY doc_id)
            SELECT d.doc_id, 2 AS n_entries, d.text AS extracted,
                   CAST(b.bin_sum AS BIGINT) AS bin_sum,
                   CAST(strlen(d.text) + 32 AS BIGINT) AS total_size
            FROM documents d JOIN b USING (doc_id) ORDER BY doc_id"""),
    "7z certificate: LZMA2 archives listed and extracted through the " +
      "seekable in-memory channel — member names, sizes, byte-exact " +
      "text and binary sums against closed forms")

  private val qZipEncrypted = Q(
    "q_zip_encrypted",
    (s, d) => {
      // ZipCrypto certificate: per doc a traditionally-encrypted PKWARE
      // archive (12-byte header + LCG/CRC keystream, the password
      // protection scraped document dumps actually carry) with a
      // per-doc password. The walk must still LIST without the
      // password, gate every read out as None without it (n_locked
      // counts leaked reads — must be 0), and decrypt byte-exact with
      // it (check-byte vetting, then CRC verification).
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val pw = s"pw-${id % 7}"
          val bin = Array.tabulate(24)(k => (((id * 17 + k) % 256) & 0xFF).toByte)
          val z = graft.ext.Zip.build(Seq(
            ("docs/text.txt", text.getBytes("UTF-8"), true),
            ("meta/info.bin", bin, false)), password = Some(pw))
          val es = graft.ext.Zip.entries(z)
          val locked = es.count(e => graft.ext.Zip.readEntry(z, e).nonEmpty) +
            es.count(e => graft.ext.Zip.readEntry(z, e, Some("wrong")).nonEmpty)
          val extracted = graft.ext.Zip.read(z, "docs/text.txt", Some(pw))
            .map(new String(_, "UTF-8")).getOrElse("")
          var binSum = 0L
          graft.ext.Zip.read(z, "meta/info.bin", Some(pw))
            .foreach(_.foreach(b => binSum += (b & 0xFF)))
          (id, es.length, locked, extracted, binSum)
        }
        .toDF("doc_id", "n_entries", "n_locked", "extracted", "bin_sum")
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, sum((doc_id * 17 + k) % 256) AS bin_sum
              FROM documents CROSS JOIN range(24) t(k) GROUP BY doc_id)
            SELECT d.doc_id, 2 AS n_entries, 0 AS n_locked,
                   d.text AS extracted, CAST(b.bin_sum AS BIGINT) AS bin_sum
            FROM documents d JOIN b USING (doc_id) ORDER BY doc_id"""),
    "ZipCrypto certificate: traditionally-encrypted archives list " +
      "without the password, gate out every password-less read, and " +
      "decrypt byte-exact (check byte + CRC) with the per-doc password")

  private val qZipMethods = Q(
    "q_zip_methods",
    (s, d) => {
      // Modern-method ZIP certificate: one archive per doc carrying the
      // SAME text compressed seven ways — stored (0), deflate (8),
      // Deflate64 (9, the method Windows' built-in zipper switches to
      // past 2 GiB), bzip2 (12), zip-LZMA (14, 7-Zip's -mm=LZMA), zstd
      // (93) and xz (95, the current APPNOTE assignments) — every
      // member must LIST with its method id and extract byte-exact
      // (CRC-verified) through the classpath decoder the method routes
      // to. One row per (doc, method) so a single broken arm fails the
      // hash, not an aggregate.
      import s.implicits._
      val methods = Seq(0, 8, 9, 12, 14, 93, 95)
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .transform(Plants.spread)
        .flatMap { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          val z = graft.ext.Zip.buildMethods(
            methods.map(m => (s"m$m.txt", raw, m)))
          val es = graft.ext.Zip.entries(z)
          methods.map { m =>
            val listedOk = es.exists(e => e.name == s"m$m.txt" && e.method == m)
            val extracted = graft.ext.Zip.read(z, s"m$m.txt")
              .map(new String(_, "UTF-8")).getOrElse("")
            (id, m, if (listedOk) extracted else "")
          }
        }
        .toDF("doc_id", "method", "extracted")
        .orderBy("doc_id", "method")
    },
    Some("""SELECT d.doc_id, m.method, d.text AS extracted
            FROM documents d
            CROSS JOIN (VALUES (0),(8),(9),(12),(14),(93),(95)) m(method)
            ORDER BY doc_id, method"""),
    "modern-method ZIP certificate: stored/deflate/Deflate64/bzip2/" +
      "LZMA/zstd/xz members list with their method ids and extract " +
      "byte-exact through the classpath decoders")

  private val qZipAes = Q(
    "q_zip_aes",
    (s, d) => {
      // WinZip AES certificate: per doc an AES-encrypted archive with a
      // per-doc password, rotating strength (AES-128/192/256 by doc_id)
      // and AE version (AE-1 keeps the CRC, AE-2 zeroes it), the text
      // member deflated and a binary member stored. The walk must LIST
      // with method 99 + the 0x9901 envelope, gate every read out
      // without the password (and with a wrong one — the 2-byte
      // verifier), and decrypt byte-exact with it (HMAC authenticated
      // before decode; AE-1 additionally CRC-checked).
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        // deterministic 20% slice (mirrored in the oracle): PBKDF2's
        // 1000 iterations are the point of the format, so each doc
        // costs ~5 ms of mandated key stretching across the build and
        // the gate probes — and the certificate's coverage (strength ×
        // AE × password rotations, each hit dozens of times) does not
        // grow with corpus size the way the cost does
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .as[(Long, String)]
        .transform(Plants.spread)
        .map { case (id, text) =>
          val pw = s"aespw-${id % 5}"
          val strength = (id % 3).toInt + 1
          val ae = (id % 2).toInt + 1
          val bin = Array.tabulate(24)(k => (((id * 29 + k) % 256) & 0xFF).toByte)
          val z = graft.ext.Zip.buildMethods(Seq(
            ("docs/text.txt", text.getBytes("UTF-8"), 8),
            ("meta/info.bin", bin, 0)), aes = Some((pw, strength, ae)))
          val es = graft.ext.Zip.entries(z)
          val envelopeOk = es.length == 2 && es.forall(e =>
            e.encrypted && e.method == 99 &&
              e.aes.exists(a => a.strength == strength && a.vendor == ae))
          val locked = es.count(e => graft.ext.Zip.readEntry(z, e).nonEmpty) +
            es.count(e => graft.ext.Zip.readEntry(z, e, Some("wrong")).nonEmpty)
          val extracted = graft.ext.Zip.read(z, "docs/text.txt", Some(pw))
            .map(new String(_, "UTF-8")).getOrElse("")
          var binSum = 0L
          graft.ext.Zip.read(z, "meta/info.bin", Some(pw))
            .foreach(_.foreach(b => binSum += (b & 0xFF)))
          (id, envelopeOk, locked, if (envelopeOk) extracted else "", binSum)
        }
        .toDF("doc_id", "envelope_ok", "n_locked", "extracted", "bin_sum")
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, sum((doc_id * 29 + k) % 256) AS bin_sum
              FROM documents CROSS JOIN range(24) t(k)
              WHERE doc_id % 5 = 0 GROUP BY doc_id)
            SELECT d.doc_id, TRUE AS envelope_ok, 0 AS n_locked,
                   d.text AS extracted, CAST(b.bin_sum AS BIGINT) AS bin_sum
            FROM documents d JOIN b USING (doc_id)
            WHERE d.doc_id % 5 = 0 ORDER BY doc_id"""),
    "WinZip AES certificate: AE-1/AE-2 archives at all three strengths " +
      "list with the 0x9901 envelope, gate out password-less and " +
      "wrong-password reads, and decrypt byte-exact (verifier + HMAC + " +
      "CTR + per-AE CRC discipline)")

  private val qDebExtract = Q(
    "q_deb_extract",
    (s, d) => {
      // .deb certificate: per doc a real Debian package shape —
      // ar("debian-binary", control.tar.gz, data.tar.<codec>) with the
      // data codec rotating by doc_id across what the archive pools
      // actually ship (xz the Debian default, gzip, zstd the Ubuntu
      // 21.10+ default, bzip2). The walk must list the ar members,
      // parse a control field, route the data tar by MAGIC through the
      // codec layer, and extract the payload byte-exact.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .transform(Plants.spread)
        .map { case (id, text) =>
          val codec = (id % 4) match {
            case 0 => "xz"; case 1 => "gzip"; case 2 => "zstd"; case _ => "bzip2"
          }
          val ctrl = s"Package: doc-$id\nVersion: 1.0-$id\nArchitecture: all\n"
          val deb = graft.ext.Pkg.debBuild(ctrl, Seq(
            (s"./usr/share/doc/doc-$id/readme", text.getBytes("UTF-8"))),
            dataCodec = codec)
          val arNames = graft.ext.Pkg.arEntries(deb).map(_.name)
          val pkgField = graft.ext.Pkg.debControl(deb)
            .flatMap(_.linesIterator.find(_.startsWith("Package: ")))
            .map(_.stripPrefix("Package: ")).getOrElse("")
          val extracted = graft.ext.Pkg
            .debDataRead(deb, s"./usr/share/doc/doc-$id/readme")
            .map(new String(_, "UTF-8")).getOrElse("")
          (id, codec, arNames.mkString(","), pkgField, extracted)
        }
        .toDF("doc_id", "codec", "ar_members", "package", "extracted")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CASE doc_id % 4 WHEN 0 THEN 'xz' WHEN 1 THEN 'gzip'
                        WHEN 2 THEN 'zstd' ELSE 'bzip2' END AS codec,
                   'debian-binary,control.tar.gz,data.tar.' ||
                   CASE doc_id % 4 WHEN 0 THEN 'xz' WHEN 1 THEN 'gz'
                        WHEN 2 THEN 'zst' ELSE 'bz2' END AS ar_members,
                   'doc-' || CAST(doc_id AS VARCHAR) AS package,
                   text AS extracted
            FROM documents ORDER BY doc_id"""),
    ".deb certificate: ar outer walk, control-field parse, data tar " +
      "routed by magic through the rotating gzip/xz/zstd/bzip2 codec " +
      "layer, payload byte-exact")

  private val qCpioExtract = Q(
    "q_cpio_extract",
    (s, d) => {
      // cpio certificate (RPM payloads / initramfs): per doc an archive
      // in the ASCII dialect rotating by doc_id — newc (070701), CRC
      // (070702, per-entry checksums the reader verifies), odc
      // (070707) — with the doc text and a closed-form binary member.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .transform(Plants.spread)
        .map { case (id, text) =>
          val dialect = (id % 3) match {
            case 0 => "newc"; case 1 => "crc"; case _ => "odc"
          }
          val bin = Array.tabulate(40)(k => (((id * 11 + k) % 256) & 0xFF).toByte)
          val cp = graft.ext.Pkg.cpioBuild(Seq(
            ("docs/text.txt", text.getBytes("UTF-8")),
            ("meta/info.bin", bin)), dialect)
          val es = graft.ext.Pkg.cpioEntries(cp)
          val extracted = graft.ext.Pkg.cpioRead(cp, "docs/text.txt")
            .map(new String(_, "UTF-8")).getOrElse("")
          var binSum = 0L
          graft.ext.Pkg.cpioRead(cp, "meta/info.bin")
            .foreach(_.foreach(x => binSum += (x & 0xFF)))
          (id, dialect, es.length, extracted, binSum)
        }
        .toDF("doc_id", "dialect", "n_entries", "extracted", "bin_sum")
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, sum((doc_id * 11 + k) % 256) AS bin_sum
              FROM documents CROSS JOIN range(40) t(k) GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE d.doc_id % 3 WHEN 0 THEN 'newc' WHEN 1 THEN 'crc'
                        ELSE 'odc' END AS dialect,
                   2 AS n_entries, d.text AS extracted,
                   CAST(b.bin_sum AS BIGINT) AS bin_sum
            FROM documents d JOIN b USING (doc_id) ORDER BY doc_id"""),
    "cpio certificate: newc/CRC/odc ASCII dialects list and extract " +
      "byte-exact (CRC dialect checksum-verified by the reader)")

  private val qTarSparse = Q(
    "q_tar_sparse",
    (s, d) => {
      // Sparse-tar certificate: per doc a sparse member (two fragments
      // at offsets 100 and 1000, real size 2000, zero holes) written in
      // the dialect rotating by doc_id — old-GNU 'S' headers, pax 0.0
      // record pairs, pax 0.1 map strings, pax 1.0 data-front maps. The
      // walk must list the REAL size, expand the holes to zeros, and
      // land both fragments byte-exact.
      import s.implicits._
      documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val textB = text.getBytes("UTF-8")
          val bin = Array.tabulate(48)(k => (((id * 7 + k) % 256) & 0xFF).toByte)
          val frags = Seq((100L, textB), (1000L, bin))
          val (dialect, tar) = (id % 4) match {
            case 0 => ("oldgnu", graft.ext.Tar.buildSparseOldGnu("sp.raw", frags, 2000L))
            case 1 => ("pax00", graft.ext.Tar.buildSparsePax("sp.raw", frags, 2000L, "0.0"))
            case 2 => ("pax01", graft.ext.Tar.buildSparsePax("sp.raw", frags, 2000L, "0.1"))
            case _ => ("pax10", graft.ext.Tar.buildSparsePax("sp.raw", frags, 2000L, "1.0"))
          }
          val es = graft.ext.Tar.entries(tar)
          val data = graft.ext.Tar.read(tar, "sp.raw").getOrElse(Array.emptyByteArray)
          val extracted =
            if (data.length >= 100 + textB.length)
              new String(data, 100, textB.length, "UTF-8")
            else ""
          var binSum = 0L
          if (data.length >= 1048)
            (1000 until 1048).foreach(i => binSum += (data(i) & 0xFF))
          var holeNonzero = 0
          if (data.length == 2000) {
            (0 until 100).foreach(i => if (data(i) != 0) holeNonzero += 1)
            ((100 + textB.length) until 1000)
              .foreach(i => if (data(i) != 0) holeNonzero += 1)
            (1048 until 2000).foreach(i => if (data(i) != 0) holeNonzero += 1)
          } else holeNonzero = -1
          (id, dialect, es.map(_.size).sum, extracted, binSum, holeNonzero)
        }
        .toDF("doc_id", "dialect", "real_size", "extracted", "bin_sum",
          "n_hole_nonzero")
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id, sum((doc_id * 7 + k) % 256) AS bin_sum
              FROM documents CROSS JOIN range(48) t(k) GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE d.doc_id % 4 WHEN 0 THEN 'oldgnu' WHEN 1 THEN 'pax00'
                        WHEN 2 THEN 'pax01' ELSE 'pax10' END AS dialect,
                   CAST(2000 AS BIGINT) AS real_size, d.text AS extracted,
                   CAST(b.bin_sum AS BIGINT) AS bin_sum, 0 AS n_hole_nonzero
            FROM documents d JOIN b USING (doc_id) ORDER BY doc_id"""),
    "sparse-tar certificate: old-GNU 'S' maps and all three pax sparse " +
      "dialects expand to real size with zero holes, fragments " +
      "byte-exact against closed forms")

  def all: Seq[Q] = Seq(
    qDedupExact, qDedupIncremental, qDedupKeepBest, qDedupNear,
    qDedupNearIncremental, qDedupClusters,
    qCcChains, qDedupSimhash, qHammingPairs, qHammingIndex, qHammingAbsorb,
    qDedupNgram, qDedupSpan, qSpanIndex, qDedupSemantic,
    qDedupJaccard, qDedupEdit, qLmScore, qClassifierScore, qClassifierTrain,
    qDedupEmbed, qDedupEmbedGrid,
    qVecCentroid, qSimTopk, qSimFiltered, qSimAnn, qSimAnnFull, qSimIvf, qSimIvfFull,
    qSimIvfIndex, qSimIvfAppend, qSimPq, qSimPqFull, qSimPqIndex,
    qSimIvfPq, qSimIvfPqFull, qSimIvfPqIndex,
    qSimSq, qSimSqFull, qSimSqIndex, qBpeMerges, qBpeTokens, qBpeAnchor,
    qTextStats, qTokenCount, qQualityScore, qLangId, qFingerprint,
    qNgramFreq, qHeavyHitters, qHeavyHittersCms, qOovRate, qTfidf,
    qRepetition, qRepetitionPrune,
    qTextNormalize, qSplitStable, qDedupParagraph, qCorpusDiff,
    qHardNegatives, qKnnJoin, qVocabBuild,
    qPackSequences, qChunkWindows, qMixture, qMixtureUpsample, qQualityGate,
    qSampleStratified, qSampleTokenBudget, qShuffleShard, qCuratePipeline,
    qRedact, qDecontaminate, qContaminationScore, qDecontaminateSpan,
    qDecontaminateBloom, qDecontaminateSemantic, qZorder,
    qDedupImage, qDedupImageAnchor, qDedupImageRotAnchor,
    qDedupImageOrientAnchor, qVideoThumbAnchor,
    qDedupAudio, qDedupAudioAnchor, qDedupAudioOffsetAnchor,
    qDedupAudioIncremental,
    qMultimodal, qMultimodalAudio,
    qPngRoundtrip, qWebpRoundtrip, qWebpLossyRoundtrip, qMp3Roundtrip,
    qVorbisRoundtrip,
    qWebpFrames, qApngFrames,
    qBmpDecode, qIcoDecode, qTiffDecode, qTiffCcitt, qPnmDecode, qWavPcm, qGifFrames, qJpegStats, qPng4Stats, qWavFloat,
    qWavG711, qJpegImageIo, qJpegProgressive, qWavAdpcm, qAviFrames, qHtmlExtract, qBoilerplate, qUrlNormalize, qWarcPipeline,
    qWarcGzip, qWebCurateEngine, qFlacStats, qPdfExtract,
    qMp4Meta, qMp4Frames, qMp3Meta, qOggMeta, qLmBackoff, qExifMeta,
    qDocxExtract, qWebmMeta, qMediaCurateEngine, qCurateDispatch,
    qStreamDispatch, qTarExtract, qZip64Extract, qXlsxExtract,
    qMediaSniff, qWebpMeta, qWebpExif, qHeifMeta, qHeifExif, qId3Tags,
    qSubtitleExtract, qTiffMeta,
    qZstdExtract, qTarCodecs, qWarcZst, qSevenZExtract, qZipEncrypted,
    qTarSparse, qZipMethods, qZipAes, qDebExtract, qCpioExtract)
}
