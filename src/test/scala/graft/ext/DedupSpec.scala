package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.IndexTables

/** Seeded correctness tests for the model-defined dedup operators (the
  * oracle-omitted surface, SURVEY §7.3).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
  private lazy val docs = Seq(
    (0L, base),
    (1L, base),                                     // exact dup of 0
    (2L, base + " tonight"),                        // near dup of 0
    (3L, "completely different content about spark catalyst optimizer rules"),
    (4L, "yet another unrelated document on parquet column pruning today")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length == 4)
    assert(out.head.getLong(0) == 0L && out.head.getLong(1) == 2L)
  }

  test("keepBest keeps the longest member per normalized-prefix group, ties to min id") {
    val variants = Seq(
      (0L, "Shared Opening Words For The Group here"),
      (1L, "shared opening words for the group here plus a much longer tail"), // longest → wins
      (2L, "SHARED OPENING WORDS FOR THE GROUP here"), // case variant, same norm prefix
      (3L, "tie candidate text"),
      (4L, "tie candidate text"), // equal length → min id 3 survives
      (5L, "a lone document")
    ).toDF("doc_id", "text")
    val out = Dedup.keepBest(variants, "text", "doc_id", prefixLen = 30)
      .orderBy("keep_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 3L, 63L), // group {0,1,2}: longest member
      (3L, 2L, 18L), // tie group {3,4}: min id
      (5L, 1L, 15L)))
  }

  test("incremental dedup drops corpus copies, collapses in-batch dups, keeps new uniques") {
    val corpus = Seq((10L, "alpha doc"), (11L, "beta doc")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "alpha doc"),   // already in corpus → dropped
      (21L, "gamma doc"),   // new unique → kept
      (22L, "delta doc"),   // in-batch dup pair → one row, keep_id 22
      (23L, "delta doc")
    ).toDF("doc_id", "text")
    val out = Dedup.incremental(batch, corpus, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((21L, 1L), (22L, 2L)))
  }

  test("editDistancePairs: banded levenshtein on candidates, -1 past threshold") {
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id1", "id2")
    val out = Dedup.editDistancePairs(pairs, docs, "doc_id", "text", threshold = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out((0L, 1L)) == 0)         // exact dup
    assert(out((0L, 2L)) == 8)         // " tonight" appended = 8 chars
    assert(out((0L, 3L)) == -1)        // unrelated: banded out past 10
    // prefix cap: distance computed on the first 4 chars only
    val pref = Dedup.editDistancePairs(pairs, docs, "doc_id", "text",
        threshold = 10, prefixLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pref((0L, 2L)) == 0)        // both prefixes are "the "
  }

  test("minhash signatures: identical texts share all hashes; estimated jaccard finds near dup") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 64)
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id1", "id2")
    val est = Dedup.estimatedJaccard(pairs, sigs, "doc_id", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est((0L, 1L)) == 1.0)            // exact dup: identical signature
    assert(est((0L, 2L)) > 0.6)             // near dup: high agreement
    assert(est((0L, 3L)) < 0.3)             // unrelated: low agreement
  }

  test("nearDupMinHash surfaces the planted near-dup pair and the exact pair") {
    val out = Dedup.nearDupMinHash(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((0L, 1L)))
    assert(out.contains((0L, 2L)))
    assert(!out.exists { case (a, b) => b == 3L || b == 4L && a == 3L })
  }

  test("shingle-entropy guard: natural text keeps char shingles") {
    // ~50 docs of distinct English-ish text: char-5 shingle occupancy is
    // high (most shingles novel) — the guard must not widen
    val natural = (0 until 50).map(i =>
      (i.toLong, s"document number $i talks about topic $i in its own words " +
        s"and adds unique trailing content ${i * 37} ${i * 91}"))
      .toDF("doc_id", "text")
    val occ = Dedup.shingleOccupancy(natural, "text", Dedup.CharShingles(5))
    assert(occ > 0.05, s"natural-text occupancy unexpectedly low: $occ")
    assert(Dedup.guardedShingler(natural, "text", Dedup.CharShingles(5))
      == Dedup.CharShingles(5))
  }

  test("shingle-entropy guard: low-entropy corpus widens to word shingles") {
    // DNA-like 4-letter alphabet: char-5 shingle space is 4^5 = 1024,
    // but 200 docs × ~500 slots emit ~100k instances — occupancy
    // collapses and LSH over char shingles would degenerate toward
    // all-pairs (the 40 M-doc soak's 882 M-candidate finding)
    val dna = (0 until 200).map { i =>
      val sb = new StringBuilder
      var x = i.toLong * 2654435761L + 17
      for (_ <- 0 until 500) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        sb.append("ACGT" (((x * 2685821657736338717L) >>> 62).toInt & 3))
      }
      (i.toLong, sb.toString)
    }.toDF("doc_id", "text")
    val occ = Dedup.shingleOccupancy(dna, "text", Dedup.CharShingles(5))
    assert(occ < 0.05, s"low-entropy occupancy not low enough to trip: $occ")
    assert(Dedup.guardedShingler(dna, "text", Dedup.CharShingles(5))
      == Dedup.WordShingles(3))
    // word shinglers and custom shinglers pass through untouched
    assert(Dedup.guardedShingler(dna, "text", Dedup.WordShingles(2))
      == Dedup.WordShingles(2))
    // and the guarded pipeline still runs end-to-end on the widened form
    val pairs = Dedup.nearDupMinHash(dna, "doc_id", "text", threshold = 0.9,
      guardEntropy = true)
    assert(pairs.count() >= 0L)
  }

  test("entropy guard is ON by default in nearDupMinHash") {
    // A planted pair that char shingles and word shingles DISAGREE on:
    // both docs are the same 4-periodic ACGT stream, one broken into
    // 25-char words, the other into 27-char words. Neither period is a
    // multiple of 4, so the space alignments cycle through all four
    // phases in both docs and the char-5 shingle SETS are identical
    // (jaccard 1.0) — while the word vocabularies (25-char vs 27-char
    // tokens) are disjoint, so word-3 jaccard is 0. With the guard OFF
    // the pair is reported; with the low occupancy tripping the
    // default-ON guard (auto-widen to word shingles) it is not. This
    // pins that the bare call takes the guarded path.
    def spaced(every: Int): String = {
      val raw = Seq.fill(500)("ACGT").mkString
      raw.grouped(every).mkString(" ")
    }
    // docs 2..79 are exact copies of doc 0 / doc 1: occupancy measures
    // cross-doc vocabulary sharing (corpus-distinct / sum of per-doc
    // distinct), so the guard needs many docs over the shared vocab to
    // trip — and the copies only add exact-dup pairs, which both regimes
    // agree on, leaving (0,1) as the discriminating pair
    val docs = (0 until 80).map(i => (i.toLong, spaced(25 + 2 * (i % 2))))
      .toDF("doc_id", "text")
    val occ = Dedup.shingleOccupancy(docs, "text", Dedup.CharShingles(5))
    assert(occ < 0.05, s"fixture not low-entropy enough to trip the guard: $occ")
    val guardOff = Dedup.nearDupMinHash(docs, "doc_id", "text", threshold = 0.5,
      guardEntropy = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guardOff.contains((0L, 1L)),
      "char-shingle (unguarded) run must pair the char-identical docs")
    val byDefault = Dedup.nearDupMinHash(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!byDefault.contains((0L, 1L)),
      "default must take the guarded (word-shingle) path and drop the pair")
  }

  test("exact jaccard: identical = 1.0, disjoint ≈ low") {
    val pairs = Seq((0L, 1L), (3L, 4L)).toDF("id1", "id2")
    val j = Dedup.exactJaccard(pairs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((3L, 4L)) < 0.2)
  }

  test("simhash: identical texts same fingerprint; near dup within small hamming") {
    val fp = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L))
    val hamNear = java.lang.Long.bitCount(fp(0L) ^ fp(2L))
    val hamFar = java.lang.Long.bitCount(fp(0L) ^ fp(3L))
    assert(hamNear < hamFar)
    assert(hamNear <= 12)
  }

  test("a hot band bucket emits all pairs of its family on a skewed corpus") {
    // one dominant near-dup family (identical text → identical band
    // hashes → ONE hot LSH bucket) plus distinct tail docs: the exact
    // shape where a band-bucket self-join skews onto one reducer
    val hot = (0L until 30L).map(i => (i, base))
    val tail = Seq(
      (100L, "completely different content about spark catalyst optimizer rules"),
      (101L, "yet another unrelated document on parquet column pruning today"))
    val skewed = (hot ++ tail).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(skewed, "doc_id", "text", numHashes = 64,
      shingler = Dedup.WordShingles(3))
    val bands = Dedup.lshBands(sigs, "doc_id", bands = 16, rowsPerBand = 4)
    val plain = Dedup.candidatePairs(bands, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.size == 30 * 29 / 2) // the hot family is all-pairs by construction
  }

  test("oversized LSH buckets cap pair generation: full pairs to the cap + min-id star") {
    // planted mass-duplicate family (60 identical docs → every band bucket
    // holds all 60 ids) well over maxBucket: the unbounded grouping form
    // would emit all 60·59/2 pairs from one reducer task per bucket; the
    // bound must emit exactly full pairs among the first maxBucket
    // (ascending-id) members plus a min-id star pair for every member
    // past the cap — bounded task output that still keeps the family one
    // connected component (the property downstream clustering needs)
    val family = (0L until 60L).map(i => (i, base))
    val tail = Seq(
      (200L, "an unrelated control document about shuffle partition sizing"),
      (201L, "another control document concerning broadcast join thresholds"))
    val df = (family ++ tail).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(df, "doc_id", "text", numHashes = 64,
      shingler = Dedup.WordShingles(3))
    val bands = Dedup.lshBands(sigs, "doc_id", bands = 16, rowsPerBand = 4)
    val bounded = Dedup.candidatePairs(bands, "doc_id", maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected =
      (for (i <- 0L until 8L; j <- (i + 1) until 8L) yield (i, j)).toSet ++
        (8L until 60L).map(j => (0L, j)).toSet
    assert(bounded == expected) // 28 capped-full + 52 star = bounded task output
    // the bound is a subset of the unbounded pair set and touches every member
    val unbounded = Dedup.candidatePairs(bands, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unbounded.size == 60 * 59 / 2) // default cap leaves this family alone
    assert(bounded.subsetOf(unbounded))
    assert((0L until 60L).forall(id => bounded.exists(p => p._1 == id || p._2 == id)))
    // connectivity preserved: clustering over the bounded pairs still
    // labels the whole family as ONE component under the min id
    val cc = Dedup.connectedComponents(
      Dedup.candidatePairs(bands, "doc_id", maxBucket = 8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 60L).forall(cc(_) == 0L))
  }

  test("a 200 000-id bucket at maxBucket 8 emits exactly 28 clique pairs plus 199 992 star pairs") {
    // one mass-duplicate bucket, ids scrambled so the in-partition sort
    // does the ordering: the scan holds 8 ids and streams the rest
    val n = 200000L
    val bands = spark.range(0, n).select(lit(0).as("band_id"), lit(7L).as("band_hash"),
      ((col("id") * 7919L) % n * 3L).as("doc_id"))
    val got = Dedup.candidatePairs(bands, "doc_id", maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected =
      (for (i <- 0L until 8L; j <- (i + 1) until 8L) yield (i * 3L, j * 3L)).toSet ++
        (8L until n).map(j => (0L, j * 3L))
    assert(got.size == 28 + 199992)
    assert(got == expected)
  }

  test("span dedup: flags shared 5-token windows, prunes exactly those spans") {
    val shared = "alpha beta gamma delta epsilon" // one shared 5-token span
    val spanDocs = Seq(
      (0L, s"intro words here $shared closing words"),
      (1L, s"other document starts $shared and then diverges fully"),
      (2L, "a totally unrelated text with no shared window at all")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDuplicates(spanDocs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
    // doc 0: 10 tokens, the shared window covers positions 3..7
    assert(out(0).getLong(1) == 10L && out(0).getLong(2) == 5L)
    assert(out(0).getString(4) == "intro words here closing words")
    // doc 1: shared window at 3..7 of 10 tokens
    assert(out(1).getLong(2) == 5L)
    assert(out(1).getString(4) == "other document starts and then diverges fully")
    // doc 2: untouched — zero coverage, text round-trips unchanged
    assert(out(2).getLong(2) == 0L && out(2).getDouble(3) == 0.0)
    assert(out(2).getString(4) == spanDocs.filter(col("doc_id") === 2)
      .head().getString(1))
  }

  test("span dedup: overlapping duplicated windows merge their coverage") {
    // docs 0/1 share a 6-token run → two overlapping 5-gram windows in
    // each; coverage must count the 6 distinct tokens, not 10
    val run = "one two three four five six"
    val spanDocs = Seq(
      (0L, s"$run tail0 tail1"),
      (1L, s"head0 head1 $run")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDuplicates(spanDocs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(2) == 6L)
    assert(out(0).getString(4) == "tail0 tail1")
    assert(out(1).getLong(2) == 6L)
    assert(out(1).getString(4) == "head0 head1")
  }

  test("span dedup: documents shorter than the window are passed through") {
    val spanDocs = Seq((0L, "tiny doc"), (1L, "tiny doc")).toDF("doc_id", "text")
    val out = Dedup.spanDuplicates(spanDocs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
    assert(out.forall(_.getLong(2) == 0L))
    assert(out.forall(_.getString(4) == "tiny doc"))
  }

  test("connected components: converges on a long chain and labels with the min id") {
    // 13-node path graph — label 0 needs 12 propagation rounds to reach
    // the far end; exercises the checkpointed loop well past the depth
    // any single round covers
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.keySet == (0L to 12L).toSet)
    assert(cc.values.forall(_ == 0L))
  }

  test("connected components label transitive clusters with the min id") {
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 4L), (7L, 7L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L) // chain 1-2-3
    assert(cc(4L) == 4L && cc(5L) == 4L)
    assert(cc(7L) == 7L)
  }

  test("nearDupClusters maps every doc; near-dups share a representative") {
    val out = Dedup.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L))      // total mapping
    assert(out(0L) == 0L && out(1L) == 0L && out(2L) == 0L) // dup cluster
    assert(out(3L) == 3L && out(4L) == 4L)             // singletons map to self
    // keep-one dedup drops exactly the non-representatives
    val kept = out.count { case (id, rep) => id == rep }
    assert(kept == 3)
  }

  test("nearDupSimHash blocks + verifies the exact pair") {
    val out = Dedup.nearDupSimHash(docs, "doc_id", "text", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((0L, 1L)))
  }

  test("hammingPairs64 recall holds at every budget: blocks sized to maxHamming") {
    // adversarial placement: the flipped bits land one per 16-bit quarter
    // (bits 0, 16, 32, 48, 63), so a FIXED 4-block scheme shares no block
    // at distance >= 4 and would silently drop the pair — the pigeonhole
    // only guarantees recall when there are maxHamming + 1 blocks
    val base = 0x0123456789ABCDEFL
    def flip(bits: Int*) = bits.foldLeft(base)((v, b) => v ^ (1L << b))
    val fps = Seq(
      (0L, base),
      (1L, flip(0, 16, 32, 48, 63)), // hamming 5 from base
      (2L, flip(0, 16, 32)), // hamming 3
      (3L, ~base) // hamming 64: must never pair
    ).toDF("id", "fp")
    def pairs(h: Int) = Dedup.hammingPairs64(fps, "id", "fp", maxHamming = h)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    val atFive = pairs(5)
    assert(atFive.contains((0L, 1L, 5L)), s"hamming-5 pair lost: $atFive")
    assert(atFive.contains((0L, 2L, 3L)))
    assert(!atFive.exists(p => p._1 == 3L || p._2 == 3L))
    // tighter budget excludes the distance-5 pair but keeps distance-3
    val atThree = pairs(3)
    assert(!atThree.contains((0L, 1L, 5L)))
    assert(atThree.contains((0L, 2L, 3L)))
    // degenerate family: identical fingerprints ride the capped kernel —
    // star pairs verify at hamming 0, the family clusters whole
    val family = (10L until 40L).map((_, 0L)) :+ ((50L, base))
    val famPairs = Dedup.hammingPairs64(
        family.toDF("id", "fp"), "id", "fp", maxHamming = 2, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((11L until 40L).forall(j => famPairs.contains((10L, j))
        || (10L until j).exists(i => famPairs.contains((i, j)))),
      "every family member must pair despite the cap")
    assert(!famPairs.exists(p => p._1 == 50L || p._2 == 50L))
  }

  test("hammingPairs64 multi-block subsets match brute force exactly") {
    // the scale form (nBlocks > maxHamming + 1, Manku-style block
    // subsets) must return the IDENTICAL pair set to brute-force
    // all-pairs Hamming — recall is exact by pigeonhole, precision by
    // the verify step. Deterministic fingerprints with a spread of
    // distances, checked at several (maxHamming, nBlocks) settings.
    val rng = new scala.util.Random(42)
    val fpSeq = (0L until 64L).map(i => (i, rng.nextLong())) ++
      Seq((100L, 7L), (101L, 7L ^ 0x8001L), (102L, 7L ^ 0x0110000000000001L))
    val fps = fpSeq.toDF("id", "fp")
    def brute(h: Int) = (for {
      (i, a) <- fpSeq; (j, b) <- fpSeq if i < j
      d = java.lang.Long.bitCount(a ^ b) if d <= h
    } yield (i, j, d.toLong)).toSet
    for ((h, nb) <- Seq((3, 6), (3, 8), (2, 5), (5, 8))) {
      val got = Dedup.hammingPairs64(fps, "id", "fp", maxHamming = h, nBlocks = nb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
      assert(got == brute(h), s"mismatch at maxHamming=$h nBlocks=$nb")
    }
  }

  test("hamming index probe: index side never reshuffles; planted flips found") {
    // writeHammingIndex's 100 TB contract, proven like the band-index
    // test: the corpus' block-subset band table and fingerprint table are
    // bucketed write-once; hammingAgainstIndex bands only the BATCH and
    // joins both index tables without an Exchange on the index side.
    val tag = System.nanoTime()
    val prefix = s"ham_idx_$tag"
    val rng = new scala.util.Random(7)
    val corpusFps = (0L until 300L).map(i => (i, rng.nextLong()))
    val corpus = corpusFps.toDF("id", "fp")
    val batch = Seq(
      (9042L, corpusFps(42)._2 ^ ((1L << 5) | (1L << 44))), // hamming 2 of #42
      (9100L, rng.nextLong()) // unrelated: ~0 chance within 3 of any corpus fp
    ).toDF("id", "fp")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Dedup.writeHammingIndex(corpus, "id", "fp", prefix,
        maxHamming = 3, nBlocks = 6, numBuckets = 4)
      val out = Dedup.hammingAgainstIndex(spark, prefix, batch, "id", "fp")
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scans not bucketed:\n$plan")
      def exchanges(p: String) = p.split("Exchange hashpartitioning").length - 1
      // unbucketed twin: same probe against plain DataFrame copies of the
      // index tables — the bucketed index must pay two fewer exchanges
      val unbucketedT = s"${prefix}_plain"
      spark.table(s"${prefix}_bands").write.saveAsTable(s"${unbucketedT}_bands")
      spark.table(s"${prefix}_fps").write.saveAsTable(s"${unbucketedT}_fps")
      spark.table(s"${prefix}_meta").write.saveAsTable(s"${unbucketedT}_meta")
      val unbucketed = Dedup.hammingAgainstIndex(spark, unbucketedT, batch, "id", "fp")
      assert(exchanges(plan) ==
        exchanges(unbucketed.queryExecution.executedPlan.toString) - 2,
        s"bucketed hamming index did not eliminate both index-side exchanges:\n$plan")
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.toSeq == Seq((9042L, 42L, 2)), s"got: ${rows.toSeq}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq(s"${prefix}_bands", s"${prefix}_fps", s"${prefix}_meta",
        s"${prefix}_plain_bands", s"${prefix}_plain_fps", s"${prefix}_plain_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("span dedup against a materialized gram index: index side never reshuffles") {
    // writeGramIndex's 100 TB contract: the corpus' duplicated-gram set
    // is bucketed write-once by gram hash; spanDuplicatesAgainstIndex
    // windows only the BATCH and joins the index without an Exchange on
    // the index side. Semantics: at minDocs=1 every original-text
    // position of a re-id'd corpus doc comes back covered, a wholly
    // novel doc comes back untouched.
    val tag = System.nanoTime()
    val prefix = s"gram_idx_$tag"
    val corpus = (0 until 100)
      .map(i => (i.toLong, s"historic document number $i carries topic ${i % 5} " +
        "and deterministic shared filler content"))
      .toDF("doc_id", "text")
    val origLen = corpus.head().getString(1).split(" ").length
    val batch = Seq(
      (9042L, "historic document number 42 carries topic 2 " +
        "and deterministic shared filler content qz1 qz2 qz3"),
      (9100L, "qa1 qa2 qa3 qa4 qa5 qa6 qa7 qa8"))
      .toDF("doc_id", "text")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Dedup.writeGramIndex(corpus, "doc_id", "text", n = 4, prefix,
        minDocs = 1, numBuckets = 4)
      val out = Dedup.spanDuplicatesAgainstIndex(spark, prefix, batch,
        "doc_id", "text")
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      def exchanges(p: String) = p.split("Exchange hashpartitioning").length - 1
      spark.table(s"${prefix}_grams").write.saveAsTable(s"${prefix}_plain_grams")
      spark.table(s"${prefix}_meta").write.saveAsTable(s"${prefix}_plain_meta")
      val unbucketed = Dedup.spanDuplicatesAgainstIndex(spark, s"${prefix}_plain",
        batch, "doc_id", "text")
      assert(exchanges(plan) ==
        exchanges(unbucketed.queryExecution.executedPlan.toString) - 1,
        s"bucketed gram index did not eliminate its exchange:\n$plan")
      val rows = out.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4))))
        .toMap
      // every original position covered (source doc is in the index);
      // the 3 novel tail tokens survive the pruning
      assert(rows(9042L) == ((origLen + 3L, origLen.toLong, "qz1 qz2 qz3")),
        s"got: ${rows(9042L)}")
      // wholly novel doc: nothing covered, text intact
      assert(rows(9100L) == ((8L, 0L, "qa1 qa2 qa3 qa4 qa5 qa6 qa7 qa8")))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq(s"${prefix}_grams", s"${prefix}_meta",
        s"${prefix}_plain_grams", s"${prefix}_plain_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("incremental dedup against a BUCKETED fingerprint index: index side never reshuffles") {
    // the 100 TB shape Dedup.incremental documents: the historical corpus'
    // fingerprint set materialized ONCE as a bucketed table, so each
    // day's batch anti-join co-locates with it instead of reshuffling the
    // whole index per batch. Proven on the plan: the index-side scan is
    // bucketed and the only hash exchange is the (small) batch side.
    val tag = System.nanoTime()
    val idxT = s"fp_index_$tag"
    val corpus = (0 until 400).map(i => (i.toLong, s"historic doc $i"))
      .toDF("doc_id", "text")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      IndexTables.bucketed(
        corpus.select(md5(col("text")).as("fp")).distinct(),
        idxT, Seq("fp"), 4, Some("fp"))
      val batch = (380 until 420).map(i => (i + 1000L, s"historic doc $i"))
        .toDF("doc_id", "text") // 20 dup, 20 new
      val out = Dedup.incremental(batch, spark.table(idxT), "text", "doc_id",
        corpusIsFingerprintIndex = true)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      def exchanges(p: String) = p.split("Exchange hashpartitioning").length - 1
      // the batch side pays its two exchanges (its own dedup agg + join
      // alignment); the bucketed index side pays NONE — one fewer than
      // the identical join against a non-bucketed index
      val unbucketed = Dedup.incremental(batch,
        corpus.select(md5(col("text")).as("fp")),
        "text", "doc_id", corpusIsFingerprintIndex = true)
      assert(exchanges(plan) ==
        exchanges(unbucketed.queryExecution.executedPlan.toString) - 1,
        s"bucketed index did not eliminate its exchange:\n$plan")
      assert(out.count() == 20L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $idxT")
    }
  }

  test("near-dup against a materialized band index: index side never reshuffles") {
    // writeBandIndex's 100 TB contract: the corpus' band table (bucketed
    // by band_id, band_hash) and signature table (bucketed by id) are
    // written once; nearDupAgainstIndex shingles only the BATCH and joins
    // both index tables without an Exchange on the index side — proven
    // the same way as the fingerprint-index test: bucketed scans in the
    // plan, and exactly two fewer exchanges than the identical join
    // against unbucketed copies of the same tables.
    val tag = System.nanoTime()
    val prefix = s"band_idx_$tag"
    val corpus = (0 until 200)
      .map(i => (i.toLong, s"historic document number $i about topic ${i % 7} " +
        s"with deterministic filler content for shingling"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of corpus doc 42 (appended tail) — must be found
      (9042L, "historic document number 42 about topic 0 " +
        "with deterministic filler content for shingling plus tail"),
      (9100L, "a wholly unrelated batch document mentioning nothing shared"))
      .toDF("doc_id", "text")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Dedup.writeBandIndex(corpus, "doc_id", "text", prefix,
        numHashes = 64, bands = 16, shingler = Dedup.WordShingles(3),
        numBuckets = 4)
      // estimate-only form: its plan is exactly the two index joins
      val est = Dedup.nearDupAgainstIndex(batch,
        spark.table(s"${prefix}_bands"), spark.table(s"${prefix}_sigs"),
        "doc_id", "text", threshold = 0.5,
        shingler = Dedup.WordShingles(3))
      val plan = est.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"index scans not bucketed:\n$plan")
      def exchanges(p: String) = p.split("Exchange hashpartitioning").length - 1
      val sigsPlain = Dedup.minHashSignatures(corpus, "doc_id", "text",
        shingler = Dedup.WordShingles(3))
      val unbucketed = Dedup.nearDupAgainstIndex(batch,
        Dedup.lshBands(sigsPlain, "doc_id", 16, 4), sigsPlain,
        "doc_id", "text", threshold = 0.5,
        shingler = Dedup.WordShingles(3))
      assert(exchanges(plan) ==
        exchanges(unbucketed.queryExecution.executedPlan.toString) - 2,
        s"bucketed band index did not eliminate both index-side exchanges:\n$plan")
      // the verified form surfaces the planted near-dup; same-topic corpus
      // docs differ by one token so they legitimately pair too, but only
      // with the near-dup batch doc (9042), never the unrelated one, and
      // the planted source doc 42 must carry the highest jaccard
      val verified = Dedup.nearDupAgainstIndex(batch,
        spark.table(s"${prefix}_bands"), spark.table(s"${prefix}_sigs"),
        "doc_id", "text", threshold = 0.5,
        shingler = Dedup.WordShingles(3), corpusText = Some(corpus))
        .collect()
      assert(verified.nonEmpty)
      assert(verified.forall(_.getLong(0) == 9042L))
      assert(verified.exists(r => r.getLong(1) == 42L && r.getDouble(2) > 0.5))
      assert(verified.maxBy(_.getDouble(2)).getLong(1) == 42L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_sigs")
    }
  }

  test("absorb closes the incremental dedup lifecycle: probe → accept → absorb") {
    // day 1: build the index. day 2: probe a batch, absorb the survivors.
    // day 3: a near-dup of a day-2 SURVIVOR must now be caught — and the
    // absorbed tables must still probe exchange-free (append preserved
    // the catalog bucket spec).
    val tag = System.nanoTime()
    val prefix = s"band_absorb_$tag"
    val corpus = (0 until 100)
      .map(i => (i.toLong, s"historic document number $i about topic ${i % 5} " +
        s"with deterministic filler content for shingling"))
      .toDF("doc_id", "text")
    val day2 = Seq(
      (9000L, "a genuinely novel day-two document with entirely fresh wording"))
      .toDF("doc_id", "text")
    val day3 = Seq(
      (9500L, "a genuinely novel day-two document with entirely fresh wording and tail"))
      .toDF("doc_id", "text")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Dedup.writeBandIndex(corpus, "doc_id", "text", prefix,
        numHashes = 64, bands = 16, shingler = Dedup.WordShingles(3),
        numBuckets = 4)
      // day 2: the novel doc matches nothing pre-absorb
      val texts = corpus.unionByName(day2)
      assert(Dedup.nearDupAgainstIndex(spark, prefix, day2, "doc_id", "text",
        threshold = 0.5, corpusText = Some(corpus)).isEmpty)
      Dedup.absorbIntoBandIndex(spark, prefix, day2, "text")
      // absorbed rows landed in both tables
      assert(spark.table(s"${prefix}_sigs").filter(col("doc_id") === 9000L).count() == 1)
      // day 3: a near-dup of the absorbed survivor is caught by the index
      val hits = Dedup.nearDupAgainstIndex(spark, prefix, day3, "doc_id", "text",
        threshold = 0.5, corpusText = Some(texts)).collect()
      assert(hits.exists(r => r.getLong(0) == 9500L && r.getLong(1) == 9000L
        && r.getDouble(2) > 0.5), s"absorbed doc not found: ${hits.mkString(",")}")
      // and the probe against the APPENDED tables is still exchange-free
      // on the index side (bucketed scans survive the append)
      val plan = Dedup.nearDupAgainstIndex(day3,
        spark.table(s"${prefix}_bands"), spark.table(s"${prefix}_sigs"),
        "doc_id", "text", threshold = 0.5, shingler = Dedup.WordShingles(3))
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"append broke bucketed scans:\n$plan")
      // idempotence probe: the absorbed doc self-matches at estimate 1.0
      val self = Dedup.nearDupAgainstIndex(spark, prefix,
        day2.select((col("doc_id") + 1000L).as("doc_id"), col("text")),
        "doc_id", "text", threshold = 0.99, corpusText = None).collect()
      assert(self.exists(r => r.getLong(1) == 9000L && r.getDouble(2) == 1.0))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_sigs")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_meta")
    }
  }

  test("absorbIntoHammingIndex: appended fingerprints are probed exchange-free") {
    val tag = System.nanoTime()
    val prefix = s"ham_absorb_$tag"
    val corpus = (0 until 64)
      .map(i => (i.toLong, i.toLong * 0x9E3779B97F4A7C15L))
      .toDF("id", "fp")
    val day2 = Seq((900L, 0x0123456789ABCDEFL)).toDF("id", "fp")
    // 2-bit flip of the absorbed fingerprint — catchable at maxHamming 3
    val day3 = Seq((950L, 0x0123456789ABCDEFL ^ 0x3L)).toDF("id", "fp")
    try {
      Dedup.writeHammingIndex(corpus, "id", "fp", prefix,
        maxHamming = 3, numBuckets = 4)
      Dedup.absorbIntoHammingIndex(spark, prefix, day2)
      val hits = Dedup.hammingAgainstIndex(spark, prefix, day3, "id", "fp").collect()
      assert(hits.exists(r => r.getLong(0) == 950L && r.getLong(1) == 900L
        && r.getInt(2) == 2), s"absorbed fp not found: ${hits.mkString(",")}")
      val plan = Dedup.hammingAgainstIndex(spark, prefix, day3, "id", "fp")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"append broke bucketed scans:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_fps")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_meta")
    }
  }
}
