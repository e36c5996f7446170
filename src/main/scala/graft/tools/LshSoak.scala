package graft.tools

/** Round-12 dedup scale soak: the LSH near-dup pipeline and the span
  * gram index at corpus sizes 10× the previous largest measured point
  * (2 M docs, PERF.md's round-8 soak) — the evidence the 100-TB claims in
  * [[graft.ext.Dedup]] ride on.
  *
  * Two properties are asserted by measurement, per scale point:
  *
  *   1. **Shuffle volume scales with docs × bands, never with pairs.**
  *      The only shuffle in the candidate pipeline is the band-bucket
  *      groupBy; its write volume is one (band_id, band_hash, id) row
  *      per doc per band. A pairs-shaped shuffle would grow with the
  *      number of CANDIDATE PAIRS (quadratic inside dup families); the
  *      printed shuffle-write (shufW) column doubling (not quadrupling)
  *      from 10 M → 20 M docs is the proof.
  *   2. **Wall stays near-linear in docs.** Both stages are one keyed
  *      shuffle plus map work; doubling docs should ~double wall.
  *
  * Usage: runMain graft.tools.LshSoak [docsMillions,docsMillions,...] [only]
  *        (default "10,20"; `only` = comma-separated substrings — only
  *        stages whose name contains one run, the re-measurement loop
  *        every soak tool here carries)
  */
object LshSoak {
  def main(args: Array[String]): Unit = {
    val points: Seq[Long] = args.headOption
      .map(_.split(",").toSeq.filter(_.nonEmpty).map(_.trim.toLong))
      .getOrElse(Seq(10L, 20L))
      .map(_ * 1000000L)
    val pid = ProcessHandle.current().pid()
    val spark = Harness.session(32, 64,
      Map("spark.sql.warehouse.dir" -> s"/tmp/graft_lshsoak_wh_$pid"))
    // each stage's executor CPU and shuffle write volume are its
    // contention-independent cost (wall clock on this host is noisy)
    val timed = new Harness.Stages(spark, "lshsoak", args.lift(1))

    points.foreach { n =>
      val m = n / 1000000L
      // materialized once per size: corpus generation must not be paid
      // inside a stage's timing (the round-7 wordpiece_stats artifact)
      val docs = ScaleSoak.docs(spark, n)

      timed(s"lsh_candidates_${m}m", n) {
        // the full near-dup candidate pipeline: map-only signatures →
        // map-only banding → ONE keyed shuffle into band buckets →
        // bounded pair generation. ~10% of the corpus is a planted
        // exact/near dup (ScaleSoak.corpus), so real pairs exist.
        // WORD shingles (the doc-level dedup configuration): the
        // synthetic corpus draws from a 600-token vocabulary, so char-5
        // shingles overlap heavily between UNRELATED docs (measured:
        // 882 M candidate pairs at 10 M docs — the pair side, not the
        // band side, became the shuffle) while 3-word shingles live in
        // a 600³ space where random collision is negligible.
        val sigs = graft.ext.Dedup.minHashSignatures(
          docs, "doc_id", "text", numHashes = 64,
          shingler = graft.ext.Dedup.WordShingles(3), widen = false)
        val bands = graft.ext.Dedup.lshBands(sigs, "doc_id",
          bands = 16, rowsPerBand = 4)
        graft.ext.Dedup.candidatePairs(bands, "doc_id").count()
      }

      // Entropy-guard measurement (select with `guard`): the ScaleSoak
      // corpus draws from a 600-token vocabulary, so char-5 shingles ARE
      // the low-entropy misconfiguration — the probe must detect it on a
      // 2048-doc sample (microseconds of cluster time) and widen, and
      // the measured candidate-pair counts quantify what the widen
      // avoids (the knob's effect, recorded in PERF.md).
      timed(s"guard_probe_${m}m", n) {
        val occ = graft.ext.Dedup.shingleOccupancy(
          docs, "text", graft.ext.Dedup.CharShingles(5))
        val widened = graft.ext.Dedup.guardedShingler(
          docs, "text", graft.ext.Dedup.CharShingles(5)) match {
          case _: graft.ext.Dedup.WordShingles => 1L
          case _ => 0L
        }
        println(f"[lshsoak] guard occupancy=$occ%.4f widened=$widened")
        widened
      }
      timed(s"guard_char_${m}m", n) {
        // the misconfigured run the guard prevents — candidate pairs
        // from char-5 shingles on the low-entropy corpus
        val sigs = graft.ext.Dedup.minHashSignatures(
          docs, "doc_id", "text", numHashes = 64,
          shingler = graft.ext.Dedup.CharShingles(5), widen = false)
        val bands = graft.ext.Dedup.lshBands(sigs, "doc_id",
          bands = 16, rowsPerBand = 4)
        graft.ext.Dedup.candidatePairs(bands, "doc_id").count()
      }
      timed(s"guard_widened_${m}m", n) {
        // the same pipeline routed through the guard (auto-widened)
        val sh = graft.ext.Dedup.guardedShingler(
          docs, "text", graft.ext.Dedup.CharShingles(5))
        val sigs = graft.ext.Dedup.minHashSignatures(
          docs, "doc_id", "text", numHashes = 64, shingler = sh,
          widen = false)
        val bands = graft.ext.Dedup.lshBands(sigs, "doc_id",
          bands = 16, rowsPerBand = 4)
        graft.ext.Dedup.candidatePairs(bands, "doc_id").count()
      }

      timed(s"gram_index_${m}m", n) {
        // write-once bucketed duplicated-gram index: tokenize + window
        // map-side, ONE groupBy(_g) shuffle, bucketed parquet sink
        graft.ext.Dedup.writeGramIndex(docs, "doc_id", "text", n = 4,
          tablePrefix = s"lshsoak_${m}m", minDocs = 2, numBuckets = 64,
          basePath = Some(s"/tmp/graft_lshsoak_idx_${pid}_$m"))
        spark.table(s"lshsoak_${m}m_grams").count()
      }
    }

    // soak artifacts are throwaway — reclaim /tmp
    points.foreach { n =>
      val m = n / 1000000L
      spark.sql(s"DROP TABLE IF EXISTS lshsoak_${m}m_grams")
      spark.sql(s"DROP TABLE IF EXISTS lshsoak_${m}m_meta")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"/tmp/graft_lshsoak_idx_${pid}_$m"))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"/tmp/graft_lshsoak_wh_$pid"))
    spark.stop()
  }
}
