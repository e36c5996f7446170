package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Stage-by-stage timing of the MinHash-LSH pipeline (bench tuning aid)
  * over any parquet of (doc_id, text) documents: an sf corpus's
  * `documents.parquet`, or a ScaleSoak corpus (`ScaleSoak.docsDir`).
  * Persisted intermediates use the default MEMORY_AND_DISK level.
  *
  * Usage: runMain graft.tools.DedupProfile <documents parquet path>
  */
object DedupProfile {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: DedupProfile <documents parquet path>")
    val spark = Harness.session(32, 32, Harness.NanosAsLong)
    val docs = spark.read.parquet(args(0))
    docs.count() // warm

    def time[T](label: String)(f: => T): T = Harness.step(spark)(f).report("prof", label)

    val sh = Dedup.WordShingles(3)
    time("shingles-only") {
      docs.select(sh("text").as("s")).selectExpr("sum(size(s))").collect()
    }
    time("shingles-again") {
      docs.select(sh("text").as("s")).selectExpr("sum(size(s))").collect()
    }
    time("minhash-on-top") {
      docs.select(graft.functions.MinHashSignature
        .minhash_signature(sh("text"), 64).as("sig"))
        .selectExpr("sum(size(sig))").collect()
    }
    time("minhash-again") {
      docs.select(graft.functions.MinHashSignature
        .minhash_signature(sh("text"), 64).as("sig"))
        .selectExpr("sum(size(sig))").collect()
    }
    val sigs = time("signatures") {
      val s0 = Dedup.minHashSignatures(docs, "doc_id", "text", 64, sh)
        .persist()
      s0.count(); s0
    }
    val bands = time("bands") {
      val b = Dedup.lshBands(sigs, "doc_id", 16, 4).persist()
      b.count(); b
    }
    val cand = time("candidates") {
      val c = Dedup.candidatePairs(bands, "doc_id").persist()
      println(s"  candidate pairs: ${c.count()}")
      c
    }
    val probable = time("est-prefilter") {
      val p = Dedup.estimatedJaccard(cand, sigs, "doc_id", 64)
        .filter(col("est_jaccard") >= 0.3).select("id1", "id2").persist()
      println(s"  probable pairs: ${p.count()}")
      p
    }
    time("exact-verify") {
      println(s"  verified: ${Dedup.exactJaccard(probable, docs, "doc_id", "text", sh)
        .filter(col("jaccard") >= 0.5).count()}")
    }
    val pairs = time("pairs-materialize") {
      val p = Dedup.exactJaccard(probable, docs, "doc_id", "text", sh)
        .filter(col("jaccard") >= 0.5).select("id1", "id2").persist()
      println(s"  pairs: ${p.count()}")
      p
    }
    time("connected-components") {
      println(s"  labels: ${Dedup.connectedComponents(pairs).count()}")
    }
    time("full-clusters-fresh") {
      Dedup.nearDupClusters(docs, "doc_id", "text", 0.5, shingler = sh).count()
    }
    spark.stop()
  }
}
