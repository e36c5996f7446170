package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer (Wu et al., "Google's Neural Machine Translation
  * System", 2016; the BERT tokenizer) — the third tokenizer family next
  * to [[Bpe]] (frequency-scored merges) and [[Unigram]] (probabilistic
  * pruning). WordPiece differs from BPE in ONE training rule — merges are
  * scored by likelihood gain `count(ab) / (count(a)·count(b))`, not raw
  * pair frequency — and in its serve rule: greedy longest-match-first
  * segmentation against the vocabulary, with `##` continuation pieces and
  * an `[UNK]` fallback, instead of replaying merges.
  *
  * Distributed shape is identical to the other two trainers (this is what
  * corpus-scale tokenizer training looks like everywhere): the only
  * corpus-sized computation is the word histogram — one map-side-combined
  * aggregation ([[Bpe.wordHistogram]]) — and the merge loop runs
  * driver-side over the vocabulary-sized histogram. Serving is a map-only
  * codegen'd scan with the vocab as a plan-resident reference object
  * ([[graft.functions.WordPieceOps]]).
  */
object WordPiece {

  /** Train a WordPiece vocabulary over a (word, count) histogram:
    * `numMerges` likelihood-scored merge rounds. Symbols carry position:
    * a word's first piece is bare, the rest are `##`-prefixed; merging
    * never crosses a word-start boundary. Deterministic: likelihood ties
    * break by pair frequency, then lexicographically. Returns the full
    * piece vocabulary: all single-character pieces (both positions) seen
    * in the histogram, plus every merged piece, in a stable order.
    */
  def trainVocab(
      hist: Seq[(String, Long)],
      numMerges: Int,
      minPairCount: Long = 2L): Seq[String] = {
    val words = hist.map { case (w, c) =>
      val cps = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val piece = new String(Character.toChars(cp))
        cps += (if (i == 0) piece else "##" + piece)
        i += Character.charCount(cp)
      }
      (cps, c)
    }.toArray
    val baseVocab = scala.collection.mutable.LinkedHashSet.empty[String]
    words.map(_._1).flatten.sorted.foreach(baseVocab += _)
    val merged = new scala.collection.mutable.ArrayBuffer[String]()
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length) {
          symCounts.update(syms(j), symCounts.getOrElse(syms(j), 0L) + c)
          if (j < syms.length - 1) {
            val k = (syms(j), syms(j + 1))
            pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          }
          j += 1
        }
      }
      // likelihood score n_ab/(n_a·n_b), compared exactly by cross-
      // multiplication in BigInt (no float ties); ties → frequency → lex
      var best: (String, String) = null
      var bestN = 0L
      var bestNum: BigInt = null // n_ab
      var bestDen: BigInt = null // n_a·n_b
      pairCounts.foreach { case (pair, n) =>
        if (n >= minPairCount) {
          val num = BigInt(n)
          val den = BigInt(symCounts(pair._1)) * BigInt(symCounts(pair._2))
          val cmp =
            if (best == null) 1
            else {
              val c0 = (num * bestDen).compare(bestNum * den)
              if (c0 != 0) c0
              else {
                val c1 = n.compare(bestN)
                if (c1 != 0) c1
                else {
                  val c2 = -pair._1.compareTo(best._1)
                  if (c2 != 0) c2 else -pair._2.compareTo(best._2)
                }
              }
            }
          if (cmp > 0) { best = pair; bestN = n; bestNum = num; bestDen = den }
        }
      }
      if (best == null) exhausted = true
      else {
        val joined = best._1 + best._2.stripPrefix("##")
        merged += joined
        words.foreach { case (syms, _) =>
          var j = 0
          while (j < syms.length - 1) {
            if (syms(j) == best._1 && syms(j + 1) == best._2) {
              syms(j) = joined
              syms.remove(j + 1)
            } else j += 1
          }
        }
        round += 1
      }
    }
    (baseVocab ++ merged).toSeq
  }

  /** Train from a corpus: distributed histogram (truncated to the
    * `maxWords` most frequent types, deterministic order), driver-side
    * merge loop — [[Bpe.train]]'s division of labor.
    */
  def train(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      maxWords: Int = 100000): Seq[String] = {
    val hist = Bpe.wordHistogram(df, textCol)
      .orderBy(col("n").desc, col("word"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainVocab(hist.toSeq, numMerges)
  }

  /** The trained vocabulary as a write-once artifact table. */
  def vocabDf(spark: SparkSession, vocab: Seq[String]): DataFrame = {
    import spark.implicits._
    vocab.zipWithIndex.map { case (p, i) => (i, p) }.toDF("piece_id", "piece")
  }
}
