package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-style, Kudo ACL 2018) segmentation against a
  * trained piece table: each word takes its maximum-likelihood
  * segmentation under independent piece log-probabilities, found by
  * Viterbi DP over character positions. The twin of [[BpeOps]] — the two
  * tokenizer families production pipelines actually choose between — and
  * the same serving shape: the trained table rides the plan as a
  * reference object ([[BpeTokens]] pattern), tokenization is one
  * codegen'd map-only scan.
  *
  * Determinism contract (what makes the output reproducible anywhere):
  * ties in the DP prefer the segmentation whose LAST piece is longer
  * (i.e. the earlier split point); unknown characters fall back to a
  * fixed `unkLogProb` so every word is totally segmentable. Pieces
  * concatenate back to the word exactly — lossless by construction.
  */
object UnigramOps {

  /** Max-likelihood segmentation of one word. `table` maps piece →
    * log-probability; pieces longer than `maxPieceLen` are never
    * considered (bounds the DP inner loop: O(|word|·maxPieceLen)).
    */
  def viterbi(
      word: String,
      table: java.util.HashMap[String, java.lang.Double],
      maxPieceLen: Int,
      unkLogProb: Double): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val best = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    java.util.Arrays.fill(best, Double.NegativeInfinity)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      val lo = math.max(0, i - maxPieceLen)
      var j = lo
      while (j < i) {
        if (best(j) > Double.NegativeInfinity) {
          val lp = table.get(word.substring(j, i))
          val sc =
            if (lp != null) best(j) + lp
            // unknown fallback only at single-char grain: totality
            // without letting arbitrary unseen substrings score
            else if (i - j == 1) best(j) + unkLogProb
            else Double.NegativeInfinity
          // strict > prefers the SMALLEST j seen so far on ties — i.e.
          // the longest final piece (j iterates ascending)
          if (sc > best(i)) { best(i) = sc; back(i) = j }
        }
        j += 1
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var p = n
    while (p > 0) { out += word.substring(back(p), p); p = back(p) }
    out.reverseIterator.toArray
  }

  /** Tokenize whitespace-split text: every word's unigram pieces, in
    * order (the [[BpeOps.encodeText]] convention).
    */
  def encodeText(
      text: UTF8String,
      table: java.util.HashMap[String, java.lang.Double],
      maxPieceLen: Int,
      unkLogProb: Double): ArrayData = {
    val words = text.toString.split("\\s+")
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var w = 0
    while (w < words.length) {
      if (words(w).nonEmpty) {
        val pieces = viterbi(words(w), table, maxPieceLen, unkLogProb)
        var p = 0
        while (p < pieces.length) {
          out += UTF8String.fromString(pieces(p))
          p += 1
        }
      }
      w += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  def buildTable(vocab: Seq[(String, Double)]): java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](vocab.size * 2)
    vocab.foreach { case (p, lp) => m.putIfAbsent(p, java.lang.Double.valueOf(lp)) }
    m
  }

  def unigram_tokens(text: Column, vocab: Seq[(String, Double)],
      maxPieceLen: Int = 16, unkLogProb: Double = -20.0): Column =
    Bridge.column(UnigramTokens(Bridge.expression(text), vocab, maxPieceLen, unkLogProb))
}

case class UnigramTokens(
    child: Expression,
    vocab: Seq[(String, Double)],
    maxPieceLen: Int,
    unkLogProb: Double)
    extends UnaryExpression with Kernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_tokens"
  def kernel = Kernel.Static(UnigramOps, "encodeText",
    UnigramOps.buildTable(vocab), maxPieceLen, unkLogProb)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
