package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece greedy segmentation kernel — serve side of
  * [[graft.ext.WordPiece]]. One map-only pass per document: each
  * whitespace word is segmented longest-match-first against the trained
  * vocabulary (a plan-resident reference object); a word with no viable
  * split contributes one `[UNK]`. Emits the curation-relevant accounting
  * (piece and UNK counts) without materializing a piece array per row.
  */
object WordPieceOps {

  /** Greedy longest-match-first pieces of one word; `Seq("[UNK]")` if the
    * word cannot be covered. Continuation pieces carry the `##` prefix.
    */
  def segment(word: String, vocab: Set[String]): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    while (start < word.length) {
      var end = word.length
      var found: String = null
      while (found == null && end > start) {
        // a candidate that splits a surrogate pair simply never matches:
        // vocab pieces from well-formed words contain full pairs only
        val sub = word.substring(start, end)
        val cand = if (start == 0) sub else "##" + sub
        if (vocab.contains(cand)) found = cand
        else end -= 1
      }
      if (found == null) return Seq("[UNK]")
      out += found
      start = end
    }
    out.toSeq
  }

  /** Exactly the train-time word boundary: the Java-regex default `\s`
    * class used by `Bpe.wordHistogram`'s `split(text, "\\s+")`. NOT
    * `Character.isWhitespace` — the two disagree on Unicode whitespace
    * (U+2028/U+2029, U+001C–1F), and a word seen whole at train time must
    * never split differently at serve time (it would emit spurious
    * `[UNK]`s on non-ASCII corpora).
    */
  @inline def isWordBreak(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** (n_pieces, n_unk) over all whitespace words of `text`. */
  def computeStats(text: UTF8String, vocab: java.util.HashSet[String]): InternalRow = {
    val s = text.toString
    var pieces = 0L
    var unk = 0L
    var from = 0
    val len = s.length
    while (from <= len) {
      var to = from
      while (to < len && !isWordBreak(s.charAt(to))) to += 1
      if (to > from) {
        val word = s.substring(from, to)
        var start = 0
        var dead = false
        var wordPieces = 0L
        while (start < word.length && !dead) {
          var end = word.length
          var hit = -1
          while (hit < 0 && end > start) {
            val cand =
              if (start == 0) word.substring(start, end)
              else "##" + word.substring(start, end)
            if (vocab.contains(cand)) hit = end else end -= 1
          }
          if (hit < 0) dead = true
          else { wordPieces += 1; start = hit }
        }
        if (dead) { pieces += 1; unk += 1 }
        else pieces += wordPieces
      }
      from = to + 1
    }
    InternalRow(pieces, unk)
  }

  def wordpiece_stats(text: Column, vocab: Seq[String]): Column =
    Bridge.column(WordPieceStats(Bridge.expression(text), vocab))
}

case class WordPieceStats(child: Expression, vocab: Seq[String])
    extends UnaryExpression with Kernel {
  require(vocab.nonEmpty, "wordpiece_stats: empty vocabulary")

  override def dataType: DataType = StructType(Seq(
    StructField("n_pieces", LongType, nullable = false),
    StructField("n_unk", LongType, nullable = false)))
  override def prettyName: String = "wordpiece_stats"
  def kernel = Kernel.Static(WordPieceOps, "computeStats",
    new java.util.HashSet[String](vocab.asJava))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
