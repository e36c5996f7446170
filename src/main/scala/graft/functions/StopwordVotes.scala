package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused stopword-vote language ID: text → `struct<lang, score>` in ONE
  * pass over the tokens.
  *
  * Why: the composable form (per-language `size(filter(split(text), t ->
  * t IN (...)))` HOF columns folded through `array_max`) evaluates
  * 2×|languages| interpreted lambda filters per row, re-splitting the
  * text each time — the language-ID analog of the shingling cost the
  * fused MinHash kernels eliminated ([[MinHashText]]). Here every token
  * is looked up ONCE in a prebuilt stopword→language-bitmask table and
  * all language counters advance together.
  *
  * Output is semantics-identical to the composable form (and to the
  * DuckDB oracle that replays it): winner = max score, ties broken to
  * the lexicographically LARGEST language code — exactly `array_max`
  * over `struct(score, lang)`.
  */
object StopwordVotes {

  /** Immutable vote model: serialized with the plan, injected into
    * generated code via `addReferenceObj` (same broadcast-the-model shape
    * as [[IvfCells]]' centroid matrix).
    */
  final class Model(langsIn: Seq[(String, Seq[String])]) extends Serializable {
    // ascending code order makes "last max wins" == lexicographic tiebreak
    private val langs: Array[String] = langsIn.map(_._1).sorted.toArray
    private val masks = new java.util.HashMap[String, java.lang.Long]()
    langsIn.foreach { case (lang, words) =>
      val bit = 1L << langs.indexOf(lang)
      words.foreach { w =>
        val prev = masks.get(w)
        masks.put(w, if (prev == null) bit else prev | bit)
      }
    }
    @transient private lazy val langU8: Array[UTF8String] =
      langs.map(UTF8String.fromString)

    def compute(text: UTF8String): InternalRow = {
      val s = text.toString
      val counts = new Array[Int](langs.length)
      var from = 0
      val len = s.length
      while (from <= len) {
        var to = s.indexOf(' ', from)
        if (to < 0) to = len
        val m = masks.get(s.substring(from, to))
        if (m != null) {
          var bits = m.longValue()
          while (bits != 0) {
            val i = java.lang.Long.numberOfTrailingZeros(bits)
            counts(i) += 1
            bits &= bits - 1
          }
        }
        from = to + 1
      }
      var best = 0
      var i = 1
      while (i < counts.length) {
        if (counts(i) >= counts(best)) best = i // ties → larger code wins
        i += 1
      }
      InternalRow(langU8(best), counts(best))
    }
  }

  /** The static kernel of [[StopwordVotesExpr]]. */
  def compute(text: UTF8String, model: Model): InternalRow = model.compute(text)

  def stopword_votes(text: Column, langs: Seq[(String, Seq[String])]): Column =
    Bridge.column(StopwordVotesExpr(Bridge.expression(text), langs))
}

case class StopwordVotesExpr(child: Expression, langs: Seq[(String, Seq[String])])
    extends UnaryExpression with Kernel {
  override def dataType: DataType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("score", IntegerType, nullable = false)))
  override def prettyName: String = "stopword_votes"
  def kernel = Kernel.Static(StopwordVotes, "compute", new StopwordVotes.Model(langs))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
