package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused hashed-bag-of-words scoring kernel — the production serve path
  * of [[graft.ext.Classifier]] (fastText-style gate: tokenize → hash →
  * mean weight → sigmoid) as ONE codegen'd map-only pass per document.
  *
  * The composable form (`aggregate(transform(split(...), tok =>
  * element_at(w, pmod(xxhash64(tok), dim) + 1)), ...)`) walks an
  * interpreted lambda per token and materializes the token array — at
  * corpus-gating scale that interpreter wall is the whole job. This
  * kernel computes the IDENTICAL arithmetic: the same single-space
  * split as `Classifier.toks`, `XXH64.hashUTF8String(tok, 42)` (exactly
  * the SQL `xxhash64`), the same positive-mod bucket, the same
  * left-to-right double sum, one division, `sigmoid(bias + mean)` — so
  * the scores are bit-equal to the declarative form (property-tested in
  * ClassifierSpec).
  */
object ScoreHashed {

  /** (n_toks, score) for one document; score is NaN when n_toks == 0
    * (callers filter empty docs, as [[graft.ext.Classifier.score]] does).
    */
  def compute(text: UTF8String, w: Array[Double], dim: Int): InternalRow = {
    val s = text.toString
    val bias = w(dim)
    var sum = 0.0
    var n = 0L
    var from = 0
    val len = s.length
    while (from <= len) {
      var to = from
      while (to < len && s.charAt(to) != ' ') to += 1
      if (to > from) {
        val h = XXH64.hashUTF8String(
          UTF8String.fromString(s.substring(from, to)), 42L)
        val m = h % dim
        val bucket = (if (m < 0) m + dim else m).toInt
        sum += w(bucket)
        n += 1
      }
      from = to + 1
    }
    val z = bias + sum / n
    // StrictMath, not math.exp: Spark SQL's exp() is StrictMath.exp —
    // the JVM intrinsic differs by 1 ulp, which breaks bit-parity with
    // the declarative form (and platform reproducibility)
    InternalRow(n, 1.0 / (1.0 + java.lang.StrictMath.exp(-z)))
  }

  def score_hashed(text: Column, w: Array[Double], dim: Int): Column =
    Bridge.column(ScoreHashedExpr(Bridge.expression(text), w, dim))
}

case class ScoreHashedExpr(child: Expression, w: Array[Double], dim: Int)
    extends UnaryExpression with Kernel {
  require(dim > 0 && w.length == dim + 1,
    s"score_hashed: weights must be dim+1 (${dim + 1}), got ${w.length}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_toks", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  override def prettyName: String = "score_hashed"
  def kernel = Kernel.Static(ScoreHashed, "compute", w, dim)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
