package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Product-quantization encoder (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): a `dim`-float vector is split
  * into `m` contiguous sub-vectors; each sub-vector is assigned to its
  * L2-nearest codeword in that subspace's trained codebook; the `m` code
  * indices are PACKED into one BIGINT (`bitsPerCode` bits each, subspace 0
  * in the low bits). A 64-dim float embedding (256 B raw) becomes 8 bytes —
  * the 32× compression that makes a 100 TB embedding corpus scannable from
  * a table a fraction of its size.
  *
  * Assignment minimizes L2 reconstruction error (the textbook objective):
  * sub-vectors decompose orthogonally, so the reconstruction x̂ satisfies
  * ‖x̂‖² = Σ_j ‖codeword_j‖² and ⟨q, x̂⟩ = Σ_j ⟨q_j, codeword_j⟩ exactly —
  * which is what lets ADC scoring (graft.ext.Pq) evaluate approximate
  * cosine from per-subspace lookup tables alone.
  *
  * The codebook tensor is an expression PARAMETER (the trained model,
  * m × codes × dim/m floats — small), serialized with the plan and
  * injected into generated code via `addReferenceObj`, exactly like
  * [[NearestCell]]: a full-corpus encode scan is one codegen'd loop per
  * row with the model resident in memory.
  *
  * Determinism: ties keep the LOWEST code index; a NaN component makes a
  * codeword's distance +Infinity (it loses to every real codeword), and a
  * NaN in the VECTOR makes every distance NaN → +Infinity-equivalent, so
  * code 0 wins deterministically rather than scan-order-dependently.
  */
object PqCodes {

  /** Squared L2 distance with NaN → +Infinity (deterministic loser). */
  private def dist2(vec: Array[Float], off: Int, cw: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < cw.length) {
      val d = vec(off + i).toDouble - cw(i).toDouble
      s += d * d
      i += 1
    }
    if (java.lang.Double.isNaN(s)) Double.PositiveInfinity else s
  }

  /** Packed PQ code word for one vector. `books(j)(c)` = codeword c of
    * subspace j; every codeword has length vec.length / books.length.
    * A vector shorter than the codebooks' implied dim reads as if
    * zero-padded is NOT supported — caller guarantees consistent dim.
    */
  def computePacked(v: ArrayData, books: Array[Array[Array[Float]]], bitsPerCode: Int): Long = {
    val vec = v.toFloatArray()
    val m = books.length
    val sub = if (m == 0) 0 else books(0)(0).length
    var packed = 0L
    var j = 0
    while (j < m) {
      val bj = books(j)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < bj.length) {
        val d = dist2(vec, j * sub, bj(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      packed |= best.toLong << (j * bitsPerCode)
      j += 1
    }
    packed
  }

  def pq_encode(vec: Column, codebooks: Seq[Seq[Seq[Float]]], bitsPerCode: Int): Column =
    Bridge.column(PqEncode(Bridge.expression(vec), codebooks, bitsPerCode))
}

case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Float]]], bitsPerCode: Int)
    extends UnaryExpression with Kernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_encode"
  def kernel = Kernel.Static(PqCodes, "computePacked",
    codebooks.map(_.map(_.toArray).toArray).toArray, bitsPerCode)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
