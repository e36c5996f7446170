package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** 8-bit scalar quantization (FAISS's `SQ8`): each dimension is affinely
  * mapped to one byte against trained per-dimension [min, max] bounds —
  * x̂_i = min_i + (b_i / 255)(max_i − min_i). A 64-dim float vector
  * (256 B) becomes 64 B: 4× compression with near-exact recall, the
  * cheap-and-simple point on the compression curve PQ (32×, lossier)
  * anchors from the other end.
  *
  * The trained bounds are expression PARAMETERS injected via
  * `addReferenceObj` ([[NearestCell]] pattern). Determinism: quantization
  * rounds half-up in double; a degenerate dimension (max == min)
  * reconstructs min exactly (step 0); NaN input components clamp to byte
  * 0 (they compare false to everything, so the `v > lo` guard fails —
  * deterministic, not scan-order-dependent).
  */
object Sq8 {

  /** byte code for one component: clamp(round(255 (v−lo)/(hi−lo))). */
  def encodeComponent(v: Double, lo: Double, hi: Double): Int = {
    if (!(hi > lo)) return 0 // degenerate or NaN bounds: everything -> 0
    if (!(v > lo)) return 0 // below range or NaN
    if (v >= hi) return 255
    val b = math.round(255.0 * (v - lo) / (hi - lo)).toInt
    if (b < 0) 0 else if (b > 255) 255 else b
  }

  def encodeVec(v: ArrayData, lo: Array[Float], hi: Array[Float]): Array[Byte] = {
    val vec = v.toFloatArray()
    val n = math.min(vec.length, lo.length)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      out(i) = encodeComponent(vec(i), lo(i), hi(i)).toByte
      i += 1
    }
    out
  }

  /** Cosine of the query against the reconstruction, straight off the
    * byte codes: ⟨q, x̂⟩ and ‖x̂‖² accumulate in one pass with
    * x̂_i = lo_i + b_i·step_i. `qDotLo`, `qStep(i) = q_i·step_i` etc. are
    * driver-precomputed in [[Sq8Model]] so the per-row loop is one
    * multiply-add pair per byte.
    */
  def score(code: Array[Byte], m: Sq8Model): Double = {
    if (m.qNorm == 0.0) return 0.0
    var ip = 0.0
    var n2 = 0.0
    var i = 0
    val n = math.min(code.length, m.lo.length)
    while (i < n) {
      val b = code(i) & 0xff
      val x = m.lo(i) + b * m.step(i)
      ip += m.q(i) * x
      n2 += x * x
      i += 1
    }
    if (n2 <= 0.0) 0.0 else ip / (math.sqrt(n2) * m.qNorm)
  }

  def sq8_encode(vec: Column, lo: Seq[Float], hi: Seq[Float]): Column =
    Bridge.column(Sq8Encode(Bridge.expression(vec), lo, hi))

  def sq8_score(code: Column, model: Sq8Model): Column =
    Bridge.column(Sq8Score(Bridge.expression(code), model))
}

/** Driver-built per-query scoring model: trained bounds as (lo, step)
  * per dimension plus the query in double — model-sized (3·dim doubles).
  */
case class Sq8Model(
    lo: Array[Double],
    step: Array[Double],
    q: Array[Double],
    qNorm: Double)

case class Sq8Encode(child: Expression, loB: Seq[Float], hiB: Seq[Float])
    extends UnaryExpression with Kernel {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "sq8_encode"
  def kernel = Kernel.Static(Sq8, "encodeVec", loB.toArray, hiB.toArray)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class Sq8Score(child: Expression, model: Sq8Model)
    extends UnaryExpression with Kernel {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_score"
  def kernel = Kernel.Static(Sq8, "score", model)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
