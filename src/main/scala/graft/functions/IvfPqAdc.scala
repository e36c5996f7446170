package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Residual-encoded IVFADC scoring kernels (Jégou et al., TPAMI 2011
  * §IV — the "IVFADC" variant; FAISS's `IVFx,PQy` layout).
  *
  * A vector is stored as (cell, packed residual code): x̂ = c + r̂ where
  * c is the coarse centroid of its IVF cell and r̂ the PQ reconstruction
  * of x − c. Cosine against a query q decomposes over the orthogonal
  * subspaces into pure table lookups:
  *
  *   ⟨q, x̂⟩ = ⟨q, c⟩ + Σ_j ⟨q_j, cw_j⟩
  *   ‖x̂‖²  = ‖c‖² + Σ_j (2⟨c_j, cw_j⟩ + ‖cw_j‖²)
  *
  * — exact for the reconstruction. ⟨q_j, cw_j⟩ is cell-INDEPENDENT (one
  * m×codes table per query); the norm term is cell-dependent (one table
  * per probed cell). All tables are driver-built per query into one
  * [[IvfAdcModel]], shipped to executors as a single plan reference
  * object (`addReferenceObj`, the [[NearestCell]] pattern) — so an
  * nprobe-cell scan is ONE codegen'd map over the probed partitions, no
  * literal-array blowup, no join, no shuffle.
  */
object IvfPqAdc {

  /** ADC cosine of the reconstruction x̂ = c_cell + r̂(packed) vs the
    * model's query. Rows from unprobed cells (cellPos −1 — possible only
    * if the caller forgot the probe filter) and degenerate norms score
    * 0.0, matching [[CosineSimilarity]]'s zero-vector convention.
    */
  def score(packed: Long, cell: Int, m: IvfAdcModel): Double = {
    val p = if (cell >= 0 && cell < m.cellPos.length) m.cellPos(cell) else -1
    if (p < 0 || m.qNorm == 0.0) return 0.0
    var ip = m.ipBase(p)
    var n2 = m.n2Base(p)
    val mask = (1L << m.bits) - 1
    val lutN2P = m.lutN2(p)
    var j = 0
    while (j < m.lutIp.length) {
      val code = ((packed >>> (j * m.bits)) & mask).toInt
      ip += m.lutIp(j)(code)
      n2 += lutN2P(j)(code)
      j += 1
    }
    if (n2 <= 0.0) 0.0 else ip / (math.sqrt(n2) * m.qNorm)
  }

  /** vec − centroids(cell), elementwise in float — the residual the PQ
    * codebooks are trained on and encode.
    */
  def residual(v: ArrayData, cell: Int, cents: Array[Array[Float]]): ArrayData = {
    val vec = v.toFloatArray()
    val c = cents(cell)
    val n = math.min(vec.length, c.length)
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = vec(i) - c(i); i += 1 }
    new GenericArrayData(out)
  }

  def ivf_adc_score(code: Column, cell: Column, model: IvfAdcModel): Column =
    Bridge.column(IvfAdcScore(
      Bridge.expression(code), Bridge.expression(cell), model))

  def cell_residual(vec: Column, cell: Column, centroids: Seq[Seq[Float]]): Column =
    Bridge.column(CellResidual(
      Bridge.expression(vec), Bridge.expression(cell), centroids))
}

/** Driver-built per-query lookup model: `cellPos` maps a cell id to its
  * probed position (−1 = unprobed); `ipBase`/`n2Base` are ⟨q,c⟩ and ‖c‖²
  * per probed cell; `lutIp(j)(code)` = ⟨q_j, codeword⟩ (query-only);
  * `lutN2(p)(j)(code)` = 2⟨c_j, codeword⟩ + ‖codeword‖² (per probed
  * cell). Total size ≈ (nprobe + 1) × m × codes doubles — model-sized,
  * never data-sized.
  */
case class IvfAdcModel(
    cellPos: Array[Int],
    ipBase: Array[Double],
    n2Base: Array[Double],
    lutIp: Array[Array[Double]],
    lutN2: Array[Array[Array[Double]]],
    bits: Int,
    qNorm: Double)

case class IvfAdcScore(left: Expression, right: Expression, model: IvfAdcModel)
    extends BinaryExpression with Kernel {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "ivf_adc_score"
  def kernel = Kernel.Static(IvfPqAdc, "score", model)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class CellResidual(left: Expression, right: Expression, centroids: Seq[Seq[Float]])
    extends BinaryExpression with Kernel {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "ivf_cell_residual"
  def kernel = Kernel.Static(IvfPqAdc, "residual", IvfCells.matrix(centroids))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
