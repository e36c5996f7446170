package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Nearest centroid by EXACT integer squared-L2 over quantized (long)
  * vectors — the assignment kernel of [[graft.ext.Cluster]].
  *
  * The [[IvfCells]] shape applied to the oracle-certified k-means: the
  * centroid matrix is a plan reference object (model weights riding the
  * generated code), the per-row cost is one tight k×dim long loop inside
  * whole-stage codegen. The composable `zip_with`/`aggregate` form
  * evaluates interpreted lambdas per element — measured 264 µs/vec at
  * k=32×64 dims; this kernel removes that interpreter wall while
  * computing the IDENTICAL arithmetic: diff in long, product-sum in
  * double (every term exact below 2^53), ties to the lowest cell id.
  */
object NearestCellQ {

  /** argmin cell id; `ids(c)` maps matrix row → cell id (cells can drop
    * out across Lloyd rounds, so ids need not be 0..k-1).
    */
  def compute(v: ArrayData, cents: Array[Array[Long]], ids: Array[Long]): Long = {
    val dim = v.numElements()
    var best = 0
    var bestDist = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0
      var i = 0
      while (i < dim) {
        val diff = (v.getLong(i) - cent(i)).toDouble
        d += diff * diff
        i += 1
      }
      // strict <: first (lowest-id, ids sorted ascending) wins ties —
      // the oracle's ORDER BY dist, cell
      if (d < bestDist) { bestDist = d; best = c }
      c += 1
    }
    ids(best)
  }

  def nearest_cell_q(v: Column, cents: Seq[(Long, Array[Long])]): Column = {
    val sorted = cents.sortBy(_._1)
    Bridge.column(NearestCellQExpr(Bridge.expression(v),
      sorted.map(_._2).toArray, sorted.map(_._1).toArray))
  }
}

case class NearestCellQExpr(
    child: Expression,
    cents: Array[Array[Long]],
    ids: Array[Long])
    extends UnaryExpression with Kernel {
  require(cents.nonEmpty && cents.length == ids.length,
    "nearest_cell_q: empty or mismatched centroid set")

  // Strict array<bigint> contract: compute() reads 8-byte slots via
  // getLong — any other numeric array would reinterpret raw bytes.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell_q requires array<bigint> input, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_cell_q"
  def kernel = Kernel.Static(NearestCellQ, "compute", cents, ids)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
