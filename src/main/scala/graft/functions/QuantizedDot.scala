package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Fused quantize-and-dot kernel: `Σ_i floor(x_i·1e6) · q_i` over a float
  * vector column and a pre-quantized literal query — the relevance scan of
  * [[graft.ext.Mmr]]. Same [[NearestCellQ]] rationale: the composable
  * `aggregate(zip_with(quantize(v), lit(q), ...))` form walks interpreted
  * lambdas per element (measured 10 µs/vec at 1 M×64); this kernel is one
  * tight loop inside whole-stage codegen with the query as a plan
  * reference object, computing the IDENTICAL exact integers.
  */
object QuantizedDot {

  def compute(v: ArrayData, q: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < q.length) {
      s += math.floor(v.getFloat(i).toDouble * 1e6).toLong * q(i)
      i += 1
    }
    s
  }

  def quantized_dot(v: Column, q: Array[Long]): Column =
    Bridge.column(QuantizedDotExpr(Bridge.expression(v), q))
}

case class QuantizedDotExpr(child: Expression, q: Array[Long])
    extends UnaryExpression with Kernel {
  require(q.nonEmpty, "quantized_dot: empty query")

  // Strict array<float> contract: compute() reads 4-byte slots via
  // getFloat — an array<double> input would silently reinterpret half of
  // each 8-byte slot as garbage. Fail at analysis time instead.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantized_dot requires array<float> input, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "quantized_dot"
  def kernel = Kernel.Static(QuantizedDot, "compute", q)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
