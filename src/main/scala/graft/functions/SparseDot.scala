package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructType}

/** Sparse-feature dot product `Σ_j w(i_j) · x_j` over a compact
  * `array<struct<i:int, x:double>>` feature row with the weight vector as
  * a plan reference object — the per-row margin of
  * [[graft.ext.Classifier.train]].
  *
  * Same rationale as [[NearestCellQ]]/[[QuantizedDot]]: the composable
  * `aggregate(_f, 0.0, (acc, f) => acc + element_at(wLit, f.i + 1) * f.x)`
  * form walks an interpreted lambda per element AND materializes the
  * dim+1-long weight literal through a Catalyst `element_at` per feature
  * (measured as the top bench cost — 5.04 s of q_classifier_train at
  * sf0.1). This kernel is one tight loop inside whole-stage codegen
  * computing the IDENTICAL left-to-right double sum, so the trained model
  * stays bit-identical to the HOF form.
  */
object SparseDot {

  def compute(v: ArrayData, w: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    val n = v.numElements()
    while (j < n) {
      val f = v.getStruct(j, 2)
      s += w(f.getInt(0)) * f.getDouble(1)
      j += 1
    }
    s
  }

  def sparse_dot_w(f: Column, w: Array[Double]): Column =
    Bridge.column(SparseDotW(Bridge.expression(f), w))
}

case class SparseDotW(child: Expression, w: Array[Double])
    extends UnaryExpression with Kernel {
  require(w.nonEmpty, "sparse_dot_w: empty weight vector")

  // Strict array<struct<int, double>> contract — compute() reads the
  // struct slots positionally.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 2 && st(0).dataType == IntegerType &&
          st(1).dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sparse_dot_w requires array<struct<i:int,x:double>>, got ${other.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sparse_dot_w"
  def kernel = Kernel.Static(SparseDot, "compute", w)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
