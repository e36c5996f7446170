package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two float vectors.
  *
  * Why an expression and not a Scala UDF (the SURVEY §4.3 "only if
  * profiling demands" case — it does for 100 TB similarity scans): a UDF
  * forces deserialization of the array into boxed Scala objects per row;
  * this expression reads the unsafe `ArrayData` buffers directly and
  * participates in whole-stage codegen, so a brute-force scan stays one
  * tight generated loop per row batch.
  *
  * Accumulation is in double with elements widened before multiply — keeps
  * results consistent with a reference double-precision implementation
  * over float inputs. Inputs are expected to be `array<float>` columns
  * (the `embeddings.embedding` type).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.compute(
      l.asInstanceOf[ArrayData].toFloatArray(),
      r.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.CosineSimilarity.compute(" +
        s"$l.toFloatArray(), $r.toFloatArray());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  def compute(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var i = 0; var dot = 0.0; var na = 0.0; var nb = 0.0
    while (i < n) {
      val av = a(i).toDouble; val bv = b(i).toDouble
      dot += av * bv; na += av * av; nb += bv * bv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Dot product twin of [[CosineSimilarity]] (for pre-normalized vectors the
  * dot IS the cosine — one multiply-add per element, no sqrt).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any =
    DotProduct.compute(
      l.asInstanceOf[ArrayData].toFloatArray(),
      r.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.DotProduct.compute(" +
        s"$l.toFloatArray(), $r.toFloatArray());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def compute(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var i = 0; var dot = 0.0
    while (i < n) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    dot
  }
}

object functions {
  /** Column-level API for the custom expressions. */
  def cosine_similarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
}
