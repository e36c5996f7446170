package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.ObjectType

/** The one home of row-kernel plumbing for the expressions in this
  * package. A kernel expression is a case class (its fields are the plan
  * node, so plan equality, cache matching and exchange reuse see only
  * them) that declares, once, the static method it runs per row:
  *
  * {{{
  * case class RedactExpr(child: Expression) extends UnaryExpression with Kernel {
  *   def kernel = Kernel.Static(TextKernels, "computeRedact")
  *   ...
  * }
  * }}}
  *
  * This trait builds one Spark `StaticInvoke` over `children ++ refs`, and
  * both interpreted `eval` and generated code forward to it, so the two
  * paths cannot drift apart. Generated code is one static call per row; a
  * reference argument (a model, weights, a word set) rides the generated
  * class as a reference object (`Literal` codegens an object value through
  * `addReferenceObj`), an `Int` or `Double` argument as a Java literal.
  *
  * Entry points take Catalyst's internal types: `UTF8String`, `ArrayData`,
  * `byte[]`, `InternalRow`, primitives. A null child yields null without a
  * call; a method that can return null itself sets `resultNullable`.
  */
trait Kernel extends Expression {

  /** The static method this expression runs per row. */
  def kernel: Kernel.Static

  /** True when the method can return null for non-null inputs. */
  protected def resultNullable: Boolean = false

  @transient private lazy val invoke: StaticInvoke = {
    val k = kernel
    StaticInvoke(k.owner.getClass, dataType, k.method,
      children ++ k.refs.map(Kernel.literal), returnNullable = resultNullable)
  }

  // StaticInvoke keeps per-instance argument buffers for interpreted
  // eval, so Spark must copy this expression rather than share it
  override def stateful: Boolean = true

  override def eval(input: InternalRow): Any = invoke.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.doGenCode(ctx, ev)
}

object Kernel {

  /** `owner.method(children..., refs...)`: `owner` is the Scala object
    * holding the method; `refs` follow the children as arguments.
    */
  final case class Static(owner: AnyRef, method: String, refs: Any*)

  private def literal(v: Any): Expression = v match {
    case i: Int => Literal(i)
    case d: Double => Literal(d)
    case o: AnyRef => Literal(o, ObjectType(o.getClass))
  }
}
