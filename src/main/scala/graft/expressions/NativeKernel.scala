package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.ObjectType

/** The one shape of every graft Catalyst expression. A kernel declares
  * its SQL name (`prettyName`), `inputTypes`, `dataType`, constant
  * `state` and the static `helper` that computes it; this trait owns the
  * rest:
  *
  *   - type checking: Spark's [[ExpectsInputTypes]] over `inputTypes`;
  *   - evaluation: ONE [[StaticInvoke]] of `helper(children…, state…)`
  *     serves both the interpreted `eval` (reflection) and the generated
  *     code (a direct static call), so each kernel has exactly one
  *     implementation and the projection holding it stays inside
  *     whole-stage codegen. Int, Long and Boolean state is inlined as a
  *     literal; any other state (planes, coefficients, weights, word-set
  *     masks) is an object literal, which reaches the generated class
  *     through `ctx.addReferenceObj`;
  *   - nulls: a null input gives a null result without calling the
  *     helper, unless `nullInput` hands null inputs to the helper
  *     itself; `nullResult` declares a helper that returns a boxed value
  *     or null, and a null return is a null result (the one boxed-null
  *     branch).
  */
trait NativeKernel extends Expression with ExpectsInputTypes {
  /** The object holding the static helper, and the helper's name. */
  protected def helper: (AnyRef, String)
  /** Constant arguments passed after the children's values. */
  protected def state: Seq[Any] = Nil
  protected def nullInput: Boolean = false
  protected def nullResult: Boolean = false

  override def nullable: Boolean =
    nullResult || (!nullInput && children.exists(_.nullable))
  // the invoke keeps a per-instance argument buffer for `eval`, so an
  // interpreted projection takes a fresh copy, as it does for Spark's own
  override def stateful: Boolean = true

  @transient private lazy val invoke = StaticInvoke(helper._1.getClass,
    dataType, helper._2, children ++ state.map {
      case v @ (_: Int | _: Long | _: Boolean) => Literal(v)
      case v: AnyRef => Literal(v, ObjectType(v.getClass))
    }, propagateNull = !nullInput, returnNullable = nullResult)

  override def eval(input: InternalRow): Any = invoke.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.genCode(ctx)
}

/** Column API of the kernels: Spark 4's Column ↔ Expression converters
  * are private[sql], so every kernel is wrapped here, through the shim.
  */
object NativeKernel {
  def apply(c: Column)(k: Expression => NativeKernel): Column =
    column(k(expression(c)))
  def apply(a: Column, b: Column)(k: (Expression, Expression) => NativeKernel): Column =
    column(k(expression(a), expression(b)))
}
