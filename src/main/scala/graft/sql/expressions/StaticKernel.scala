package graft.sql.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}

/** The shape of the static-compute kernels. A kernel's work is one static
  * `compute` on its companion object, called by `nullSafeEval` directly
  * and by the generated code through `call` — the same method on both
  * arms, so eval/codegen parity is structural. The base owns the rest:
  * input-type checking against `inputTypes`, null in → null out, and the
  * `defineCodeGen` call.
  */
trait StaticKernel extends ExpectsInputTypes {
  override def nullIntolerant: Boolean = true
}

/** A one-input [[StaticKernel]]; string input unless `inputTypes` says
  * otherwise.
  */
abstract class UnaryKernel extends UnaryExpression with StaticKernel {
  override def inputTypes: Seq[DataType] = Seq(StringType)

  /** Java source of the `compute` call on the child's value `c`. */
  protected def call(ctx: CodegenContext, c: String): String

  /** `compute` returns null for an empty input, so the result is nullable
    * whatever the child's nullability, and generated code tests it.
    */
  protected def nullOnEmpty: Boolean = false

  override def nullable: Boolean = nullOnEmpty || child.nullable

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!nullOnEmpty) defineCodeGen(ctx, ev, call(ctx, _))
    else nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""${CodeGenerator.boxedType(dataType)} $r = ${call(ctx, c)};
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r;
         |}""".stripMargin
    })
}

/** A two-input [[StaticKernel]]. */
abstract class BinaryKernel extends BinaryExpression with StaticKernel {
  /** Java source of the `compute` call on the children's values. */
  protected def call(l: String, r: String): String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, call)
}
