package org.apache.spark.sql.catalyst.expressions.codegen

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge exposing the codegen context's package-private common
  * subexpressions to graft's expressions, the same-package pattern as
  * `GraftColumnBridge`. */
object GraftCodegenBridge {

  /** The local variables of the current whole-stage method that the
    * code generated for `e` reads: the stage's inputs and the common
    * subexpressions evaluated before it. */
  def localInputs(ctx: CodegenContext, e: Expression): Set[VariableValue] =
    CodeGenerator.getLocalInputVariableValues(ctx, e, ctx.subExprEliminationExprs)._1
}
