package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for HTML entity decoding — stays inside
  * whole-stage codegen (no UDF serialization boundary), and is the one
  * implementation behind both SQL names, `html_unescape`
  * (HtmlFunctions.register) and `html_unescape_native` (GraftExtensions).
  * The heavy lifting is a static call into the kernel codec
  * (graft.kernel.Entities ≡ html-entities@2.3.2). Null in gives null out;
  * a non-string argument is rejected at analysis.
  *
  * Column usage: register via GraftExtensions, then
  * `functions.call_function("html_unescape_native", col)`.
  */
case class HtmlUnescape(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "html_unescape"

  override def checkInputDataTypes(): TypeCheckResult =
    // NullType: a bare SQL NULL, which evaluates to null without a decode
    if (child.dataType == StringType || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_unescape requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.kernel.Entities.decode(input.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.kernel.Entities.decode($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): HtmlUnescape =
    copy(child = newChild)
}
