package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for `css_count(html, selector)` — parse the
  * document and count querySelectorAll matches without a ScalaUDF boundary,
  * keeping the whole projection inside one WholeStageCodegen span. It is
  * the only implementation of `css_count`: registered as `css_count_native`
  * by GraftExtensions and as `css_count` by HtmlFunctions.register.
  *
  * The parse goes through HtmlFunctions.parsed, a one-entry per-thread memo,
  * so a projection with several kernel-backed columns over the same HTML
  * parses each row once, not once per column; the compiled-selector cache
  * is shared with the UDF surface too.
  *
  * Column usage: register via GraftExtensions, then
  * `call_function("css_count_native", htmlCol, lit(selector))`.
  */
case class HtmlCssCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "css_count"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"css_count requires (string, string), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  // null HTML counts 0 matches (the kernel's null branch; the default
  // null-intercepting BinaryExpression eval would return NULL); a null
  // selector stays NULL.
  override def nullable: Boolean = right.nullable

  override def eval(input: InternalRow): Any = {
    val sel = right.eval(input)
    if (sel == null) null
    else {
      val html = left.eval(input)
      if (html == null) 0
      else HtmlCssCount.count(html.asInstanceOf[UTF8String],
        sel.asInstanceOf[UTF8String])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val htmlGen = left.genCode(ctx)
    val selGen = right.genCode(ctx)
    ev.copy(code = code"""
      ${selGen.code}
      boolean ${ev.isNull} = ${selGen.isNull};
      int ${ev.value} = 0;
      if (!${ev.isNull}) {
        ${htmlGen.code}
        if (!${htmlGen.isNull}) {
          ${ev.value} = graft.functions.HtmlCssCount.count(${htmlGen.value}, ${selGen.value});
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HtmlCssCount =
    copy(left = newLeft, right = newRight)
}

object HtmlCssCount {
  /** Static entry point shared by interpreted eval and generated code. */
  def count(html: UTF8String, sel: UTF8String): Int =
    HtmlFunctions.cssCountKernel(html.toString, sel.toString)
}
