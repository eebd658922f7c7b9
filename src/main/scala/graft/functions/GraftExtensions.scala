package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the native Catalyst
  * expressions for the pure-SQL surface.
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * (or call GraftExtensions.register(spark) on an existing session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.htmlUnescapeDescriptor)
    ext.injectFunction(GraftExtensions.cssCountDescriptor("css_count_native"))
  }
}

object GraftExtensions {
  private type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private[functions] val htmlUnescapeDescriptor: Descriptor = (
    FunctionIdentifier("html_unescape_native"),
    new ExpressionInfo(classOf[HtmlUnescape].getCanonicalName, "html_unescape_native"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        s"html_unescape_native expects exactly 1 argument, got ${children.length}")
      HtmlUnescape(children.head)
    })

  /** HtmlCssCount under the SQL name `name`: `css_count_native` here, and
    * `css_count` through HtmlFunctions.register.
    */
  private[functions] def cssCountDescriptor(name: String): Descriptor = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[HtmlCssCount].getCanonicalName, name),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"$name expects exactly 2 arguments, got ${children.length}")
      HtmlCssCount(children.head, children(1))
    })

  /** Runtime registration on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    registerOne(spark, htmlUnescapeDescriptor)
    registerOne(spark, cssCountDescriptor("css_count_native"))
  }

  private[functions] def registerOne(spark: org.apache.spark.sql.SparkSession, d: Descriptor): Unit =
    spark.sessionState.functionRegistry.registerFunction(d._1, d._2, d._3)
}
