package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import graft.kernel._

/** Column-level surface over the per-document kernel.
  *
  * These are Scala UDFs wrapping the kernel: HTML parsing is a black-box
  * per-row computation that no Catalyst rule could fold. Catalyst evaluates
  * each column of a projection on its own, so without `parsed` a row with
  * several kernel-backed columns over the same HTML would be parsed once
  * per column, which costs far more than the row codec. `css_count` is the
  * native expression HtmlCssCount, which parses through `parsed` too, and
  * `html_unescape` is the native expression HtmlUnescape, which stays
  * inside codegen.
  *
  * Selectors are compiled once per executor (cache keyed by selector string)
  * — the analog of the reference compiling a Matcher once per query
  * (reference src/index.ts:408).
  */
object HtmlFunctions extends Serializable {

  @transient private lazy val selectorCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[SelectorPart]]]()

  /** Compile a comma-union selector once per executor (the analog of the
    * reference compiling a Matcher once per query) — without this every UDF
    * row would recompile its selector string.
    */
  private def compiled(sel: String): Array[Array[SelectorPart]] = {
    var p = selectorCache.get(sel)
    if (p == null) {
      p = Query.compileUnion(sel)
      selectorCache.putIfAbsent(sel, p)
    }
    p
  }

  private final class LastParse {
    var html: String = null
    var root: Element = null
  }

  @transient private lazy val lastParse = ThreadLocal.withInitial[LastParse](() => new LastParse)

  /** The parse tree of `html` (non-null), shared by the read-only functions
    * below. Spark evaluates one row's columns in turn on one task thread,
    * both in a codegen Project and for ScalaUDFs, so a one-entry memo per
    * thread lets every kernel-backed column of a row reuse one parse. The
    * tree is reused only when the content is equal (`String.equals`, which
    * returns at once on the same object), so a stale tree is never returned.
    * The key is the Java String each caller already holds: a UTF8String may
    * point into a row buffer that Spark reuses for the next row.
    *
    * Memory: at most one tree per task thread, replaced on that thread's
    * next call; no more than a call in flight already holds.
    *
    * Callers must not mutate the tree. Checked for each caller: `valid`,
    * `structuredText`, `toHtml`, `text` and the matcher only read it.
    * Matching and `attributes` fill the lazy `_attrs`/`_rawAttrs` caches,
    * which come out the same on every call. `mutateDemo` (removeWhitespace,
    * setAttribute) and `mainContent` (Boilerplate strips subtrees) mutate
    * and so parse privately.
    */
  private[functions] def parsed(html: String): Element = {
    val m = lastParse.get
    if (html == m.html) m.root
    else {
      val root = HtmlParser.parse(html)
      m.html = html
      m.root = root
      root
    }
  }

  // ---- scalar kernel ops ----

  val htmlValid = udf { (html: String) =>
    if (html == null) false else parsed(html).valid
  }

  val htmlText = udf { (html: String) =>
    if (html == null) null else parsed(html).structuredText
  }

  val htmlOuter = udf { (html: String) =>
    if (html == null) null else parsed(html).toHtml
  }

  /** Kernel entry of the native HtmlCssCount expression (SQL `css_count`). */
  private[functions] def cssCountKernel(html: String, selector: String): Int =
    if (html == null) 0
    else Query.querySelectorAll(parsed(html), compiled(selector)).length

  /** querySelector (first match, comma parts left-to-right) decoded text. */
  val cssFirstText = udf { (html: String, selector: String) =>
    if (html == null) null
    else Query.querySelector(parsed(html), compiled(selector)).map(_.text).orNull
  }

  /** Attribute of the first match, decoded. */
  val cssFirstAttr = udf { (html: String, selector: String, attr: String) =>
    if (html == null) null
    else
      Query.querySelector(parsed(html), compiled(selector))
        .flatMap(e => Option(e.attributes.get(attr))).orNull
  }

  /** removeWhitespace + setAttribute + serialize — the mutation pipeline as
    * one column op (used by the mutation oracle query). Mutates its tree, so
    * it parses its own rather than going through `parsed`.
    */
  val mutateDemo = udf { (html: String, key: String, value: String) =>
    if (html == null) null
    else {
      val root = HtmlParser.parse(html)
      root.removeWhitespace()
      root.children.headOption.foreach(_.setAttribute(key, value))
      root.toHtml
    }
  }

  /** Boilerplate-stripped main-content extraction (kernel heuristics —
    * graft.kernel.Boilerplate): one parse per row, returns
    * struct(main_text, n_stripped).
    */
  val mainContent = udf { (html: String) =>
    if (html == null) null else Boilerplate.mainContent(html)
  }

  /** Register everything for the pure-SQL surface. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("html_valid", htmlValid)
    spark.udf.register("html_text", htmlText)
    spark.udf.register("html_outer", htmlOuter)
    GraftExtensions.registerOne(spark, GraftExtensions.cssCountDescriptor("css_count"))
    spark.udf.register("css_first_text", cssFirstText)
    spark.udf.register("css_first_attr", cssFirstAttr)
    GraftExtensions.registerOne(spark, GraftExtensions.htmlUnescapeDescriptor("html_unescape"))
    spark.udf.register("main_content", mainContent)
  }
}
